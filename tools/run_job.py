"""spark-submit entry point (BASELINE.json north_rule: "runs via
spark-submit --py-files on multi-executor clusters").

Usage:
    ZIP=$(python -c "from ldtab_clj_spark.session import _package_zip; \
print(_package_zip())")     # content-hash-named package zip
    spark-submit --py-files "$ZIP" tools/run_job.py [n_docs] [out_path]

On a cluster, point --master at YARN/K8s; the job itself is
master-agnostic (no local-path assumptions beyond out_path).
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    out = sys.argv[2] if len(sys.argv) > 2 else None

    spark = (SparkSession.builder.appName("ldtab-kg-construct")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())

    # the package arrives via --py-files; import AFTER session start
    from ldtab_clj_spark.operators.materialize import write_statements
    from ldtab_clj_spark.plans.pipeline import run_pipeline

    statements = run_pipeline(spark, n_docs=n_docs, seed=42)
    if out:
        info = write_statements(statements, out)
        print(f"wrote {info['rows']} statements to {out}")
    else:
        print(f"statements: {statements.count()}")
    spark.stop()


if __name__ == "__main__":
    main()
