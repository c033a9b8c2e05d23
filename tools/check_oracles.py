"""Dev harness: run every queries() entry against its DuckDB oracle
(row count + sorted-value comparison) at a given sf dir. Mirrors the
driver's CORRECTNESS check so mismatches surface before round end.

Usage: python tools/check_oracles.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from ldtab_clj_spark.queries import TABLES  # noqa: E402
from ldtab_clj_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def norm_rows(df, cols):
    cols = sorted(cols)
    return sorted(tuple(norm_cell(r[c]) for c in cols)
                  for _, r in df.iterrows())


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    from ldtab_clj_spark.queries import ALL_QUERIES, ORACLE_SQL
    # driver entries run through the entry-module wrapper (package
    # shipping); displaced twins stay oracle-checked here too
    qs = dict(entrymod.queries())
    qs.update({k: v for k, v in ALL_QUERIES.items() if k not in qs})
    oracles = dict(ORACLE_SQL)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).df() if name in oracles else None
        except Exception as ex:
            print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:300]}")
            failures += 1
            continue
        if odf is None:
            print(f"skip {name}: no oracle (rows={len(sdf)})")
            continue
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            failures += 1
            continue
        # dtype drift (e.g. DuckDB HUGEINT → float64 vs Spark bigint)
        # breaks the driver's value hash even when values are equal
        dt_bad = [(c, str(sdf[c].dtype), str(odf[c].dtype))
                  for c in scols
                  if sdf[c].dtype.kind != odf[c].dtype.kind
                  and {sdf[c].dtype.kind, odf[c].dtype.kind} != {"O", "b"}]
        if dt_bad:
            print(f"FAIL {name}: dtype drift {dt_bad}")
            failures += 1
            continue
        if len(sdf) != len(odf):
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            failures += 1
            continue
        a, b = norm_rows(sdf, scols), norm_rows(odf, ocols)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ, e.g. {diff}")
            failures += 1
            continue
        print(f"ok   {name}: rows={len(sdf)}")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
