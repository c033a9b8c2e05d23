"""Streaming soak at volume.

Runs the docs incremental import over MANY micro-batches (default 60
files x 800 docs) and records:

* per-batch wall time for every micro-batch (via the StreamingQuery's
  recent progress) — the soak claim is that batch time stays BOUNDED
  (no growth in batch index: each micro-batch appends its own
  statements and reads no earlier batch's state);
* streamed == batch equality on the full statement key set at the end
  (the correctness half of the soak: dedup-on-read applies the
  superfluous-annotation rule across batches).

Emits one JSON line; append-logged to BENCH/soak_runs.jsonl.

Usage: python tools/soak_streaming.py [n_files] [docs_per_file]
(docs here = synthetic interleaved docs whose statements include
annotated rows, so the cross-batch annotation rule is actually
exercised; the NT variant is covered by the equality check in
test_streaming — this soak uses the docs stream because it drives ~30x
more triples through the same _start_streaming driver.)
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    import tempfile

    from ldtab_clj_spark.plans.pipeline import build_statements
    from ldtab_clj_spark.session import get_spark
    from ldtab_clj_spark.streaming.pipeline import (read_stream_result,
                                                    run_streaming_import)
    from ldtab_clj_spark.synth import entity_dictionary, synth_docs

    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 60
    per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 800

    spark = get_spark("soak", shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress":
                                  "false"})
    tmp = Path(tempfile.mkdtemp(prefix="ldtab_soak_"))
    in_dir, table = str(tmp / "in"), str(tmp / "table")
    ckpt = str(tmp / "ckpt")

    # one parquet part file per micro-batch (maxFilesPerTrigger=1):
    # a single round-robin repartition write produces exactly n_files
    # parts in a flat, directly-streamable dir
    import shutil
    flat = in_dir
    (synth_docs(spark, n_docs=n_files * per_file, seed=7)
     .repartition(n_files).write.mode("overwrite").parquet(flat))

    ent = entity_dictionary(spark)
    batch_secs: list[float] = []

    q = run_streaming_import(spark, flat, table, ckpt, ent)
    # poll lastProgress for per-batch durations (availableNow drains
    # every file then stops; recentProgress holds the tail)
    while q.isActive:
        q.awaitTermination(2)
    for p in q.recentProgress:
        ms = p["durationMs"].get("triggerExecution")
        if ms is not None and p["numInputRows"] > 0:
            batch_secs.append(ms / 1000.0)

    streamed = read_stream_result(spark, table)
    key = ["graph", "subject", "predicate", "object", "datatype",
           "annotation"]
    s_keys = {tuple(r) for r in streamed.select(*key).collect()}
    batch = build_statements(spark.read.parquet(flat), ent)
    from ldtab_clj_spark.operators.materialize import dedup_statements
    b_keys = {tuple(r) for r in
              dedup_statements(batch).select(*key).collect()}

    half = len(batch_secs) // 2
    first_half = statistics.median(batch_secs[:half]) if half else 0.0
    second_half = statistics.median(batch_secs[half:]) if half else 0.0
    result = {
        "n_batches": len(batch_secs),
        "triples": len(b_keys),
        "streamed_equals_batch": s_keys == b_keys,
        "batch_sec_median": round(statistics.median(batch_secs), 3),
        "batch_sec_p90": round(sorted(batch_secs)[
            int(0.9 * (len(batch_secs) - 1))], 3),
        "batch_sec_max": round(max(batch_secs), 3),
        "table_files": len(list(Path(table).glob("*.parquet"))),
        "median_first_half": round(first_half, 3),
        "median_second_half": round(second_half, 3),
        # boundedness: late batches must not be systematically slower
        "late_over_early": round(second_half / first_half, 3)
        if first_half else None,
        "ts": int(time.time()),
    }
    print(json.dumps(result), flush=True)
    with (REPO / "BENCH" / "soak_runs.jsonl").open("a") as f:
        f.write(json.dumps(result) + "\n")
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
