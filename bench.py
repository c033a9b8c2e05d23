"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {name: sec},
"sf": ...}.

The flagship measurement is the full KG-construction pipeline
(synth docs → extract → link → thin→thick → dedup → count) — its
triples/sec is reported alongside (BASELINE.json metric). Scaling
evidence (N vs 4N cores) comes from tools/bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ldtab_clj_spark.session import env_int, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
# docs scale tied to sf: sf0.1 → 20k docs (~500k thin triples)
_SF = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR \
    else 0.1
N_DOCS = max(int(200_000 * _SF), 500)

HEADLINE = ["tpch_q1", "tpch_q3", "tpch_q4", "tpch_q5",
            "tpch_q2", "tpch_q9", "tpch_q18", "tpch_q21",
            "a1_group_collect", "w4_rank_window", "so4_symmetric_diff",
            "dedup_exact", "dedup_minhash_lsh",
            "text_quality", "text_fingerprint", "text_term_stats",
            "events_session_window", "ann_cosine_topk", "ann_ivf_topk",
            "dedup_simhash_pairs",
            "kg_mention_extract_join", "kg_roundtrip_reimport",
            "diff_transactions"]

# Cheap control query re-run at suite start/middle/end: if the box is
# contaminated by a co-tenant mid-suite (the round-3 snapshot recorded
# 11x phantom regressions under shared-box load), the drift shows up
# here and the JSON line carries contaminated=true so the reader knows
# to discard the run.
CONTROL = "tpch_q1"
CONTROL_DRIFT_LIMIT = 1.5


def _ann_srp_scaled(spark, sf_dir):
    """SRP-LSH near-dup with size-appropriate selectivity: k ≈ log2(N)
    bits per table (the CORRECTNESS entry pins k=3 for the sf0.01
    oracle; at bench scale that candidate volume would be quadratic in
    the per-bucket count — the whole point of k growing with N)."""
    from ldtab_clj_spark.operators.similarity import (srp_banded_near_dup,
                                                      srp_plane_tables)
    from ldtab_clj_spark.queries import load
    emb = load(spark, sf_dir, "embeddings")
    return srp_banded_near_dup(emb, srp_plane_tables(n_tables=8,
                                                     k_planes=8),
                               threshold=0.4)


def run_suite(spark) -> dict:
    """One full measured pass; returns the result JSON dict (with the
    contamination verdict) without printing it."""
    from ldtab_clj_spark import queries as q
    from ldtab_clj_spark.plans.pipeline import run_pipeline

    timings: dict[str, float] = {}

    # warm the JVM + Python workers (cold-start excluded, as in
    # tools/bench_scaling.py)
    run_pipeline(spark, n_docs=200, seed=1).count()

    def best_of(fn, trials=2):
        """Shared-box spikes (GC, co-tenants) hit single shots hard —
        best-of-2 per query damps them at 2× suite cost."""
        best = None
        for _ in range(trials):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        return best

    def query_fn(name):
        return q.ALL_QUERIES[name]

    control_secs = []

    def run_control():
        # best-of-2 like every other timing: a single shot varies ±25%
        # on this box, which alone could breach the 1.5x drift limit
        fn = query_fn(CONTROL)
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        control_secs.append(round(best, 3))

    # first execution is untimed: it pays the one-off parquet footer
    # read / codegen cost that would otherwise read as 5x "drift"
    query_fn(CONTROL)(spark, SF_DIR).count()
    run_control()

    # flagship: KG pipeline; throughput = statement rows / sec
    n_rows = 0

    def kg():
        nonlocal n_rows
        # the pipeline sizes its Python stages itself (operators/parallel)
        n_rows = run_pipeline(spark, n_docs=N_DOCS, seed=42).count()

    kg_sec = best_of(kg)
    timings["kg_pipeline"] = round(kg_sec, 3)

    for i, name in enumerate(HEADLINE):
        fn = query_fn(name)
        timings[name] = round(
            best_of(lambda: fn(spark, SF_DIR).count()), 3)
        if i == len(HEADLINE) // 2:
            run_control()

    timings["ann_srp_near_dup"] = round(
        best_of(lambda: _ann_srp_scaled(spark, SF_DIR).count()), 3)

    run_control()
    drift = max(control_secs) / min(control_secs)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _SF,
        "kg_docs": N_DOCS,
        "kg_statements": int(n_rows),
        "kg_triples_per_sec": round(n_rows / kg_sec, 1),
        "cpus": CPUS,
        "control_secs": control_secs,
        "control_drift": round(drift, 3),
        "contaminated": drift > CONTROL_DRIFT_LIMIT,
    }


MAX_ATTEMPTS = 3
RETRY_SLEEP_SECS = 45


def main() -> None:
    """Run the suite, RETRYING on contamination (r4 verdict #2): the
    driver records this output unattended, and BENCH_r04 proved that a
    flagged-but-recorded noisy draw still poisons round-over-round
    comparison. Up to MAX_ATTEMPTS passes with a backoff sleep (lets a
    co-tenant load spike drain); the first clean draw is emitted; if
    every attempt trips the control, the LAST flagged draw is emitted
    (the flag is then the honest signal). Exactly ONE JSON line goes
    to stdout either way; attempt chatter goes to stderr."""
    spark = get_spark("ldtab-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 16),
                      extra_conf={"spark.ui.showConsoleProgress":
                                  "false"})
    result = None
    for attempt in range(1, MAX_ATTEMPTS + 1):
        result = run_suite(spark)
        result["attempt"] = attempt
        if not result["contaminated"]:
            break
        print(f"bench attempt {attempt}/{MAX_ATTEMPTS} contaminated "
              f"(control drift {result['control_drift']}); "
              + ("retrying after sleep"
                 if attempt < MAX_ATTEMPTS else "giving up"),
              file=sys.stderr)
        if attempt < MAX_ATTEMPTS:
            time.sleep(RETRY_SLEEP_SECS)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
