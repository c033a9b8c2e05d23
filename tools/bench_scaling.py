"""Scaling-efficiency evidence (BASELINE.json north_rule).

Runs the SAME KG pipeline on the SAME input at two parallelism levels
(local[1] vs local[4] — the sandbox stand-in for N vs 4N executors;
synth is partition-count-invariant so inputs are identical), each leg
in its own JVM, and reports throughput at both plus scaling
efficiency = (tput@4N / tput@N) / 4. Appends one row per run to
BENCH/scaling_runs.jsonl.

Usage: python tools/bench_scaling.py [n_docs]
       python tools/bench_scaling.py --leg CORES N_DOCS   (one leg; one
       JSON line on stdout — what the full run spawns per trial)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# identical plan/partitioning for both runs — only the executor-thread
# count varies, the honest analog of N vs 4N executors on a fixed input
PARTS = 64
LO, HI = 1, 4
# best-of per core count, and the median of as many pair efficiencies
TRIALS = 3

# 16g heap: measured faster for the 1-2M-doc volume runs at 1-4 cores
# (GC pressure grows with shuffle volume); the session default stays
# 8g because big heaps HURT the many-small-queries bench — see
# session.py. -Xms=Xmx + AlwaysPreTouch faults the WHOLE heap in at
# JVM start, outside the timed region: a fresh per-leg JVM that grows
# its heap lazily measures the host's fresh-page supply instead of the
# pipeline. A committed heap the RAM cannot back stops the JVM from
# starting, so hosts under 32 GB get half their RAM instead.
_RAM_GB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
HEAP = f"{min(16, max(1, _RAM_GB // 2))}g"
LEG_CONF = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch"}


def leg(cores: int, n_docs: int) -> dict:
    """One timed pipeline run at local[cores] in THIS process."""
    from ldtab_clj_spark.plans.pipeline import run_pipeline
    from ldtab_clj_spark.session import get_spark

    spark = get_spark("scaling", master=f"local[{cores}]",
                      shuffle_partitions=PARTS, extra_conf=LEG_CONF)
    # warm the JVM/Python workers so we time compute, not startup
    run_pipeline(spark, n_docs=200, seed=1).count()
    t0 = time.perf_counter()
    rows = run_pipeline(spark, n_docs=n_docs, seed=42,
                        partitions=PARTS).count()
    dt = time.perf_counter() - t0
    return {"cores": cores, "rows": int(rows), "sec": dt,
            "rows_per_sec": rows / dt}


def run_leg(cores: int, n_docs: int) -> dict:
    """One leg in a fresh JVM: this script re-invoked with --leg."""
    out = subprocess.run(
        [sys.executable, __file__, "--leg", str(cores), str(n_docs)],
        check=True, capture_output=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    # INTERLEAVED trials (1c, 4c, 1c, 4c, ...): pairing the trials
    # exposes both legs to the same box state, so load drift between
    # separate per-leg phases cannot land in the efficiency ratio
    r_lo = r_hi = None
    pair_effs = []
    for _ in range(TRIALS):
        a = run_leg(LO, n_docs)
        if r_lo is None or a["sec"] < r_lo["sec"]:
            r_lo = a
        b = run_leg(HI, n_docs)
        if r_hi is None or b["sec"] < r_hi["sec"]:
            r_hi = b
        # per-PAIR efficiency: each adjacent (1c, 4c) pair shares box
        # state, so the median pair efficiency is the honest statistic
        # — best-of legs drawn from different load phases can
        # fabricate or destroy the ratio
        pair_effs.append(round(
            (b["rows_per_sec"] / a["rows_per_sec"]) / (HI / LO), 3))
    eff = (r_hi["rows_per_sec"] / r_lo["rows_per_sec"]) / (HI / LO)
    result = {"n_docs": n_docs, "low": r_lo, "high": r_hi,
              "scaling_efficiency": round(eff, 3),
              "pair_efficiencies": pair_effs,
              "median_pair_efficiency":
                  round(statistics.median(pair_effs), 3),
              "ts": int(time.time())}
    print(json.dumps(result))
    # append raw runs to a jsonl log; BENCH/BASELINE.md is curated by
    # hand (raw markdown rows appended to its tail kept landing outside
    # the tables)
    log = REPO / "BENCH" / "scaling_runs.jsonl"
    log.parent.mkdir(exist_ok=True)
    with log.open("a") as f:
        f.write(json.dumps(result) + "\n")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--leg"]:
        print(json.dumps(leg(int(sys.argv[2]), int(sys.argv[3]))))
    else:
        main()
