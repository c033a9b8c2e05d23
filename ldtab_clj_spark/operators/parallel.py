"""Task counts for Python stages, and scan widening for JVM queries.

``python_partitions`` lays out the input of the Python stages —
extract, stanza, the export pass (each one ``mapInArrow``), the
near-dup/ANN signature passes — and of the md5 passes with the same
per-row cost: one task per core (``defaultParallelism``). A keyed
stage gets that width as its hash shuffle (REPARTITION_BY_NUM, which
AQE never coalesces); an unkeyed one keeps a plan of at least that
many partitions as it is and widens a narrower one round-robin. AQE
had coalesced kg_roundtrip's stanza and export shuffles to one task
each on local[4]; pinned to 4, the job's median wall time fell from
6.11 to 4.87 s over 10 interleaved pairs (ROADMAP item 1). A whole
multiple of the cores for large inputs (one round of tasks per
64 MiB of input per core) did not pay on local[4] (4 vCPU, 15 GB):
a 1.9 GB N-Triples import ran 234 and 258 s with 32 stanza tasks
against 214 and 235 s with 4, and a 282 MB docs import 242 and 298 s
with 8 against 243 and 292 s with 4 (two pairs each, order
alternated). The N-Triples parse keeps its scan's splits: the
component contraction after it needs each stanza's lines in one
partition.

``widen_partitions`` serves JVM queries: a single-row-group parquet
file is ONE scan task, and everything up to the first exchange runs
serially on it, so a scan narrower than the cores is widened when its
size estimate reaches ``MIN_WIDEN_BYTES``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Size gate for JVM queries (tokenize/window/agg): below ~1 MiB
# estimated, the serial scan-to-exchange segment is cheaper than the
# extra stage barrier (measured at sf0.1: widening term_stats
# REGRESSED 0.40→0.87 s), while above it the serialized per-row work
# dominates (sf1.0: the same widen won 1.72→1.03 s; the projected
# estimates straddle 1 MiB exactly between those scales).
MIN_WIDEN_BYTES = 1024 * 1024


def plan_partitions(df: DataFrame) -> int:
    """Partitions of ``df``'s plan, counted without running it; 0 for
    a plan with an exchange, whose count under AQE is known only once
    the stages below it have run."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return 0
    return df.rdd.getNumPartitions()


def python_partitions(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` laid out for a Python stage of one task per core:
    hash-partitioned on ``keys``; with no keys, left as it is when its
    plan has at least that many partitions (a wide scan adds no
    exchange), else widened round-robin."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if not keys and plan_partitions(df) >= cores:
        return df
    return df.repartition(cores, *keys)


def widen_partitions(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition ``df`` to the cores when its plan has fewer
    partitions AND its size estimate is at least ``MIN_WIDEN_BYTES``.
    With ``keys``, the exchange is hash-partitioned on them: a
    downstream aggregation/window keyed the same way is then already
    satisfied, so the widen MOVES that exchange below the per-row
    work rather than adding one."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    try:
        est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        if int(str(est)) < MIN_WIDEN_BYTES:
            return df
    except Exception:
        pass  # no estimate → assume big (the safe side at scale)
    return df.repartition(target, *keys)
