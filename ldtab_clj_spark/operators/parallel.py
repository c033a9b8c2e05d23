"""Scan-width adaptation for per-row-expensive stages.

A parquet scan parallelizes at ROW-GROUP granularity: a table written
as one file with one row group yields ONE scan task no matter how many
cores the session has, and everything between the scan and the first
exchange (shingle explodes + md5 signatures, mapInPandas banding,
interpreted folds) runs serially. Measured on the r06 bench inputs:
documents/embeddings/events at sf1.0 are single-row-group files, so
the md5/Python stanzas of the dedup/ANN/text operators ran on 1 of 32
cores.

``widen_partitions`` repartitions a relation up to the session's
default parallelism ONLY when the upstream plan under-parallelizes it
(fewer partitions than cores). The round-robin exchange moves just the
projected columns (a few MB here), and REPARTITION_BY_NUM is exempt
from AQE coalescing, so the width sticks (the round-5 rule: pin width
where cost is per-row, keep AQE where cost is per-byte). At scale a
100 TB scan already has orders of magnitude more splits than cores, so
the guard makes this a no-op there — the knob adapts to input size
instead of hard-coding either deployment.

The widen/no-widen crossovers below (``MIN_WIDEN_BYTES`` and the
``min_bytes=0`` rationale) were measured while every Python task still
paid ~0.25 s of fixed cost re-reading ``pyspark.zip``'s directory, which
``zipcache`` now removes in reused workers. Extra tasks are cheaper than
those numbers assumed; the values are kept until they are re-measured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Default size gate for MODERATE per-row cost (plain JVM expressions:
# tokenize/window/agg): below ~1 MiB estimated, the serial
# scan-to-exchange segment is cheaper than the extra stage barrier
# (measured at sf0.1: widening term_stats REGRESSED 0.40→0.87 s)
# while above it the serialized per-row work dominates (sf1.0: the
# same widen won 1.72→1.03 s; the projected estimates straddle 1 MiB
# exactly between those scales). Call sites whose downstream is
# md5/Python-heavy pass min_bytes=0 — for them the per-row cost is
# ~100× the bytes and widening wins even on sub-MB inputs (minhash at
# sf0.1: 0.79 s widened vs 1.76 s not).
MIN_WIDEN_BYTES = 1024 * 1024


def widen_partitions(df: DataFrame, *keys: str,
                     min_bytes: int = MIN_WIDEN_BYTES) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism when
    (and only when) the current plan has fewer partitions AND its size
    estimate is at least ``min_bytes`` — a no-op on inputs that are
    already wide, and (for the default gate) on inputs too small for
    the serial segment to outweigh one stage barrier. With ``keys``,
    the exchange is hash-partitioned on them instead of round-robin: a
    downstream aggregation/window keyed the same way is then already
    satisfied, so the widen MOVES that exchange below the
    per-row-expensive segment rather than adding one."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if min_bytes:
        try:
            est = df._jdf.queryExecution().optimizedPlan().stats() \
                .sizeInBytes()
            if int(str(est)) < min_bytes:
                return df
        except Exception:
            pass  # no estimate → assume big (the safe side at scale)
    return df.repartition(target, *keys) if keys \
        else df.repartition(target)
