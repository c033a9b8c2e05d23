"""SparkSession factory with scale-oriented defaults.

Test/bench boxes run local[N]; on a real cluster the same configs apply
(AQE + skew-join handling are the explicit requirements of the north
rule; Arrow is the transport for every pandas UDF in this engine).
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip this package for executor shipping — the local-mode
    equivalent of the north rule's ``spark-submit --py-files``.

    The filename carries a content hash so concurrent sessions (or two
    checkouts of different code versions on one box) never race on a
    shared path / ship stale code."""
    import hashlib
    pkg_root = Path(__file__).resolve().parent
    files = sorted(pkg_root.rglob("*.py"))
    h = hashlib.sha256()
    for py in files:
        h.update(str(py.relative_to(pkg_root)).encode())
        h.update(py.read_bytes())
    out = Path(tempfile.gettempdir()) / \
        f"ldtab_clj_spark_pyfiles_{h.hexdigest()[:12]}.zip"
    if not out.exists():
        tmp = out.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for py in files:
                zf.write(py,
                         Path("ldtab_clj_spark") / py.relative_to(pkg_root))
        tmp.rename(out)  # atomic on POSIX; losers overwrite same bytes
    return str(out)


def env_int(name: str, default: int) -> int:
    """Positive-integer env var (surrounding blanks ignored); unset or
    empty gives ``default``. Anything else — ``0``, ``-1``, ``four`` —
    raises here, naming the variable, instead of reaching Spark as a
    ``local[0]`` master or failing with a bare ``int()`` message."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    if not (raw.isascii() and raw.isdigit()) or int(raw) < 1:
        raise ValueError(f"{name}={os.environ[name]!r} is not a "
                         "positive integer")
    return int(raw)


def get_spark(app_name: str = "ldtab_clj_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cpus = env_int("SPARK_GRAFT_CPUS", os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (hot head
        # entities are Zipf-distributed by design)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transport for pandas UDFs / toPandas. 10k-row batches:
        # at 1M docs × 4 workers the 100k default balloons Python RSS
        # (measured 107s vs 143s same-session A/B at local[4]; the r2
        # volume table measured 45.5s vs 66.7s at local[8]) — worker
        # memory is bounded by batching.grouped_batches at
        # O(batch + largest group) either way, and output is
        # bit-identical across batch sizes (pinned by test)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # pin the session timezone: streaming/windows.py casts
        # TIMESTAMP_NTZ through TIMESTAMP to drive session_window, so
        # a non-UTC JVM zone would shift wall-clock values across DST
        # transitions and diverge from the naive-time DuckDB oracles
        .config("spark.sql.session.timeZone", "UTC")
        # zstd shuffle/spill compression: ~2-3x smaller shuffle bytes
        # than lz4. Measured on the 1M-doc pipeline: 4-core leg 77.5s
        # (lz4) -> 63.7-64.8s (zstd, reproduced) while the 1-core leg
        # is unchanged (202.8s vs 197-216 lz4 range) — shuffle I/O
        # contention only bites when several tasks write at once,
        # which is also why zstd is the standard choice for
        # network-shuffle-heavy cluster jobs
        .config("spark.io.compression.codec", "zstd")
        # sane scan granularity for the 100 TB case: 128 MB splits
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # allow shuffled hash joins where their size conditions hold
        # (guide §3.1/§9): sort-merge pays two sorts that a per-
        # partition hash build avoids, and AQE's skew splitting works
        # on both join kinds. Measured on the r06 10x probe AND sf0.1,
        # interleaved best-of-3x2 per query: equal or faster on every
        # shuffle-join query (q18 1.60->1.54 / 0.59->0.53, minhash
        # 2.71->2.51, term_stats 1.18->1.13, diff 0.90->0.85; rest
        # within noise), no regressions at either scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # 16 MB auto-broadcast cap (was 64 MB): a parquet-size estimate
        # near 64 MB is a multi-million-row relation whose broadcast
        # build is serial driver+executor work and whose hash relation
        # lands on every executor — at sf1.0 the 26 MB orders table was
        # being broadcast into q3/q4/q5/q18/q21, measured 1.5-2x slower
        # than the shuffled hash join the cap now yields (r06 sweep:
        # q3 3.30→1.48 s, q4 1.81→0.96 s). True dims (nation, region,
        # supplier, prefix/centroid tables) stay far under 16 MB at any
        # SF, and explicit F.broadcast hints are unaffected.
        .config("spark.sql.autoBroadcastJoinThreshold",
                str(16 * 1024 * 1024))
        # heap is WORKLOAD-dependent, measured both ways: 8g wins the
        # local[32] query suite (16g doubled bench.py 32s -> 63s —
        # same shape as r3's rejected 24g trial: long G1 pauses across
        # many small queries), while 16g wins the local[4] 1-2M-doc
        # volume runs (bench_scaling.py passes it explicitly: 4-core
        # leg 64-70s -> 61s at 1M). Default stays 8g; size up via
        # SPARK_DRIVER_MEMORY for large-shuffle jobs
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # -Xms=driver memory + AlwaysPreTouch: fault the whole heap in
        # at JVM start instead of lazily during the first queries that
        # grow it. On a healthy box this costs ~1 s once; on a host
        # whose fresh-page supply collapses (round 5 measured
        # first-touch ~1000x slower while steady-state copy stayed at
        # full speed, BENCH/BASELINE.md) lazy heap growth otherwise
        # lands INSIDE timed queries as multi-second page-fault storms
        # — the same mitigation bench_scaling.py has used since round
        # 5, now on every session so bench.py draws stabilize too
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS",
                               "-Xms" + os.environ.get(
                                   "SPARK_DRIVER_MEMORY", "8g")
                               + " -XX:+AlwaysPreTouch"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(_package_zip())
    return spark
