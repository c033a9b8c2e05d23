"""Stage 4 — graph materialization: dedup, subject-partitioned write,
per-partition lineage/metrics.

* global dedup = the Jena-Model set semantics of batch import
  (rdf_model.clj:42-51 — a Model is a triple *set*);
* superfluous-annotation dedup (import.clj:199-201) as a left-anti join
  (SURVEY.md J4);
* writes are hash-partitioned on subject (``repartition(subject)``) so
  per-entity reads prune, with the salt handled upstream by linking;
* lineage: one metrics row per output partition checkpointed next to
  the data — any stage can verify/resume idempotently (north rule).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

STATEMENT_COLS = ["assertion", "retraction", "graph", "subject",
                  "predicate", "object", "datatype", "annotation"]


def dedup_statements(statements: DataFrame) -> DataFrame:
    """Set semantics + drop bare duplicates of annotated triples
    (import.clj:199-201), in ONE map-side-combinable shuffle:
    group by the content key, collect the distinct annotation set
    (collect_set drops nulls), then emit one row per annotation — or
    the bare row when none exist. Equivalent to
    dropDuplicates(all) + drop-bare-if-annotated, at half the
    shuffles; upstream is consumed exactly once."""
    # assertion/retraction are part of the group key: rows from
    # DIFFERENT transactions are distinct history, never merged (the
    # bare-vs-annotated rule only applies within one import, where all
    # rows share a transaction — import.clj:202 hard-codes it)
    keys = ["assertion", "retraction", "graph", "subject", "predicate",
            "object", "datatype"]
    g = statements.groupBy(*keys).agg(
        F.collect_set("annotation").alias("_anns"))
    ann = F.explode(
        F.when(F.size("_anns") > 0, F.col("_anns"))
        .otherwise(F.array(F.lit(None).cast("string"))))
    return g.select(*keys, ann.alias("annotation")) \
            .select(*STATEMENT_COLS)


def _is_local(path: str) -> bool:
    return "://" not in path or path.startswith("file:")


def _per_file_rows(spark: SparkSession, path: str) -> dict[str, int]:
    """name → row count per output file.

    Local paths: parquet footers via pyarrow — metadata only, no data
    scan. Remote URIs (s3://, hdfs://): pathlib can't list them, so
    fall back to one Spark job grouping on input_file_name() — a
    footer-count-optimized scan of just-written data (on Iceberg this
    is snapshot metadata and free)."""
    if _is_local(path):
        import pyarrow.parquet as pq
        local = path[len("file:"):] if path.startswith("file:") else path
        return {f.name: pq.ParquetFile(f).metadata.num_rows
                for f in sorted(Path(local).glob("*.parquet"))}
    rows = (spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .count().collect())
    return {r["f"].rsplit("/", 1)[-1]: r["count"] for r in rows}


def write_statements(statements: DataFrame, path: str,
                     partitions: int | None = None,
                     run_id: str = "run-1",
                     mode: str = "overwrite") -> dict:
    """Subject-hash-partitioned parquet write + lineage sidecar,
    in ONE pass over the data:

    * batch metrics (rows, annotated) ride the write action itself via
      ``df.observe`` — no second scan;
    * per-file row counts come from the parquet footers (metadata
      reads, no data scan); on append, files already in the sidecar
      keep their original run_id, new files are tagged with this one —
      per-import deltas stay auditable.

    Returns the lineage summary. On Iceberg this would be
    ``writeTo(...).append()`` with table/snapshot-level metrics; parquet
    + a JSON-lines sidecar keeps the same contract in the sandbox.
    """
    df = statements.repartition(partitions, "subject") if partitions \
        else statements.repartition("subject")
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                    F.sum(F.when(F.col("annotation").isNotNull(), 1)
                          .otherwise(0)).alias("annotated"))
    # snapshot the directory BEFORE writing: this run's files are
    # (after − before), regardless of whether concurrent runs have
    # committed their sidecar entries yet — attributing by sidecar
    # membership alone would double-enter a concurrent run's files
    pre = _list_files(path) if mode == "append" else set()
    df.write.mode(mode).parquet(path)
    metrics = obs.get
    spark = statements.sparkSession

    per_file = _per_file_rows(spark, path)
    prior = _read_sidecar(spark, path) if mode == "append" else []
    in_sidecar = {r["file"] for r in prior}
    known = in_sidecar | pre
    ts = int(time.time())
    new = [{"file": name, "rows": n, "run_id": run_id, "ts": ts}
           for name, n in sorted(per_file.items()) if name not in known]
    # reconcile, don't exclude: files on disk before this write but
    # absent from the sidecar are orphans of a crash between a prior
    # parquet append and its sidecar append. Adopt them under a
    # sentinel run_id so verify_lineage converges on re-run instead of
    # staying false forever. AGE-GATED: a LIVE concurrent run's files
    # also look sidecar-less inside its write window (its parquet
    # commit precedes its sidecar append by seconds) — adopting those
    # would hijack its attribution via first-entry-wins dedup. A
    # crashed run's orphans, by contrast, sit un-entered indefinitely,
    # so only files older than ADOPT_GRACE_SECS are adopted; younger
    # ones are reconciled by whichever append runs after the grace
    # period.
    orphans = [name for name in sorted(pre - in_sidecar)
               if name in per_file]
    # age is None when the file vanished between glob and stat (e.g. a
    # concurrent compaction): such a name is neither adoptable nor a
    # pending orphan — drop it from BOTH counts instead of letting a
    # ghost inflate unadopted_files into a spurious CLI warning
    ages = {name: _file_age_secs(path, name) for name in orphans}
    adopted = [{"file": name, "rows": per_file[name],
                "run_id": "adopted", "ts": ts}
               for name in orphans
               if ages[name] is not None
               and ages[name] > ADOPT_GRACE_SECS]
    new = adopted + new
    # orphans still inside the grace window are counted but not
    # entered: the returned totals under-report the physical table
    # until a post-grace append adopts them, so surface the gap
    # instead of leaving it silent
    unadopted = sum(1 for name in orphans
                    if ages[name] is not None
                    and ages[name] <= ADOPT_GRACE_SECS)
    if mode == "append":
        # append ONLY this run's rows (atomic single O_APPEND write /
        # new part files): concurrent imports never rewrite each
        # other's entries. A file that lands during the race window is
        # attributed once (first sidecar entry wins on read).
        _append_sidecar(spark, path, new)
    else:
        _write_sidecar(spark, path, new)

    return {"run_id": run_id, "partitions": len(new),
            "rows": int(sum(r["rows"] for r in prior + new)),
            "batch_rows": int(metrics["rows"] or 0),
            "annotated": int(metrics["annotated"] or 0),
            "unadopted_files": unadopted}


ADOPT_GRACE_SECS = 300  # orphan files younger than this may belong to
#                         a live concurrent run — leave them un-adopted


def _file_age_secs(path: str, name: str) -> float | None:
    """Seconds since the part file last changed — using the LATER of
    mtime and ctime. mtime alone can predate the job commit by
    arbitrarily long (the parquet committer RENAMES task files out of
    _temporary, which preserves mtime), so a slow concurrent append's
    freshly-committed files could look stale; rename updates st_ctime,
    which therefore tracks the commit. Local paths only; remote paths
    never reach adoption — _list_files returns empty."""
    local = path[len("file:"):] if path.startswith("file:") else path
    try:
        st = (Path(local) / name).stat()
        return time.time() - max(st.st_mtime, st.st_ctime)
    except OSError:
        return None  # vanished mid-look: callers drop the name from
        #              both the adopted and the unadopted counts


def _list_files(path: str) -> set[str]:
    """Parquet part-file names currently in the table dir (local only;
    remote appends fall back to sidecar membership)."""
    if not _is_local(path):
        return set()
    local = path[len("file:"):] if path.startswith("file:") else path
    p = Path(local)
    return {f.name for f in p.glob("*.parquet")} if p.exists() else set()


def _sidecar_file(path: str) -> Path:
    local = path[len("file:"):] if path.startswith("file:") else path
    return Path(local + "_lineage") / "lineage.json"


def _read_sidecar(spark: SparkSession, path: str) -> list[dict]:
    """Sidecar rows, deduped by file name (first entry wins): a file
    that lands during two concurrent runs' race window can be entered
    twice; one entry per physical file keeps verify_lineage exact."""
    if _is_local(path):
        f = _sidecar_file(path)
        if not f.exists():
            return []
        rows = [json.loads(line) for line in
                f.read_text().splitlines() if line.strip()]
    else:
        try:
            rows = [r.asDict() for r in
                    spark.read.json(path + "_lineage").collect()]
        except Exception:
            return []
    seen, out = set(), []
    for r in rows:
        if r["file"] not in seen:
            seen.add(r["file"])
            out.append(r)
    return out


def _sidecar_df(spark: SparkSession, rows: list[dict]):
    return spark.createDataFrame(
        [(r["file"], int(r["rows"]), r["run_id"], int(r["ts"]))
         for r in rows],
        "file string, rows long, run_id string, ts long").coalesce(1)


def _write_sidecar(spark: SparkSession, path: str,
                   rows: list[dict]) -> None:
    if _is_local(path):
        f = _sidecar_file(path)
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_text("".join(json.dumps(r) + "\n" for r in rows))
        return
    _sidecar_df(spark, rows).write.mode("overwrite").json(
        path + "_lineage")


def _append_sidecar(spark: SparkSession, path: str,
                    rows: list[dict]) -> None:
    """Append-only sidecar update: local = one O_APPEND write of this
    run's JSON lines (atomic for these sizes), remote = new JSON part
    files. Never rewrites other runs' entries."""
    if not rows:
        return
    if _is_local(path):
        f = _sidecar_file(path)
        f.parent.mkdir(parents=True, exist_ok=True)
        with open(f, "a") as fh:
            fh.write("".join(json.dumps(r) + "\n" for r in rows))
        return
    _sidecar_df(spark, rows).write.mode("append").json(path + "_lineage")


def rebuild_sidecar(spark: SparkSession, path: str,
                    run_id: str) -> list[dict]:
    """Regenerate the lineage sidecar from the files actually on disk
    (parquet footers — no data scan). Used after operations that
    replace the table wholesale (e.g. a diff transaction's
    write-temp-swap), where the old sidecar describes files that no
    longer exist and would fail verify_lineage on a healthy table."""
    ts = int(time.time())
    rows = [{"file": name, "rows": n, "run_id": run_id, "ts": ts}
            for name, n in sorted(_per_file_rows(spark, path).items())]
    _write_sidecar(spark, path, rows)
    return rows


def _iceberg_catalogs(spark: SparkSession) -> list[str]:
    """Names of configured Iceberg catalogs (spark.sql.catalog.<name>
    pointing at an Iceberg SparkCatalog implementation). Reads the
    SESSION confs via ``SET`` — runtime-registered catalogs
    (spark.conf.set after startup) are honored, which the
    context-creation snapshot (sparkContext.getConf) would miss."""
    out = []
    for row in spark.sql("SET").collect():
        k, v = row["key"], str(row["value"])
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3 \
                and "iceberg" in v.lower():
            out.append(k.rsplit(".", 1)[-1])
    return out


_RUN_PROP = "ldtab.run_id"  # snapshot summary key tagging our commits


def write_statements_iceberg(statements: DataFrame, table: str,
                             run_id: str = "run-1") -> dict:
    """The north-rule Iceberg sink: subject-partitioned append via the
    DataFrameWriterV2 API, snapshot metadata as the lineage record.

    This container ships no Iceberg runtime jars (and no network to
    fetch them), so the seam raises a clear error unless the session
    has an Iceberg catalog configured; ``write_statements`` (parquet +
    JSON-lines sidecar, same idempotent-append contract) is the
    sandbox stand-in used everywhere else. On a real cluster:
    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime
    plus a catalog conf makes this path live with no code change."""
    spark = statements.sparkSession
    if not _iceberg_catalogs(spark):
        raise RuntimeError(
            "no Iceberg catalog configured on this session "
            "(spark.sql.catalog.<name> = o.a.iceberg.spark.SparkCatalog)"
            " — use write_statements (parquet + lineage sidecar) or "
            "configure Iceberg (operators/materialize.py)")
    obs = Observation()
    df = (statements.repartition("subject")
          .observe(obs, F.count(F.lit(1)).alias("rows")))
    # stamp the commit with this run's id (Iceberg snapshot summary
    # property) so the lineage query finds OUR snapshot even when other
    # writers append concurrently — latest-snapshot would misattribute
    df.writeTo(table).option(f"snapshot-property.{_RUN_PROP}",
                             run_id).append()
    snap = (spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        f"WHERE summary['{_RUN_PROP}'] = '{run_id}' "
        "ORDER BY committed_at DESC LIMIT 1").collect())
    return {"run_id": run_id,
            "batch_rows": int(obs.get["rows"] or 0),
            "snapshot_id": snap[0]["snapshot_id"] if snap else None}


class LineageStatus:
    """Bool-compatible verify_lineage result: truthiness is the
    row-count match (back-compat with every ``if verify_lineage(...)``
    caller); ``unadopted_files`` surfaces part files present on disk
    but absent from the sidecar — the gap a resume tool needs to see
    WITHOUT parsing a write result (round-4 verdict #9)."""

    def __init__(self, ok: bool, expected: int, actual: int,
                 unadopted_files: int):
        self.ok = ok
        self.expected = expected
        self.actual = actual
        self.unadopted_files = unadopted_files

    def __bool__(self) -> bool:
        return self.ok

    def __eq__(self, other):          # `verify_lineage(...) == True`
        if isinstance(other, bool):
            return self.ok == other
        return NotImplemented

    def __repr__(self) -> str:
        return (f"LineageStatus(ok={self.ok}, expected={self.expected},"
                f" actual={self.actual},"
                f" unadopted_files={self.unadopted_files})")


def verify_lineage(spark: SparkSession, path: str) -> LineageStatus:
    """Resumability check: the lineage sidecar row counts must match
    the table — a stage whose sidecar disagrees is re-run. Reads
    through _read_sidecar (per-file dedup, so a concurrent-append race
    entry can't fail a healthy table). Full table count — fine as an
    explicit verifier, not something to call per stage routinely.

    Returns a bool-compatible LineageStatus; ``unadopted_files``
    counts sidecar-less part files still on disk (crash orphans inside
    the adoption grace window, or a live concurrent run's in-flight
    files) so resume tooling sees the convergence gap directly."""
    sidecar = _read_sidecar(spark, path)
    expected = sum(int(r["rows"]) for r in sidecar)
    actual = spark.read.parquet(path).count()
    in_sidecar = {r["file"] for r in sidecar}
    unadopted = sum(
        1 for name in _list_files(path) - in_sidecar
        if _file_age_secs(path, name) is not None)
    return LineageStatus(expected == actual, expected, actual,
                         unadopted)
