"""Stage 4 — graph materialization: dedup, subject-partitioned write,
per-partition lineage/metrics.

* global dedup = the Jena-Model set semantics of batch import
  (rdf_model.clj:42-51 — a Model is a triple *set*) and the
  superfluous-annotation rule (import.clj:199-201), both in
  ``dedup_statements``' one ``collect_set`` group-by;
* ``dedup_statements`` lays statement rows out on ``subject`` once;
  the write keeps that layout (one file per core) and the export
  reuses it. Parquet part files carry no bucket metadata, so reads do
  not prune on it;
* lineage: one metrics row per output partition checkpointed next to
  the data — any stage can verify/resume idempotently (north rule).
  Lineage is local-disk only (plain paths and ``file:`` URIs): any
  other scheme raises ``ValueError`` before a job runs.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schemas import STATEMENT, STATEMENT_COLS
from .parallel import python_partitions


def dedup_statements(statements: DataFrame) -> DataFrame:
    """Set semantics + drop bare duplicates of annotated triples
    (import.clj:199-201), in one ``subject`` shuffle that the write and
    the export reuse: hash on ``subject`` at the Python-stage width,
    group by the content key (it holds ``subject``: no second
    exchange), collect the distinct annotation set (collect_set drops
    nulls), then emit one row per annotation — or the bare row when
    none exist. Upstream is consumed exactly once."""
    # assertion/retraction are part of the group key: rows from
    # DIFFERENT transactions are distinct history, never merged (the
    # bare-vs-annotated rule only applies within one import, where all
    # rows share a transaction — import.clj:202 hard-codes it)
    keys = [c for c in STATEMENT_COLS if c != "annotation"]
    g = python_partitions(statements, "subject").groupBy(*keys).agg(
        F.collect_set("annotation").alias("_anns"))
    ann = F.explode(
        F.when(F.size("_anns") > 0, F.col("_anns"))
        .otherwise(F.array(F.lit(None).cast("string"))))
    return g.select(*keys, ann.alias("annotation"))


_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:")


def _local(path: str) -> str:
    """The table directory of a plain path or a ``file:`` URI. Any
    other scheme (``s3://``, ``hdfs:``) raises: pathlib would silently
    put that table's sidecar on local disk."""
    if path.startswith("file:"):
        return path[len("file:"):]
    if _SCHEME.match(path):
        raise ValueError(f"lineage needs a local table path, not {path!r}")
    return path


def _footer_rows(path: str, names) -> dict[str, int]:
    """name → row count of each named part file, in name order, from
    its parquet footer via pyarrow — metadata only, no data scan."""
    import pyarrow.parquet as pq
    root = Path(_local(path))
    return {name: pq.ParquetFile(root / name).metadata.num_rows
            for name in sorted(names)}


def write_statements(statements: DataFrame, path: str,
                     run_id: str = "run-1",
                     mode: str = "overwrite") -> dict:
    """Parquet write + lineage sidecar, in ONE pass over the data. The
    input is written as laid out: a ``dedup_statements`` output (every
    caller's) is hash-partitioned on ``subject``, one file per core.

    * the batch row count rides the write action itself via
      ``df.observe`` — no second scan;
    * per-file row counts come from the parquet footers (metadata
      reads, no data scan) of this write's files and of the orphans it
      adopts only; on append, files already in the sidecar keep their
      original run_id, new files are tagged with this one — per-import
      deltas stay auditable.

    Returns the lineage summary. On Iceberg this would be
    ``writeTo(...).append()`` with table/snapshot-level metrics; parquet
    + a JSON-lines sidecar keeps the same contract locally.
    """
    _local(path)   # a remote path fails here, before the write
    obs = Observation()
    df = statements.observe(obs, F.count(F.lit(1)).alias("rows"))
    # snapshot the directory BEFORE writing: this run's files are
    # (after − before), regardless of whether concurrent runs have
    # committed their sidecar entries yet — attributing by sidecar
    # membership alone would double-enter a concurrent run's files
    pre = _list_files(path) if mode == "append" else set()
    df.write.mode(mode).parquet(path)
    metrics = obs.get

    after = _list_files(path)
    prior = _read_sidecar(path) if mode == "append" else []
    in_sidecar = {r["file"] for r in prior}
    ts = int(time.time())
    new = [{"file": name, "rows": n, "run_id": run_id, "ts": ts}
           for name, n in _footer_rows(path, after - pre - in_sidecar)
           .items()]
    # reconcile, don't exclude: files on disk before this write but
    # absent from the sidecar are orphans of a crash between a prior
    # parquet append and its sidecar append; adopting them under a
    # sentinel run_id lets verify_lineage converge on re-run. AGE-GATED:
    # a LIVE concurrent run's files also look sidecar-less for the
    # seconds between its parquet commit and its sidecar append, and
    # adopting those would hijack its attribution (first entry wins),
    # so only files older than ADOPT_GRACE_SECS are adopted. Younger
    # ones are counted as unadopted: the returned totals under-report
    # the table until a post-grace append adopts them. A file that
    # vanished between listing and stat (a concurrent compaction, say)
    # is neither.
    ages = {name: _file_age_secs(path, name)
            for name in sorted((pre - in_sidecar) & after)}
    ages = {name: age for name, age in ages.items() if age is not None}
    adoptable = [name for name, age in ages.items()
                 if age > ADOPT_GRACE_SECS]
    unadopted = len(ages) - len(adoptable)
    adopted = [{"file": name, "rows": n, "run_id": "adopted", "ts": ts}
               for name, n in _footer_rows(path, adoptable).items()]
    new = adopted + new
    if mode == "append":
        # append ONLY this run's rows (atomic single O_APPEND write /
        # new part files): concurrent imports never rewrite each
        # other's entries. A file that lands during the race window is
        # attributed once (first sidecar entry wins on read).
        _append_sidecar(path, new)
    else:
        _write_sidecar(path, new)

    return {"run_id": run_id, "partitions": len(new),
            "rows": int(sum(r["rows"] for r in prior + new)),
            "batch_rows": int(metrics["rows"] or 0),
            "unadopted_files": unadopted}


ADOPT_GRACE_SECS = 300  # orphan files younger than this may belong to
#                         a live concurrent run — leave them un-adopted


def _file_age_secs(path: str, name: str) -> float | None:
    """Seconds since the part file last changed — using the LATER of
    mtime and ctime. mtime alone can predate the job commit by
    arbitrarily long (the parquet committer RENAMES task files out of
    _temporary, which preserves mtime), so a slow concurrent append's
    freshly-committed files could look stale; rename updates st_ctime,
    which therefore tracks the commit."""
    try:
        st = (Path(_local(path)) / name).stat()
        return time.time() - max(st.st_mtime, st.st_ctime)
    except OSError:
        return None  # vanished mid-look: neither adopted nor unadopted


def _list_files(path: str) -> set[str]:
    """Parquet part-file names currently in the table dir."""
    p = Path(_local(path))
    return {f.name for f in p.glob("*.parquet")} if p.exists() else set()


def _sidecar_file(path: str) -> Path:
    return Path(_local(path) + "_lineage") / "lineage.json"


def _read_sidecar(path: str) -> list[dict]:
    """Sidecar rows, deduped by file name (first entry wins): a file
    that lands during two concurrent runs' race window can be entered
    twice; one entry per physical file keeps verify_lineage exact."""
    f = _sidecar_file(path)
    if not f.exists():
        return []
    rows = [json.loads(line) for line in
            f.read_text().splitlines() if line.strip()]
    seen, out = set(), []
    for r in rows:
        if r["file"] not in seen:
            seen.add(r["file"])
            out.append(r)
    return out


def _write_sidecar(path: str, rows: list[dict]) -> None:
    f = _sidecar_file(path)
    f.parent.mkdir(parents=True, exist_ok=True)
    f.write_text("".join(json.dumps(r) + "\n" for r in rows))


def _append_sidecar(path: str, rows: list[dict]) -> None:
    """Append-only sidecar update: one O_APPEND write of this run's
    JSON lines (atomic for these sizes). Never rewrites other runs'
    entries."""
    if not rows:
        return
    f = _sidecar_file(path)
    f.parent.mkdir(parents=True, exist_ok=True)
    with open(f, "a") as fh:
        fh.write("".join(json.dumps(r) + "\n" for r in rows))


def rebuild_sidecar(path: str, run_id: str) -> list[dict]:
    """Regenerate the lineage sidecar from the files actually on disk
    (parquet footers — no data scan). Used after operations that
    replace the table wholesale (e.g. a diff transaction's
    write-temp-swap), where the old sidecar describes files that no
    longer exist and would fail verify_lineage on a healthy table."""
    ts = int(time.time())
    rows = [{"file": name, "rows": n, "run_id": run_id, "ts": ts}
            for name, n in _footer_rows(path, _list_files(path)).items()]
    _write_sidecar(path, rows)
    return rows


@dataclass(eq=False)
class LineageStatus:
    """Bool-compatible verify_lineage result: truthiness is the
    row-count match (back-compat with every ``if verify_lineage(...)``
    caller); ``unadopted_files`` surfaces part files present on disk
    but absent from the sidecar — the gap a resume tool needs to see
    WITHOUT parsing a write result."""
    ok: bool
    expected: int
    actual: int
    unadopted_files: int

    def __bool__(self) -> bool:
        return self.ok


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
    sidecar = _read_sidecar(path)
    expected = sum(int(r["rows"]) for r in sidecar)
    actual = spark.read.schema(STATEMENT).parquet(path).count()
    in_sidecar = {r["file"] for r in sidecar}
    unadopted = sum(
        1 for name in _list_files(path) - in_sidecar
        if _file_age_secs(path, name) is not None)
    return LineageStatus(expected == actual, expected, actual,
                         unadopted)
