"""Streaming import (SURVEY.md §2.9).

Reference: ``ldtab import --streaming`` (import.clj:142-184) — a
bounded-memory incremental import: fixed windows of triples, a backlog
for annotations whose statements haven't arrived (or vice versa), flush
at EOF. Event-time windows/watermarks don't exist in the reference;
its "streaming" is incremental batching, which maps naturally onto
Structured Streaming micro-batches + ``foreachBatch``.

Semantics preserved:
* each micro-batch of docs runs the full extract→link→thin→thick chain
  (the reference's parse-window, parsing.clj:220-243);
* the superfluous-annotation rule (import.clj:199-201) is applied once,
  when the table is read: ``dedup_statements`` drops a bare row whose
  annotated twin exists anywhere in the table, in either arrival
  order. The reference needs its 3-window backlog (import.clj:103-140)
  because its SQLite inserts are final; this table is append-only, so
  the micro-batch keeps no annotation state;
* writes are idempotent appends + dedup-on-read, so replaying a batch
  after failure cannot corrupt the table (checkpointed, resumable —
  north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.materialize import dedup_statements
from ..plans.pipeline import build_statements
from ..schemas import DOCS


def stream_docs_from_dir(spark: SparkSession, in_dir: str) -> DataFrame:
    """Micro-batched docs source (one file ≈ one reference window)."""
    return (spark.readStream.schema(DOCS)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir))


def _start_streaming(stream: DataFrame, statements_fn, table_path: str,
                     checkpoint: str):
    """Shared incremental-import driver: per micro-batch, build the
    statement rows (``statements_fn``) and append them."""

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        statements_fn(batch_df).write.mode("append").parquet(table_path)

    return (stream.writeStream
            .foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def run_streaming_import(spark: SparkSession, in_dir: str,
                         table_path: str, checkpoint: str,
                         entity_dict: DataFrame):
    """Incremental import: docs stream → statement table appends.

    Returns the StreamingQuery (call ``awaitTermination()``)."""
    dict_cached = entity_dict.localCheckpoint()
    return _start_streaming(
        stream_docs_from_dir(spark, in_dir),
        lambda docs: build_statements(docs, dict_cached),
        table_path, checkpoint)


def run_streaming_import_nt(spark: SparkSession, in_path: str,
                            table_path: str, checkpoint: str,
                            prefix_df: DataFrame):
    """Incremental N-Triples import — the reference's actual
    ``import --streaming`` surface (import.clj:142-184 streams its RDF
    input in windows with a backlog).

    The blank-node closure unit is the MICRO-BATCH (one file,
    maxFilesPerTrigger=1) — the reference's stanza-contiguity
    assumption at its window boundaries. CONTRACT: a blank label must
    not span .nt files here; each file is an independent graph
    document. This differs from the batch importer, which closes
    components GLOBALLY over the whole directory — a label reused
    across files merges there but stays separate here. Exports produced
    by this engine satisfy the contract (labels are stanza-content
    hashes, globally unique).

    ``in_path`` may be a directory or a single file (the file-stream
    source needs a directory, so a file streams via its parent +
    pathGlobFilter)."""
    from pathlib import Path

    from ..operators.components import assign_components
    from ..operators.stanza import thin_to_thick_df
    from ..sources.ntriples import parse_nt_lines

    prefixes = [(r["prefix"], r["base"]) for r in prefix_df.collect()]

    def statements_fn(lines: DataFrame) -> DataFrame:
        return thin_to_thick_df(
            assign_components(parse_nt_lines(lines, prefixes)))

    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    p = Path(in_path)
    if p.is_file():
        reader = reader.option("pathGlobFilter", p.name)
        in_path = str(p.parent)
    return _start_streaming(reader.text(in_path), statements_fn,
                            table_path, checkpoint)


def read_stream_result(spark: SparkSession, table_path: str) -> DataFrame:
    """Final statement set: dedup-on-read resolves cross-batch
    duplicates and drops every bare row with an annotated twin (the
    reference's backlog and tail flush, import.clj:80-140). An input
    with zero files never creates the table — that's an empty import,
    not an error."""
    from pathlib import Path

    from ..schemas import STATEMENT
    if not Path(table_path).exists():
        return spark.createDataFrame([], STATEMENT)
    return dedup_statements(spark.read.parquet(table_path))
