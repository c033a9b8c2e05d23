"""Stage 3 — stanza assembly: thin triples → thick statement rows.

The grouped realization of thin-2-thick (SURVEY.md R1-R8,
thin2thick.clj:302-333). Blank-node components are document-local by
construction (extract.py), so one hash shuffle on doc_id co-locates
every stanza; it has the Python-stage width
(``parallel.python_partitions``), which AQE cannot coalesce to one
task. A JVM-side ``sortWithinPartitions`` makes each doc a contiguous
run, and the rewrite chain streams Arrow batches through
``mapInArrow`` with run-length grouping — not one Python/Arrow round
trip per document (20k tiny groups made applyInPandas the pipeline
bottleneck) — and worker memory bounded at O(Arrow batch + largest
doc), never O(partition). Ground rows stay Arrow columns end to end;
no stage here imports pandas (``batching`` builds the output
columns).
"""

from __future__ import annotations

from operator import itemgetter
from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.thick import thin_to_thick, to_statement_row
from ..schemas import STATEMENT, STATEMENT_COLS
from .batching import (BATCH_ROWS, column, grouped_batches, pylist,
                       record_batches)
from .parallel import python_partitions

_THIN_COLS = ["subject", "predicate", "object", "datatype",
              "is_blank_s", "is_blank_o"]
_SORT_COLS = ["doc_id", "span_order", "subject", "predicate",
              "object", "datatype"]
_SCHEMA = to_arrow_schema(STATEMENT)
_ROW = itemgetter(*STATEMENT_COLS)


def _ground_rows(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Columnar pass-through for GROUND rows (no blank subject or
    object): blank labels never occur in them, so the whole rewrite
    chain (root detection, typing, folding, canonical sort, skolem
    rehash) reduces to identity on them — emit statement rows columnar
    with no per-row Python: the subject, predicate and object columns
    pass through as they arrived. Output parity with the Python path
    is exact (the chain never collapsed duplicate ground triples
    either: root_triples emits one row per input triple after the
    per-subject (s,p,o,dt) probe-map dedup, which global
    dedup_statements subsumes anyway)."""
    n = batch.num_rows
    datatype = batch.column("datatype")
    if datatype.null_count:
        datatype = pc.fill_null(datatype, column(["_IRI"], pa.string())[0])
    return pa.RecordBatch.from_arrays([
        column([1] * n, pa.int64()),
        column([0] * n, pa.int64()),
        column(["graph"] * n, pa.string()),
        batch.column("subject"), batch.column("predicate"),
        batch.column("object"), datatype,
        pa.nulls(n, pa.string())], schema=_SCHEMA)


def _partition_stanzas(
        batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    # rows arrive sorted by doc_id (sortWithinPartitions upstream);
    # grouped_batches carries boundary-straddling docs between batches
    out: list[dict] = []
    for batch in grouped_batches(batches, "doc_id"):
        blank = pc.or_(batch.column("is_blank_s"), batch.column("is_blank_o"))
        n_blank = pc.sum(blank).as_py() or 0
        if n_blank < batch.num_rows:
            yield _ground_rows(batch.filter(pc.invert(blank)))
            if not n_blank:
                continue
            batch = batch.filter(blank)
        # zip over the column lists + run-length grouping on the
        # sorted doc_id column: ~5× cheaper than per-group dispatch
        cols = [pylist(batch.column(c)) for c in ("doc_id", *_THIN_COLS)]
        cur_doc, triples = None, []
        for doc_id, s, p, o, dt, bs, bo in zip(*cols):
            if doc_id != cur_doc:
                if triples:
                    out.extend(to_statement_row(t)
                               for t in thin_to_thick(triples))
                cur_doc, triples = doc_id, []
            triples.append({"subject": s, "predicate": p, "object": o,
                            "datatype": dt, "is_blank_s": bs,
                            "is_blank_o": bo})
        if triples:
            out.extend(to_statement_row(t) for t in thin_to_thick(triples))
        if len(out) >= BATCH_ROWS:
            yield from record_batches(map(_ROW, out), _SCHEMA)
            out = []
    yield from record_batches(map(_ROW, out), _SCHEMA)


def thin_to_thick_df(thin: DataFrame) -> DataFrame:
    """Thin triples (linked) → statement rows. One shuffle on doc_id;
    the within-partition sort is JVM-side (Tungsten) and pins a
    deterministic per-doc processing order."""
    return python_partitions(thin, "doc_id") \
        .sortWithinPartitions(*_SORT_COLS) \
        .mapInArrow(_partition_stanzas, STATEMENT)
