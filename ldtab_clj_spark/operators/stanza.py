"""Stage 3 — stanza assembly: thin triples → thick statement rows.

The grouped realization of thin-2-thick (SURVEY.md R1-R8,
thin2thick.clj:302-333). Blank-node components are document-local by
construction (extract.py), so one hash shuffle on doc_id co-locates
every stanza; it has the Python-stage width
(``parallel.python_partitions``), which AQE cannot coalesce to one
task. A JVM-side ``sortWithinPartitions`` makes each doc a contiguous
run, and the rewrite chain streams Arrow batches through
``mapInPandas`` with run-length grouping — per-group dispatch in C,
not one Python/Arrow round trip per document (20k tiny groups made
applyInPandas the pipeline bottleneck), and worker memory bounded at
O(Arrow batch + largest doc), never O(partition).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..core.thick import thin_to_thick, to_statement_row
from ..schemas import STATEMENT, STATEMENT_COLS
from .batching import grouped_batches
from .parallel import python_partitions

_THIN_COLS = ["subject", "predicate", "object", "datatype",
              "is_blank_s", "is_blank_o"]
_SORT_COLS = ["doc_id", "span_order", "subject", "predicate",
              "object", "datatype"]
_EMIT_EVERY = 20_000  # rows per yielded Arrow batch


def _ground_rows(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized pass-through for GROUND rows (no blank subject or
    object): blank labels never occur in them, so the whole rewrite
    chain (root detection, typing, folding, canonical sort, skolem
    rehash) reduces to identity on them — emit statement rows columnar
    with no per-row Python. Output parity with the Python path is
    exact (the chain never collapsed duplicate ground triples either:
    root_triples emits one row per input triple after the per-subject
    (s,p,o,dt) probe-map dedup, which global dedup_statements subsumes
    anyway)."""
    n = len(pdf)
    return pd.DataFrame({
        "assertion": pd.Series([1] * n, dtype="int64"),
        "retraction": pd.Series([0] * n, dtype="int64"),
        "graph": "graph",
        "subject": pdf["subject"].to_numpy(),
        "predicate": pdf["predicate"].to_numpy(),
        "object": pdf["object"].to_numpy(),
        "datatype": pdf["datatype"].fillna("_IRI").to_numpy(),
        "annotation": pd.Series([None] * n, dtype="object"),
    })


def _partition_stanzas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # rows arrive sorted by doc_id (sortWithinPartitions upstream);
    # grouped_batches carries boundary-straddling docs between batches
    out: list[dict] = []
    for pdf in grouped_batches(batches, "doc_id"):
        ground_mask = (~pdf["is_blank_s"] & ~pdf["is_blank_o"]).to_numpy()
        if ground_mask.any():
            yield _ground_rows(pdf[ground_mask])
            if ground_mask.all():
                continue
            pdf = pdf[~ground_mask]
        # zip over raw column arrays + run-length grouping on the
        # sorted doc_id column: ~5× cheaper than pandas group dispatch
        cols = [pdf[c].to_numpy() for c in ("doc_id", *_THIN_COLS)]
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
        if len(out) >= _EMIT_EVERY:
            yield pd.DataFrame(out, columns=STATEMENT_COLS)
            out = []
    if out:
        yield pd.DataFrame(out, columns=STATEMENT_COLS)


def thin_to_thick_df(thin: DataFrame) -> DataFrame:
    """Thin triples (linked) → statement rows. One shuffle on doc_id;
    the within-partition sort is JVM-side (Tungsten) and pins a
    deterministic per-doc processing order."""
    return python_partitions(thin, "doc_id") \
        .sortWithinPartitions(*_SORT_COLS) \
        .mapInPandas(_partition_stanzas, STATEMENT)
