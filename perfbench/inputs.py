"""Seeded input generation. Every input is written to files at set-up;
the program under test reads only those files, never the seed."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PREFIXES = [("ex", "http://example.com/"),
            ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
            ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
            ("owl", "http://www.w3.org/2002/07/owl#"),
            ("xsd", "http://www.w3.org/2001/XMLSchema#")]

# the word vocabulary of the sf0.1 `documents` table
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
_DOCS = pa.schema([pa.field("doc_id", pa.string(), False),
                   pa.field("spans", pa.list_(_SPAN), False)])


def write_kg_docs(path: Path, n_docs: int, seed: int, files: int) -> None:
    """The docs table ``synth_docs(spark, n_docs, seed)`` produces, as
    ``files`` parquet part files (a Spark-written table's layout, so
    the scan splits into several tasks)."""
    from ldtab_clj_spark.synth import make_doc_spans
    path.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, n_docs, files + 1).astype(int)
    for part, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        rows = {"doc_id": [f"doc-{d:010d}" for d in range(lo, hi)],
                "spans": [make_doc_spans(seed, d) for d in range(lo, hi)]}
        pq.write_table(pa.Table.from_pydict(rows, schema=_DOCS),
                       path / f"part-{part:05d}.parquet")


def write_entity_dictionary(path: Path) -> None:
    """The table ``synth.entity_dictionary`` builds: every surface alias
    of every entity, plus a low-score decoy candidate per surface."""
    from ldtab_clj_spark.synth import N_ENTITIES, N_HEAD
    rows = [(surf, f"ex:E{e}", score, i < N_HEAD)
            for i in range(N_ENTITIES)
            for surf in (f"Widget {i}", f"W-{i}")
            for e, score in ((i, 100), ((i + 7) % N_ENTITIES, 10))]
    path.mkdir(parents=True, exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "surface": pa.array(cols[0], pa.string()),
        "entity": pa.array(cols[1], pa.string()),
        "score": pa.array(cols[2], pa.int64()),
        "is_head": pa.array(cols[3], pa.bool_())}),
        path / "part-00000.parquet")


def write_prefixes(path: Path) -> None:
    """The prefix table ``prefix db prefix.tsv`` loads."""
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_pydict(
        {"prefix": [p for p, _ in PREFIXES],
         "base": [b for _, b in PREFIXES]}), path / "part-00000.parquet")


def write_neardup(sf_dir: Path, n_docs: int, n_vecs: int, hot_share: float,
                  seed: int) -> None:
    """``documents`` (doc_id, text) over VOCAB and ``embeddings``
    (vec_id, 64-d unit float32 vector). ``hot_share`` of each table is
    one cluster: copies of one 60-word document, whose MinHash and
    SimHash bands all collide, and noisy copies of one vector (cosine
    about 0.94). So one LSH bucket per band holds that share of the rows,
    and the cluster's pair count does not depend on the seed."""
    rng = np.random.default_rng(seed)
    sf_dir.mkdir(parents=True, exist_ok=True)

    vocab = np.array(VOCAB)
    n_hot = int(n_docs * hot_share)
    texts = [" ".join(vocab[rng.integers(0, len(vocab),
                                         rng.integers(40, 101))])
             for _ in range(n_docs - n_hot)]
    texts += [" ".join(vocab[rng.integers(0, len(vocab), 60)])] * n_hot
    order = rng.permutation(n_docs)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array([texts[i] for i in order])}),
        sf_dir / "documents.parquet")

    n_hot = int(n_vecs * hot_share)
    v = rng.standard_normal((n_vecs, 64))
    v[n_vecs - n_hot:] = rng.standard_normal(64) \
        + 0.25 * rng.standard_normal((n_hot, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True))[
        rng.permutation(n_vecs)].astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32()))}),
        sf_dir / "embeddings.parquet")
