"""Deterministic synthesizer for the interleaved text+media docs table.

The north rule's input is an Iceberg table
``(doc_id, spans:array<struct<kind,text,media_ref,offset>>)`` at 10^12
docs; no such table exists locally, so we synthesize it *distributedly*
and deterministically: every doc is a pure function of (seed, doc_id),
generated inside ``mapInPandas`` over ``spark.range`` — the generator
itself scales to any row count with zero shuffle.

The corpus embeds entity surface forms from a closed vocabulary with a
Zipf-skewed head (exercises salting / AQE skew joins) and sentence
templates that deterministically encode LDTab stanza shapes: plain
facts, labels, media refs, OWL-annotated facts, AllDisjointClasses
groups, GCIs, and subclass restrictions (FIXTURES.md §1).
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schemas import DOCS, ENTITY_DICT

N_ENTITIES = 1000
N_HEAD = 32          # broadcast-dictionary head (hot, Zipf-favored)
VERBS = ("contains", "powers", "resembles")
PEOPLE = ("alice", "bob", "carol", "dan")
LABEL_WORDS = ("amber", "cobalt", "crimson", "ivory", "jade", "onyx",
               "pearl", "slate")


def _surface(rng: random.Random, idx: int) -> str:
    """Two alias surface forms per entity — linking is a real lookup,
    not a string rewrite."""
    return f"Widget {idx}" if rng.random() < 0.5 else f"W-{idx}"


def make_doc_spans(seed: int, doc_id: int) -> list[dict]:
    """Pure function (seed, doc_id) → ordered span list. Mersenne
    ``random.Random`` (platform-stable, cheap init — numpy Generator
    init dominated synthesis cost at bench scale)."""
    rng = random.Random((seed << 40) ^ (int(doc_id) * 2654435761))

    def _zipf_idx(r, n=N_ENTITIES):
        return int((n + 1) ** r.random()) - 1

    n_spans = rng.randrange(2, 9)
    spans, offset = [], 0
    for j in range(n_spans):
        roll = rng.random()
        kind, text, media = "text", "", ""
        if roll < 0.40:
            s, o = _surface(rng, _zipf_idx(rng)), _surface(rng, _zipf_idx(rng))
            text = f"{s} {rng.choice(VERBS)} {o}."
        elif roll < 0.55:
            s = _surface(rng, _zipf_idx(rng))
            text = f'{s} is labeled "{rng.choice(LABEL_WORDS)}".'
        elif roll < 0.70:
            kind, media = "media", f"media://img/{int(doc_id):010d}/{j}"
        elif roll < 0.80:
            p = rng.choice(PEOPLE)
            s, o = _surface(rng, _zipf_idx(rng)), _surface(rng, _zipf_idx(rng))
            text = f"According to {p}, {s} {rng.choice(VERBS)} {o}."
        elif roll < 0.84:
            k = rng.randrange(2, 5)
            items = "; ".join(_surface(rng, _zipf_idx(rng)) for _ in range(k))
            text = f"Group: {items} are exclusive."
        elif roll < 0.88:
            p = rng.choice(PEOPLE)
            s, o = _surface(rng, _zipf_idx(rng)), _surface(rng, _zipf_idx(rng))
            text = (f"Allegedly, {s} {rng.choice(VERBS)} {o} "
                    f"(per {p}).")
        elif roll < 0.94:
            a, b = _surface(rng, _zipf_idx(rng)), _surface(rng, _zipf_idx(rng))
            text = f"Rule: anything that {rng.choice(VERBS)} {a} is {b}."
        else:
            a, b = _surface(rng, _zipf_idx(rng)), _surface(rng, _zipf_idx(rng))
            text = f"Every {a} {rng.choice(VERBS)} some {b}."
        spans.append({"kind": kind, "text": text, "media_ref": media,
                      "offset": offset})
        offset += max(len(text), 16) + 1
    return spans


def synth_docs(spark: SparkSession, n_docs: int,
               seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic docs table: spark.range → mapInPandas.

    Output is invariant to ``partitions`` (per-doc seeding), so the
    same corpus can be generated at any parallelism level — the basis
    of the N-vs-4N scaling benchmark.
    """
    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame({
                "doc_id": [f"doc-{i:010d}" for i in ids],
                "spans": [make_doc_spans(seed, int(i)) for i in ids],
            })

    rng = spark.range(0, n_docs,
                      numPartitions=partitions) if partitions else \
        spark.range(0, n_docs)
    return rng.mapInPandas(gen, DOCS)


def entity_dictionary(spark: SparkSession) -> DataFrame:
    """Closed entity-link dictionary: every surface alias of every
    entity, plus a decoy low-score candidate per surface so candidate
    *scoring* (argmax per surface) is exercised, not just lookup."""
    rows = []
    for i in range(N_ENTITIES):
        for surf in (f"Widget {i}", f"W-{i}"):
            rows.append((surf, f"ex:E{i}", 100, i < N_HEAD))
            rows.append((surf, f"ex:E{(i + 7) % N_ENTITIES}", 10, i < N_HEAD))
    return spark.createDataFrame(rows, ENTITY_DICT)
