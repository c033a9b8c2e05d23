"""Single-node oracle for the flagship KG pipeline.

Runs the SAME semantic core driver-side over generated spans — no Spark
partitioning, grouping, or joins involved — playing the role of the
reference implementation (its correctness oracle is the round-trip
import/export over ontology.owl, /root/reference/Makefile test target).
The distributed pipeline must match this at P/R ≥ 0.95 (BASELINE.json);
in practice the paths agree exactly (tests/test_pipeline.py pins 1.0).

``tools/make_kg_fixture.py`` materializes this as a deterministic
parquet fixture so the driver's DuckDB can oracle-check the pipeline
end-to-end (CORRECTNESS gate), not just pytest.
"""

from __future__ import annotations

from ..core.thick import (drop_superfluous_annotations, thin_to_thick,
                          to_statement_row)
from ..operators.extract import _parse_span
from ..synth import N_ENTITIES, make_doc_spans


def single_node_media_statements(n_docs: int, seed: int = 42) -> list[dict]:
    """Single-node twin of the pipeline's multimodal stage: for every
    distinct media_ref in the synth docs' spans, reproduce
    synth_media → decode_media(fake) → media_feature_statements
    (operators/multimodal.py) in pure Python."""
    import hashlib
    refs = set()
    for d in range(n_docs):
        for span in make_doc_spans(seed, d):
            if span["kind"] == "media":
                refs.add(span["media_ref"])
    rows = []
    for ref in sorted(refs):
        h = hashlib.sha256(ref.encode()).digest()
        size = 256 + h[1]
        content = (h * ((size // len(h)) + 1))[:size]
        feat = hashlib.sha256(content).digest()[:16]
        sig = "-".join(str(b) for b in feat)
        rows.append({"assertion": 1, "retraction": 0, "graph": "graph",
                     "subject": f"<{ref}>",
                     "predicate": "ex:featureHash",
                     "object": hashlib.md5(sig.encode()).hexdigest(),
                     "datatype": "xsd:string", "annotation": None})
    return rows


def single_node_statements(n_docs: int, seed: int = 42,
                           include_media: bool = False) -> list[dict]:
    """Driver-side single-node reference path (no Spark): synth spans →
    parse → dictionary link (argmax score, same rule as operators/link)
    → thin→thick per doc → set semantics + annotation dedup.
    ``include_media`` appends the multimodal feature statements (same
    flag as plans/pipeline.build_statements)."""
    dictionary = {}
    for i in range(N_ENTITIES):
        for surf in (f"Widget {i}", f"W-{i}"):
            dictionary[surf] = f"ex:E{i}"

    def link(v, dt):
        if v.startswith("surface:") and dt == "_IRI":
            return dictionary.get(v[8:], f"<unlinked:{v[8:]}>")
        return v

    rows = []
    for d in range(n_docs):
        doc_id = f"doc-{d:010d}"
        thin = []
        for pos, span in enumerate(make_doc_spans(seed, d)):
            for s, p, o, dt, bs, bo in _parse_span(
                    doc_id, pos, span["kind"], span["text"],
                    span["media_ref"]):
                s2 = s if bs else link(s, "_IRI")
                o2 = o if bo else link(o, dt)
                thin.append({"subject": s2, "predicate": p, "object": o2,
                             "datatype": dt, "is_blank_s": bs,
                             "is_blank_o": bo})
        rows.extend(to_statement_row(t) for t in thin_to_thick(thin))
    if include_media:
        rows.extend(single_node_media_statements(n_docs, seed))
    # set semantics + annotation dedup (operators/materialize equivalents)
    uniq = {tuple(sorted(r.items(), key=lambda kv: kv[0])): r for r in rows}
    return drop_superfluous_annotations(list(uniq.values()))
