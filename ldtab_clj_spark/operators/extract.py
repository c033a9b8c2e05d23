"""Stage 1 — triple extraction: interleaved docs → thin triples.

Replaces the reference's Jena RDF parse (import.clj:148-154,
rdf_model.clj:42-51) as the thin-triple *source*: batched mention
detection over the span array via ``posexplode`` (JVM-side, preserves
span order — SURVEY.md W5) + an Arrow-batched ``mapInArrow`` parser.

Entity mentions are emitted as ``surface:<form>`` placeholders and
resolved by operators/link.py (separation keeps extraction shuffle-free
and linking purely relational). Blank-node labels are doc-local
(``_:d<doc>p<pos><tag>``), so stanza components never cross documents
— the property that lets thin→thick group by doc_id with no iterative
closure (SURVEY.md §4.1).
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import THIN
from .batching import map_rows, pylist
from .parallel import python_partitions

_SUR = r"(?:Widget \d+|W-\d+)"
RE_FACT = re.compile(rf"^({_SUR}) (contains|powers|resembles) ({_SUR})\.$")
RE_LABEL = re.compile(rf'^({_SUR}) is labeled "([^"]+)"\.$')
RE_ANNOT = re.compile(
    rf"^According to (\w+), ({_SUR}) (contains|powers|resembles) ({_SUR})\.$")
RE_GROUP = re.compile(r"^Group: (.+) are exclusive\.$")
RE_REIFY = re.compile(
    rf"^Allegedly, ({_SUR}) (contains|powers|resembles) ({_SUR}) "
    rf"\(per (\w+)\)\.$")
RE_RULE = re.compile(
    rf"^Rule: anything that (contains|powers|resembles) ({_SUR}) is ({_SUR})\.$")
RE_RESTR = re.compile(
    rf"^Every ({_SUR}) (contains|powers|resembles) some ({_SUR})\.$")


def _mention(surface: str) -> str:
    return f"surface:{surface}"


def _parse_span(doc_id: str, pos: int, kind: str, text: str,
                media_ref: str) -> list[tuple]:
    """One span → thin triples. Returns (s, p, o, dt, blank_s, blank_o)."""
    def t(s, p, o, dt="_IRI"):
        return (s, p, o, dt, s.startswith("_:"),
                dt == "_JSONMAP" and o.startswith("_:"))

    if kind == "media":
        return [t(f"ex:d{doc_id}", "ex:hasMedia", f"<{media_ref}>")]
    # cheap first-word dispatch: each template has a distinctive
    # prefix, so one regex runs per span instead of seven. The dispatch
    # is exhaustive: every template is anchored on the prefix or suffix
    # tested for it (a RE_FACT text ends in a digit and "."), so a text
    # that misses its regex matches no other template
    if text.startswith("According to "):
        m = RE_ANNOT.match(text)
    elif text.startswith("Allegedly, "):
        m = RE_REIFY.match(text)
    elif text.startswith("Group: "):
        m = RE_GROUP.match(text)
    elif text.startswith("Rule: "):
        m = RE_RULE.match(text)
    elif text.startswith("Every "):
        m = RE_RESTR.match(text)
    elif text.endswith('".'):
        m = RE_LABEL.match(text)
    else:
        m = RE_FACT.match(text)
    return [] if m is None else _build_triples(doc_id, pos, m, t)


def _build_triples(doc_id: str, pos: int, m, t) -> list[tuple]:
    rx = m.re
    if rx is RE_FACT:
        s, v, o = m.groups()
        return [t(_mention(s), f"ex:{v}", _mention(o))]
    if rx is RE_LABEL:
        s, label = m.groups()
        return [t(_mention(s), "rdfs:label", label, "@en")]
    if rx is RE_ANNOT:
        p, s, v, o = m.groups()
        bn = f"_:d{doc_id}p{pos}a"
        return [t(bn, "owl:annotatedSource", _mention(s)),
                t(bn, "owl:annotatedProperty", f"ex:{v}"),
                t(bn, "owl:annotatedTarget", _mention(o)),
                t(bn, "rdf:type", "owl:Axiom"),
                t(bn, "ex:assertedBy", p, "xsd:string")]
    if rx is RE_REIFY:
        s, v, o, p = m.groups()
        bn = f"_:d{doc_id}p{pos}s"
        return [t(bn, "rdf:subject", _mention(s)),
                t(bn, "rdf:predicate", f"ex:{v}"),
                t(bn, "rdf:object", _mention(o)),
                t(bn, "rdf:type", "rdf:Statement"),
                t(bn, "ex:source", p, "xsd:string")]
    if rx is RE_GROUP:
        items = m.group(1).split("; ")
        root = f"_:d{doc_id}p{pos}g"
        out = [t(root, "rdf:type", "owl:AllDisjointClasses"),
               t(root, "owl:members", f"_:d{doc_id}p{pos}l0", "_JSONMAP")]
        for i, item in enumerate(items):
            cell = f"_:d{doc_id}p{pos}l{i}"
            out.append(t(cell, "rdf:first", _mention(item)))
            if i + 1 < len(items):
                out.append(t(cell, "rdf:rest", f"_:d{doc_id}p{pos}l{i+1}",
                             "_JSONMAP"))
            else:
                out.append(t(cell, "rdf:rest", "rdf:nil"))
        return out
    if rx is RE_RULE:
        v, a, b = m.groups()
        bn = f"_:d{doc_id}p{pos}r"
        return [t(bn, "rdf:type", "owl:Restriction"),
                t(bn, "owl:onProperty", f"ex:{v}"),
                t(bn, "owl:someValuesFrom", _mention(a)),
                t(bn, "rdfs:subClassOf", _mention(b))]
    if rx is RE_RESTR:
        a, v, b = m.groups()
        bn = f"_:d{doc_id}p{pos}r"
        return [t(_mention(a), "rdfs:subClassOf", bn, "_JSONMAP"),
                t(bn, "rdf:type", "owl:Restriction"),
                t(bn, "owl:onProperty", f"ex:{v}"),
                t(bn, "owl:someValuesFrom", _mention(b))]
    return []  # unrecognized span kinds carry no triples


def parse_spans_batch(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
    """Arrow-batched span parser (the mention-detection Arrow UDF)."""
    for batch in batches:
        cols = [pylist(batch.column(c))
                for c in ("doc_id", "pos", "kind", "text", "media_ref")]
        for doc_id, pos, kind, text, media in zip(*cols):
            for s, p, o, dt, bs, bo in _parse_span(
                    doc_id, pos, kind, text or "", media or ""):
                yield s, p, o, dt, bs, bo, doc_id, pos


def extract_thin_triples(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans[]) → thin triples with provenance.

    posexplode keeps span order as ``pos`` (the per-row span-sequence
    invariant of BASELINE.json input_hint); column pruning pushes the
    span struct fields into the scan. A scan narrower than the
    Python-stage width is widened round-robin.
    """
    exploded = docs.select(
        "doc_id",
        F.posexplode("spans").alias("pos", "span"),
    ).select(
        "doc_id", "pos",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
    )
    return map_rows(python_partitions(exploded), parse_spans_batch, THIN)
