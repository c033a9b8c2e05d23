"""Thin→thick stanza transformation — the heart of LDTab.

Reference: /root/reference/src/ldtab/thin2thick.clj (whole file).
Executed per *stanza group* (all thin triples of one blank-node
component / document) inside the stanza stage's ``mapInArrow``
(``operators/stanza.py``); this module itself has no Spark dependency.

Thin-triple representation (see FIXTURES.md §4): dicts with keys
``subject predicate object datatype is_blank_s is_blank_o``, where
blank nodes are spelled ``_:<label>``, IRIs are already CURIE-fied by
the extractor, and ``datatype`` tags the OBJECT per
thin2thick.clj:120-142 (``_JSONMAP`` for blank objects, ``_IRI``,
``@lang``, or a datatype CURIE).

Determinism deviation: the reference mints wiring blank-node ids with
``gensym`` (thin2thick.clj:113), then content-rehashes them
(thin2thick.clj:19-25). We mint positional ids and rely on the same
rehash, so final skolem ids are pure content hashes — stable across
runs/partitions (required for resumable, distributed execution).
"""

from __future__ import annotations

from typing import Any

from .annotations import ANNOTATION_TYPES, encode_raw_annotation_map
from .canonical import (canonical_dumps, hash_existential_subject_blanknode,
                        is_wiring_blanknode, sort_json)
from .gci import encode_raw_gci_map
from .rdf_lists import encode_rdf_list

_RDF_TYPES = ("rdf:type",
              "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
              "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")

_MAX_DEPTH = 64  # OWL bnode trees nest shallowly; guards cyclic input


def is_rdf_type(predicate: str) -> bool:
    """thin2thick.clj:59-63."""
    return predicate in _RDF_TYPES


def _subject_node(t: dict) -> tuple[str, str]:
    return ("blank" if t.get("is_blank_s") else "iri", t["subject"])


def _object_node(t: dict) -> tuple[str, str]:
    if t.get("is_blank_o"):
        kind = "blank"
    elif t.get("datatype") == "_IRI":
        kind = "iri"
    else:
        kind = "lit"
    return (kind, t["object"])


def get_type(triples: list[dict]) -> tuple[str, str]:
    """rdf:type of a stanza root: 0 → "unknown", 1 → that type,
    ≥2 → "ambiguous" (thin2thick.clj:65-72)."""
    typing = [t for t in triples if is_rdf_type(t["predicate"])]
    if not typing:
        return ("iri", "unknown")
    if len(typing) == 1:
        return _object_node(typing[0])
    return ("iri", "ambiguous")


def encode_blank_nodes(triples: list[dict]) -> list[dict]:
    """Skolemize root blank nodes: add ``[<wiring:blanknode:i> <type> _:root]``
    so every bnode tree hangs off a real triple (thin2thick.clj:76-118).
    Positional ids are rewritten to content hashes later (see module
    docstring)."""
    subjects = {_subject_node(t) for t in triples}
    objects = {_object_node(t) for t in triples}
    roots = subjects - objects
    blank_roots = sorted(n for k, n in roots if k == "blank")
    by_subject: dict[str, list[dict]] = {}
    for t in triples:
        by_subject.setdefault(t["subject"], []).append(t)
    additions = []
    for i, label in enumerate(blank_roots):
        type_kind, type_name = get_type(by_subject.get(label, []))
        additions.append({
            "subject": f"<wiring:blanknode:{i}>",
            "predicate": type_name,
            "object": label,
            "datatype": "_JSONMAP",
            "is_blank_s": False,
            "is_blank_o": True,
            "_pred_kind": type_kind,  # rare: a blank rdf:type object
        })
    return list(triples) + additions


def root_triples(triples: list[dict]) -> list[dict]:
    """Triples whose subject is not a blank node occurring as an object
    elsewhere (thin2thick.clj:216-227)."""
    blank_objects = {t["object"] for t in triples if t.get("is_blank_o")}
    # blank labels ("_:<x>") never collide with IRIs/CURIEs, so a plain
    # membership test implements the typed set difference
    return [t for t in triples if t["subject"] not in blank_objects]


def map_subject_to_triples(triples: list[dict]) -> dict[str, list[dict]]:
    """Subject → deduped triples (thin2thick.clj:259-265); the hash-map
    probe that replaces a join inside one stanza group."""
    out: dict[str, list[dict]] = {}
    seen: dict[str, set] = {}
    for t in triples:
        key = (t["predicate"], t["object"], t.get("datatype"))
        if key not in seen.setdefault(t["subject"], set()):
            seen[t["subject"]].add(key)
            out.setdefault(t["subject"], []).append(t)
    return out


def _fold_list_chain(node: str, subject_map: dict[str, list[dict]],
                     depth: int) -> Any:
    """Iteratively materialize a PURE rdf:first/rdf:rest chain's nested
    predicate-map form (identical to what per-cell recursion builds) —
    recursion depth would otherwise equal LIST LENGTH, so a >64-member
    owl:members/oneOf list (common in real ontologies) tripped the
    nesting guard. Returns None when the node isn't a pure chain cell
    (extra predicates, multiple values, shared/cyclic cells) — the
    recursive path handles those, with the guard intact."""
    cells, cur, seen = [], node, set()
    while True:
        if cur in seen:
            return None  # cyclic chain → recursive path raises (cycle?)
        seen.add(cur)
        triples = subject_map.get(cur, [])
        firsts = [t for t in triples if t["predicate"] == "rdf:first"]
        rests = [t for t in triples if t["predicate"] == "rdf:rest"]
        if len(triples) != 2 or len(firsts) != 1 or len(rests) != 1:
            return None
        cells.append((firsts[0], rests[0]))
        if rests[0].get("is_blank_o"):
            cur = rests[0]["object"]
            continue
        break  # chain ends at an IRI (normally rdf:nil)
    tail = None
    for first_t, rest_t in reversed(cells):
        first_entry = {
            "object": node_to_thick_map(first_t["object"],
                                        bool(first_t.get("is_blank_o")),
                                        subject_map, depth + 1),
            "datatype": first_t["datatype"]}
        if tail is None:
            rest_entry = {"object": rest_t["object"],
                          "datatype": rest_t["datatype"]}
        else:
            rest_entry = {"object": tail, "datatype": "_JSONMAP"}
        tail = {"rdf:first": [first_entry], "rdf:rest": [rest_entry]}
    return tail


def node_to_thick_map(node: str, is_blank: bool,
                      subject_map: dict[str, list[dict]],
                      depth: int = 0) -> Any:
    """Collapse a blank node into a predicate map, recursively
    (thin2thick.clj:193-214); non-blank nodes are already encoded
    strings (extractor pre-CURIE-fies, cf. encode-node :178-191).
    Pure RDF-list chains take an iterative path so list LENGTH never
    counts against the nesting guard."""
    if not is_blank:
        return node
    if depth > _MAX_DEPTH:
        raise ValueError(f"blank-node nesting exceeds {_MAX_DEPTH} "
                         f"(cycle?) at {node!r}")
    chain = _fold_list_chain(node, subject_map, depth)
    if chain is not None:
        return chain
    pmap: dict[str, list] = {}
    for t in subject_map.get(node, []):
        entry = {"object": node_to_thick_map(t["object"],
                                             bool(t.get("is_blank_o")),
                                             subject_map, depth + 1),
                 "datatype": t["datatype"]}
        pmap.setdefault(t["predicate"], []).append(entry)
    return pmap


def thin_to_thick_raw(triples: list[dict]) -> list[dict]:
    """Collapse blank nodes into raw thick triples
    (thin2thick.clj:287-300)."""
    encoded = encode_blank_nodes(triples)
    subject_map = map_subject_to_triples(encoded)
    thick = []
    for t in root_triples(encoded):
        pred_blank = t.get("_pred_kind") == "blank"
        thick.append({
            "subject": node_to_thick_map(t["subject"],
                                         bool(t.get("is_blank_s")),
                                         subject_map),
            "predicate": node_to_thick_map(t["predicate"], pred_blank,
                                           subject_map),
            "object": node_to_thick_map(t["object"],
                                        bool(t.get("is_blank_o")),
                                        subject_map),
            "datatype": t["datatype"],
        })
    return thick


def split_existential_blanknode_encoding(triples: list[dict]) -> list[dict]:
    """Split single-triple wiring rows back into component triples
    (thin2thick.clj:145-166); their subject stays the skolem IRI.

    Inherited reference flaw, preserved for parity: only the FIRST
    value per predicate survives the split (``(first v)`` at
    thin2thick.clj:151-156) — a multi-valued predicate on an
    existential blank root loses its extra values on import."""
    out, wiring = [], []
    for t in triples:
        (wiring if is_wiring_blanknode(t.get("subject")) else out).append(t)
    split = []
    for t in wiring:
        if t.get("datatype") == "_JSONMAP" and isinstance(t["object"], dict):
            for pred, vals in t["object"].items():
                split.append({"subject": t["subject"],
                              "predicate": pred,
                              "object": vals[0].get("object"),
                              "datatype": vals[0].get("datatype")})
        else:
            split.append(t)
    return split + out


def thin_to_thick(triples: list[dict]) -> list[dict]:
    """Full rewrite chain in reference order (thin2thick.clj:302-333):
    raw collapse → GCI → annotation/reification → RDF lists →
    canonical sort → skolem rehash → existential split."""
    def _maybe_fold(t: dict) -> dict:
        """Fold only well-formed reification maps; a literal/IRI object
        under an owl:Axiom-style predicate, or an incomplete
        reification bnode, keeps the original triple. (The reference
        returns nil here — annotation_handling.clj:145-166 cond falls
        through — and would NPE downstream; we degrade gracefully.)"""
        obj = t.get("object")
        if not isinstance(obj, dict):
            return t
        folded = encode_raw_annotation_map(obj)
        if isinstance(folded, dict) and "subject" in folded \
                and folded.get("subject") is not None:
            return folded
        return t

    raw = thin_to_thick_raw(triples)
    gcis = [encode_raw_gci_map(t) for t in raw]
    anns = [_maybe_fold(t)
            if t.get("predicate") in ANNOTATION_TYPES else t
            for t in gcis]
    lists = [encode_rdf_list(t) for t in anns]
    sorted_ = [sort_json(t) for t in lists]
    hashed = [hash_existential_subject_blanknode(t) for t in sorted_]
    return split_existential_blanknode_encoding(hashed)


def drop_superfluous_annotations(rows: list[dict]) -> list[dict]:
    """Drop bare duplicates of annotated triples (import.clj:199-201):
    if (s,p,o,datatype) is stated both with and without an annotation,
    only the annotated row survives. DF-scale variant:
    ``dedup_statements``' ``collect_set`` group-by."""
    annotated = {(r.get("subject"), r.get("predicate"), r.get("object"),
                  r.get("datatype"))
                 for r in rows if r.get("annotation")}
    return [r for r in rows
            if r.get("annotation")
            or (r.get("subject"), r.get("predicate"), r.get("object"),
                r.get("datatype")) not in annotated]


def to_statement_row(t: dict) -> dict:
    """Final row projection (import.clj:19-31): JSON-stringify compound
    subject/object/annotation; assertion is 1, retraction 0 and the
    graph "graph" (import.clj:24,202)."""
    def enc(v: Any) -> Any:
        return canonical_dumps(v) if isinstance(v, (dict, list)) else v

    ann = t.get("annotation")
    return {
        "assertion": 1,
        "retraction": 0,
        "graph": "graph",
        "subject": enc(t.get("subject")),
        "predicate": t.get("predicate"),
        "object": enc(t.get("object")),
        "datatype": t.get("datatype") or "_IRI",
        "annotation": canonical_dumps(ann) if ann else None,
    }
