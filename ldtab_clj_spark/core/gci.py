"""GCI (general class inclusion) encoding: a compound class expression
on the subject side moves INTO the subject column as JSON.

Reference: /root/reference/src/ldtab/gci_handling.clj (whole file).
"""

from __future__ import annotations

from typing import Any

from .annotations import AXIOM, first_leaf

# gci_handling.clj:18-33
_COMPOUND_KEYS = frozenset({
    "owl:intersectionOf", "owl:someValuesFrom", "owl:allValuesFrom",
    "owl:unionOf", "owl:complementOf", "owl:oneOf", "owl:hasValue",
    "owl:hasSelf", "owl:minCardinality", "owl:minQualifiedCardinality",
    "owl:maxCardinality", "owl:maxQualifiedCardinality", "owl:cardinality",
})


def is_compound_class_expression(pmap: Any) -> bool:
    return isinstance(pmap, dict) and not _COMPOUND_KEYS.isdisjoint(pmap)


def _is_raw_gci_without_annotation(triple: dict, prop: str) -> bool:
    obj = triple.get("object")
    return (isinstance(obj, dict) and prop in obj
            and is_compound_class_expression(obj))


def _is_raw_gci_with_annotation(triple: dict, prop: str) -> bool:
    obj = triple.get("object")
    if not (isinstance(obj, dict) and all(k in obj for k in AXIOM)):
        return False
    source, ann_prop = first_leaf(obj, AXIOM[0]), first_leaf(obj, AXIOM[1])
    return (ann_prop is not None and ann_prop.get("object") == prop
            and source is not None
            and is_compound_class_expression(source.get("object")))


def _encode_without_annotation(triple: dict, prop: str) -> dict:
    """gci_handling.clj:52-62 — subclass expression becomes the (JSON)
    subject; the first superclass leaf becomes the object."""
    obj = triple["object"]
    subclass = {k: v for k, v in obj.items() if k != prop}
    superclass = first_leaf(obj, prop) or {}
    return {"subject": subclass,
            "predicate": prop,
            "object": superclass.get("object"),
            "datatype": superclass.get("datatype")}


def _encode_with_annotation(triple: dict, prop: str) -> dict:
    """gci_handling.clj:64-85 — annotated GCI: unwrap owl:annotated*
    first, move remaining properties into the annotation column tagged
    with the reification rdf:type."""
    obj = triple["object"]
    source = first_leaf(obj, AXIOM[0]) or {}
    subclass = {k: v for k, v in (source.get("object") or {}).items()
                if k != prop}
    superclass = first_leaf(obj, AXIOM[2]) or {}
    annotation = {k: v for k, v in obj.items() if k not in AXIOM}
    rdf_type = (first_leaf(annotation, "rdf:type") or {}).get("object")
    annotation = {k: [dict(x, meta=rdf_type) for x in v]
                  for k, v in annotation.items() if k != "rdf:type"}
    return {"subject": subclass,
            "predicate": prop,
            "object": superclass.get("object"),
            "datatype": superclass.get("datatype"),
            "annotation": annotation}


def encode_raw_gci_map(triple: dict) -> dict:
    """Dispatch (gci_handling.clj:87-97)."""
    for prop in ("rdfs:subClassOf", "owl:equivalentClass"):
        if _is_raw_gci_without_annotation(triple, prop):
            return _encode_without_annotation(triple, prop)
    for prop in ("rdfs:subClassOf", "owl:equivalentClass"):
        if _is_raw_gci_with_annotation(triple, prop):
            return _encode_with_annotation(triple, prop)
    return triple
