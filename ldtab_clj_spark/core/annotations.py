"""OWL axiom annotation / RDF reification folding.

Reference: /root/reference/src/ldtab/annotation_handling.clj (whole
file). A raw thick triple whose object is an ``owl:Axiom`` /
``owl:Annotation`` / ``rdf:Statement`` predicate map is folded into the
base triple it reifies, with the remaining properties moved into an
``annotation`` predicate map whose leaves carry a ``meta`` tag naming
the reification flavor.

The reference keeps one copy of each fold step per vocabulary. Here
the two vocabularies are two rows of one table: ``AXIOM`` (OWL 2's
owl:annotatedSource/Property/Target) and ``STATEMENT`` (RDF's
rdf:subject/predicate/object). One function folds either flavour, for
the base case and for annotations-of-annotations alike
(annotation_handling.clj:28-117). ``core/gci.py`` and ``core/expand.py``
read the same table.

All keys are plain strings (the reference mixes keywords and strings
and normalizes via a JSON round-trip at thin2thick.clj:316; we start
normalized).
"""

from __future__ import annotations

from typing import Any

# (source, property, target) keys of each reification vocabulary
AXIOM = ("owl:annotatedSource", "owl:annotatedProperty",
         "owl:annotatedTarget")
STATEMENT = ("rdf:subject", "rdf:predicate", "rdf:object")
# ``meta`` tag of an rdf:Statement's annotation leaves; an owl:* map
# tags its leaves with its own rdf:type (owl:Axiom | owl:Annotation)
REIFICATION = "rdf:Reification"
# stanza root types whose raw triple is folded (thin2thick.clj:307-311)
ANNOTATION_TYPES = ("owl:Annotation", "owl:Axiom", "rdf:Statement")

# annotation_handling.clj:7-15. Note rdf:subject/predicate/object are
# NOT in this set, so the reference keeps them inside a reification's
# annotation map — we preserve that behavior (annotation_handling.clj:83-86).
_OWL_PROPERTIES = frozenset({*AXIOM, "rdf:type", "annotation"})


def first_leaf(pmap: dict, key: str) -> dict | None:
    """The first leaf under ``key`` of a predicate map, or None
    (curry-predicate-map, thick2thin.clj:49)."""
    vals = pmap.get(key)
    return vals[0] if vals else None


def _object(pmap: dict, key: str) -> Any:
    return (first_leaf(pmap, key) or {}).get("object")


def _annotation_map(pmap: dict, meta: Any) -> dict:
    """Collect non-structural properties, tagging each leaf with
    ``meta`` (annotation_handling.clj:36-39)."""
    return {prop: [dict(o, meta=meta) for o in objs]
            for prop, objs in pmap.items() if prop not in _OWL_PROPERTIES}


def update_annotation_map(annotation_map: dict, previous: dict) -> dict:
    """Attach a nested annotation, folded one level up, to the leaf it
    annotates (annotation_handling.clj:17-26). ``previous`` holds that
    ``annotation`` and the ``property`` and ``target`` it names in
    either vocabulary. (The reference passes rdf:predicate/rdf:object
    for a reification, annotation_handling.clj:111-117, then reads the
    owl:* keys and silently drops the nesting; one record shape keeps
    it.) A property that is not a CURIE — a blank node folds to a
    predicate map — matches no leaf."""
    prop = previous["property"]
    if not isinstance(prop, str) or prop not in annotation_map:
        return annotation_map
    out = dict(annotation_map)
    out[prop] = [dict(x, annotation=previous["annotation"])
                 if x.get("object") == previous["target"] else x
                 for x in annotation_map[prop]]
    return out


def encode_raw_annotation_map(pmap: Any, previous: dict | None = None) -> Any:
    """Fold a raw ``owl:Axiom``/``owl:Annotation``/``rdf:Statement``
    predicate map into a thick triple with an ``annotation`` column
    (annotation_handling.clj:119-166, incl. the worked example in its
    docstring at :127-142). ``previous`` is the nested annotation an
    outer level passes down (see ``update_annotation_map``). Returns
    the input unchanged when it is not a reification map (defensive;
    the reference returns nil there)."""
    if not isinstance(pmap, dict):
        return pmap
    for keys in (AXIOM, STATEMENT):
        if keys[0] in pmap:
            return _fold(pmap, keys, previous)
    return pmap


def _fold(pmap: dict, keys: tuple, previous: dict | None) -> Any:
    """One level of the fold, in vocabulary ``keys``. When the source is
    itself a reification map (annotation_handling.clj:55-75, 98-117),
    the source's vocabulary is looked up with the outer one first, and
    as in the reference this level is then read through the SOURCE's
    keys: a mixed owl:*/rdf:* nesting finds no source and folds to
    None."""
    source = _object(pmap, keys[0])
    nested = isinstance(source, dict)
    if nested:
        other = STATEMENT if keys == AXIOM else AXIOM
        inner = [k for k in (keys, other) if k[0] in source]
        if not inner:
            return source
        keys = inner[0]
    src, prop, tgt = keys
    meta = REIFICATION if keys == STATEMENT else _object(pmap, "rdf:type")
    ann = _annotation_map(pmap, meta)
    if previous:
        ann = update_annotation_map(ann, previous)
    if nested:
        return encode_raw_annotation_map(_object(pmap, src), {
            "annotation": ann, "property": _object(pmap, prop),
            "target": _object(pmap, tgt)})
    return {
        "subject": _object(pmap, src),
        "predicate": _object(pmap, prop),
        "object": _object(pmap, tgt),
        # the reference emits no datatype for a reification (would
        # violate the statement table's NOT NULL); both flavours take
        # it from the target leaf
        "datatype": (first_leaf(pmap, tgt) or {}).get("datatype"),
        "annotation": ann,
    }
