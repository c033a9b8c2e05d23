"""Thick→thin expansion — the generic export path used for round-trip
verification (``ldtab export`` to Turtle).

Reference: /root/reference/src/ldtab/thick_rdf.clj:66-138 (predicate-map
/ list / annotation expansion), :162-193 (wiring-blanknode merge),
:195-215 (row driver incl. JSON subjects / dropped wiring base triples).

Instead of a Jena model we emit thin-triple dicts (the same shape
``core.thick`` consumes), with deterministic content-derived blank
labels so the expansion is reproducible across executors.
"""

from __future__ import annotations

import json
from typing import Any

from .annotations import AXIOM, REIFICATION, STATEMENT, first_leaf
from .canonical import canonical_dumps, content_hash, is_wiring_blanknode


def parse_json_tolerant(value: Any) -> Any:
    """Parse; fall back to the raw string for plain IRIs/literals
    (thick_rdf.clj:140-151 — only dict/list parses count)."""
    if not isinstance(value, str):
        return value
    try:
        parsed = json.loads(value)
    except (ValueError, TypeError):
        return value
    return parsed if isinstance(parsed, (dict, list)) else value


class _Expander:
    """Per-row expansion state: emits thin triples, mints deterministic
    blank labels ``_:h<rowhash>n<counter>``.

    ``typed_owl=True`` additionally routes predicate maps through the
    typed OWL constructors (thick2thin.clj:294-314 restriction
    dispatch, :460-466 class ctors, :545-551 datatype ctors,
    :554-576 typed-map dispatch) — the OWL-faithful export that
    normalizes cardinality literals to xsd:nonNegativeInteger and drops
    non-constructor keys from class expressions. thick2thin.clj is dead
    code in the reference CLI (no namespace requires it); only the arms
    its own corpus exercises are ported, the rest falls back to the
    generic expansion."""

    def __init__(self, row_key: str, typed_owl: bool = False):
        self.triples: list[dict] = []
        self.row_hash = content_hash(row_key)
        self.counter = 0
        self.typed_owl = typed_owl

    def fresh_blank(self) -> str:
        self.counter += 1
        return f"_:h{self.row_hash}n{self.counter}"

    def emit(self, s: str, p: str, o: str, datatype: str) -> None:
        self.triples.append({
            "subject": s, "predicate": p, "object": o,
            "datatype": datatype,
            "is_blank_s": s.startswith("_:"),
            "is_blank_o": datatype == "_JSONMAP" and o.startswith("_:"),
        })

    def predicate_map(self, pmap: dict) -> str:
        """thick_rdf.clj:66-75 — a JSON predicate map becomes a fresh
        blank node with one triple per (predicate, leaf). In typed-OWL
        mode, recognized OWL constructs take the constructor path."""
        if self.typed_owl:
            bnode = self.typed_map(pmap)
            if bnode is not None:
                return bnode
        bnode = self.fresh_blank()
        for pred, leaves in pmap.items():
            for leaf in leaves:
                obj, dt = self.leaf(leaf)
                self.emit(bnode, pred, obj, dt)
        return bnode

    # ---- typed OWL constructors (thick2thin.clj, opt-in) ----

    def _translate(self, leaf: dict) -> tuple[str, str]:
        """translate (thick2thin.clj:594-598): compound → constructor
        bnode, atom → IRI."""
        if leaf is None:
            return "owl:Nothing", "_IRI"   # defensive; ref would NPE
        return self.leaf(leaf)

    def typed_map(self, pmap: dict):
        """translate-object-map / translate-typed-map / -untyped-map
        (thick2thin.clj:586-592, 566-576, 578-583). Returns the
        constructor bnode, or None → generic expansion."""
        types = [le.get("object") for le in pmap.get("rdf:type", [])]
        t = types[0] if len(types) == 1 else None
        if t == "owl:Restriction":
            return self.restriction(pmap)
        if t == "owl:Class":
            return self.class_expr(pmap, "owl:Class",
                                   ("owl:intersectionOf", "owl:unionOf",
                                    "owl:oneOf", "owl:complementOf"))
        if t == "rdfs:Datatype":
            return self.class_expr(pmap, "rdfs:Datatype",
                                   ("owl:intersectionOf", "owl:unionOf",
                                    "owl:oneOf",
                                    "owl:datatypeComplementOf"))
        if t == "owl:AllDisjointClasses":
            return self.members_ctor(pmap, "owl:AllDisjointClasses",
                                     "owl:members")
        if t == "owl:AllDifferent":
            # reference reads owl:distinctMembers but EMITS owl:members
            # (thick2thin.clj:430-446, its own TODO) — ported verbatim
            return self.members_ctor(pmap, "owl:AllDifferent",
                                     "owl:distinctMembers")
        if t is None and "owl:inverseOf" in pmap:
            # translate-inverse-of (thick2thin.clj:449-458): no rdf:type
            bnode = self.fresh_blank()
            self.emit(bnode, "owl:inverseOf",
                      *self._translate(first_leaf(pmap, "owl:inverseOf")))
            return bnode
        return None

    _RESTRICTIONS = (
        # (key, filler) in reference dispatch order (thick2thin.clj:
        # 296-311): a "class" filler is translated, a "count" is a
        # cardinality literal, "qualified" a count with its owl:onClass
        ("owl:someValuesFrom", "class"),
        ("owl:allValuesFrom", "class"),
        ("owl:minCardinality", "count"),
        ("owl:minQualifiedCardinality", "qualified"),
        ("owl:maxCardinality", "count"),
        ("owl:maxQualifiedCardinality", "qualified"),
        ("owl:cardinality", "count"),
        ("owl:qualifiedCardinality", "qualified"),
        ("owl:hasSelf", "self"),
        ("owl:hasValue", "class"),
    )

    def restriction(self, pmap: dict):
        """translate-restriction (thick2thin.clj:294-314): the first
        arm whose key is present (a qualified one also needs
        owl:onClass) emits onProperty, its filler and rdf:type."""
        for key, filler in self._RESTRICTIONS:
            if key not in pmap or (filler == "qualified"
                                   and "owl:onClass" not in pmap):
                continue
            bnode = self.fresh_blank()
            self.emit(bnode, "owl:onProperty",
                      *self._translate(first_leaf(pmap, "owl:onProperty")))
            if filler == "class":
                self.emit(bnode, key, *self._translate(first_leaf(pmap, key)))
            elif filler == "self":
                self.emit(bnode, key, "true", "xsd:boolean")
            else:
                # create-jena-typed-literal normalizes the cardinality
                # datatype (thick2thin.clj:90-95,235-246)
                card = first_leaf(pmap, key) or {}
                self.emit(bnode, key, card.get("object"),
                          "xsd:nonNegativeInteger")
            if filler == "qualified":
                self.emit(bnode, "owl:onClass",
                          *self._translate(first_leaf(pmap, "owl:onClass")))
            self.emit(bnode, "rdf:type", "owl:Restriction", "_IRI")
            return bnode
        # onDataRange-qualified cardinalities: reference cond falls
        # through to nil (its open TODO) — we fall back to generic
        return None

    def class_expr(self, pmap: dict, rdf_type: str, ctors: tuple):
        """translate-class / translate-datatype (thick2thin.clj:460-466,
        545-551): emit ONLY the constructor property + rdf:type —
        non-constructor keys are dropped (OWL normalization)."""
        for key in ctors:
            if key in pmap:
                bnode = self.fresh_blank()
                self.emit(bnode, key, *self._translate(first_leaf(pmap, key)))
                self.emit(bnode, "rdf:type", rdf_type, "_IRI")
                return bnode
        return None

    def members_ctor(self, pmap: dict, rdf_type: str, read_key: str):
        """translate-all-disjoint-classes / -all-different
        (thick2thin.clj:412-446): members list + rdf:type."""
        leaf = first_leaf(pmap, read_key)
        if leaf is None:
            return None
        bnode = self.fresh_blank()
        self.emit(bnode, "owl:members", *self._translate(leaf))
        self.emit(bnode, "rdf:type", rdf_type, "_IRI")
        return bnode

    def rdf_list(self, items: list) -> str:
        """thick_rdf.clj:77-90 — JSON array → rdf:first/rdf:rest chain."""
        head = bnode = self.fresh_blank()
        for i, item in enumerate(items):
            obj, dt = self.leaf(item)
            self.emit(bnode, "rdf:first", obj, dt)
            if i + 1 < len(items):
                nxt = self.fresh_blank()
                self.emit(bnode, "rdf:rest", nxt, "_JSONMAP")
                bnode = nxt
            else:
                self.emit(bnode, "rdf:rest", "rdf:nil", "_IRI")
        return head

    def leaf(self, leaf: dict) -> tuple[str, str]:
        """Datatype dispatch (thick_rdf.clj:92-98). Returns
        (object-node, thin datatype); compound objects come back as
        blank labels with datatype _JSONMAP."""
        dt = leaf.get("datatype")
        obj = leaf.get("object")
        if dt == "_JSONMAP":
            return self.predicate_map(obj), "_JSONMAP"
        if dt == "_JSONLIST":
            return self.rdf_list(obj), "_JSONMAP"
        return obj, dt  # _IRI, @lang, or typed-literal CURIE

    def annotation(self, subject: str, subject_dt: str, predicate: str,
                   obj: str, obj_dt: str, ann: dict) -> None:
        """thick_rdf.clj:100-138 — annotation map → reification bnode
        (rdf:type from the leaves' ``meta`` tag, owl:annotated* or
        rdf:subject/predicate/object wiring, then the annotation
        properties; recursive for nested annotations)."""
        bnode = self.fresh_blank()
        first_leaves = next(iter(ann.values()), [])
        meta = (first_leaves[0].get("meta") if first_leaves else None) \
            or "owl:Axiom"
        # thick_rdf.clj:104-109 re-emits rdf:type = meta verbatim, which
        # for reifications produces rdf:type rdf:Reification — a stanza
        # the import dispatch (thin2thick.clj:307-311) does not
        # recognize, breaking the reference's own round trip. We emit
        # the original rdf:Statement type instead.
        reified = meta == REIFICATION
        self.emit(bnode, "rdf:type", "rdf:Statement" if reified else meta,
                  "_IRI")
        src, prop, tgt = STATEMENT if reified else AXIOM
        self.emit(bnode, src, subject, subject_dt)
        self.emit(bnode, prop, predicate, "_IRI")
        self.emit(bnode, tgt, obj, obj_dt)
        for pred, leaves in ann.items():
            # rdf:Reification keeps rdf:subject/predicate/object inside
            # the annotation map (annotation_handling.clj:83-86); they
            # are the wiring we just re-emitted — skip to avoid doubles.
            if pred in STATEMENT:
                continue
            for leaf in leaves:
                o, dt = self.leaf({k: v for k, v in leaf.items()
                                   if k not in ("meta", "annotation")})
                self.emit(bnode, pred, o, dt)
                if leaf.get("annotation"):
                    self.annotation(bnode, "_JSONMAP", pred, o, dt,
                                    leaf["annotation"])


def expand_statement_row(row: dict, typed_owl: bool = False) -> list[dict]:
    """One statement-table row → thin triples (thick_rdf.clj:195-215).

    GCI JSON subjects expand to a bnode subject; single wiring-subject
    rows drop their base triple (the skolem is synthetic) but are
    handled by ``merge_existential_rows`` upstream when multi-row.
    ``typed_owl`` switches predicate maps to the thick2thin.clj OWL
    constructors (see _Expander docstring).
    """
    key = "\x1f".join(str(row.get(k)) for k in
                      ("subject", "predicate", "object", "datatype",
                       "annotation"))
    ex = _Expander(key, typed_owl=typed_owl)

    subject_json = parse_json_tolerant(row["subject"])
    if isinstance(subject_json, dict):
        subject, subject_dt = ex.predicate_map(subject_json), "_JSONMAP"
    else:
        subject, subject_dt = subject_json, "_IRI"

    predicate = row["predicate"]
    dt = row["datatype"]
    obj_val = parse_json_tolerant(row["object"]) \
        if dt in ("_JSONMAP", "_JSONLIST") else row["object"]
    obj, obj_dt = ex.leaf({"object": obj_val, "datatype": dt})

    ann = parse_json_tolerant(row.get("annotation")) \
        if row.get("annotation") else None
    if isinstance(ann, dict) and ann:
        ex.annotation(subject, subject_dt, predicate, obj, obj_dt, ann)

    if not is_wiring_blanknode(subject):
        ex.emit(subject, predicate, obj, obj_dt)
    return ex.triples


def merge_existential_rows(rows: list[dict]) -> list[dict]:
    """Merge wiring-blanknode subject rows back into one raw
    ``_JSONMAP`` row with predicate "unknown" (thick_rdf.clj:176-193);
    must run over a whole group of rows sharing the skolem subject.

    Deviation from the reference: single-row groups are merged too —
    the reference passes them through (count > 1 filter at
    thick_rdf.clj:181) and then drops their base triple at
    thick_rdf.clj:213-215, so a single-predicate existential blank
    root silently vanishes from its own export. Merging the singleton
    round-trips it to the identical skolem row instead."""
    by_subject: dict[str, list[dict]] = {}
    passthrough = []
    for r in rows:
        if is_wiring_blanknode(r.get("subject")):
            by_subject.setdefault(r["subject"], []).append(r)
        else:
            passthrough.append(r)
    merged = []
    for subj, group in by_subject.items():
        pmap = {r["predicate"]:
                [{"object": parse_json_tolerant(r["object"]),
                  "datatype": r["datatype"]}]
                for r in group}
        first = group[0]
        merged.append({
            "assertion": first.get("assertion"),
            "retraction": first.get("retraction"),
            "graph": first.get("graph"),
            "subject": subj,
            "predicate": "unknown",
            "object": canonical_dumps(pmap),
            "datatype": "_JSONMAP",
            "annotation": first.get("annotation"),
        })
    return passthrough + merged
