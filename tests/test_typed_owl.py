"""Typed OWL export arms (core/expand.py typed_owl mode) vs
hand-derived reference output from thick2thin.clj:294-314 (restriction
dispatch), :460-466 (class ctors), :412-446 (AllDisjointClasses /
AllDifferent), :554-576 (typed-map dispatch). These are the arms the
corpus exercises; the rest of the (dead-code) 758-LoC matrix stays out
of scope and falls back to the generic expansion."""

import json
import re

import pytest

from kg_helpers import prefix_table, stmt_keys
from ldtab_clj_spark.core.expand import expand_statement_row


def _row(subject, predicate, obj, datatype="_JSONMAP", annotation=None):
    return {"subject": subject, "predicate": predicate,
            "object": json.dumps(obj) if isinstance(obj, (dict, list))
            else obj,
            "datatype": datatype, "annotation": annotation}


def _keyed(triples):
    """(pred, obj, dt) set per blank subject + the base triple."""
    return {(t["predicate"], t["object"], t["datatype"])
            for t in triples}


RESTRICTION = {
    "rdf:type": [{"object": "owl:Restriction", "datatype": "_IRI"}],
    "owl:onProperty": [{"object": "ex:p", "datatype": "_IRI"}],
    "owl:someValuesFrom": [{"object": "ex:B", "datatype": "_IRI"}],
}


def test_some_values_from_matches_reference():
    """translate-some: onProperty + someValuesFrom + rdf:type
    owl:Restriction hanging off the subClassOf bnode."""
    out = expand_statement_row(
        _row("ex:A", "rdfs:subClassOf", RESTRICTION), typed_owl=True)
    got = _keyed(out)
    bnodes = {t["subject"] for t in out if t["is_blank_s"]}
    assert len(bnodes) == 1
    b = bnodes.pop()
    assert ("owl:onProperty", "ex:p", "_IRI") in got
    assert ("owl:someValuesFrom", "ex:B", "_IRI") in got
    assert ("rdf:type", "owl:Restriction", "_IRI") in got
    assert ("rdfs:subClassOf", b, "_JSONMAP") in got
    assert len(out) == 4


def test_qualified_cardinality_normalizes_datatype():
    """create-jena-typed-literal forces xsd:nonNegativeInteger on the
    cardinality literal (thick2thin.clj:235-246) even when the stored
    leaf carries another numeric datatype; the generic path keeps it."""
    pmap = {
        "rdf:type": [{"object": "owl:Restriction", "datatype": "_IRI"}],
        "owl:onProperty": [{"object": "ex:p", "datatype": "_IRI"}],
        "owl:qualifiedCardinality": [{"object": "2",
                                      "datatype": "xsd:int"}],
        "owl:onClass": [{"object": "ex:C", "datatype": "_IRI"}],
    }
    typed = _keyed(expand_statement_row(
        _row("ex:A", "rdfs:subClassOf", pmap), typed_owl=True))
    generic = _keyed(expand_statement_row(
        _row("ex:A", "rdfs:subClassOf", pmap), typed_owl=False))
    assert ("owl:qualifiedCardinality", "2",
            "xsd:nonNegativeInteger") in typed
    assert ("owl:qualifiedCardinality", "2", "xsd:int") in generic
    assert ("owl:onClass", "ex:C", "_IRI") in typed


def test_has_self_emits_boolean_true():
    pmap = {
        "rdf:type": [{"object": "owl:Restriction", "datatype": "_IRI"}],
        "owl:onProperty": [{"object": "ex:p", "datatype": "_IRI"}],
        "owl:hasSelf": [{"object": "true", "datatype": "xsd:string"}],
    }
    typed = _keyed(expand_statement_row(
        _row("ex:A", "rdfs:subClassOf", pmap), typed_owl=True))
    assert ("owl:hasSelf", "true", "xsd:boolean") in typed


def test_class_ctor_drops_non_constructor_keys():
    """translate-class emits ONLY ctor + rdf:type (thick2thin.clj:
    460-466); an extra rdfs:comment in the map is normalized away in
    typed mode but kept by the generic expansion."""
    pmap = {
        "rdf:type": [{"object": "owl:Class", "datatype": "_IRI"}],
        "owl:unionOf": [{"object": [
            {"object": "ex:A", "datatype": "_IRI"},
            {"object": "ex:B", "datatype": "_IRI"}],
            "datatype": "_JSONLIST"}],
        "rdfs:comment": [{"object": "extra", "datatype": "xsd:string"}],
    }
    typed = expand_statement_row(
        _row("ex:X", "owl:equivalentClass", pmap), typed_owl=True)
    generic = expand_statement_row(
        _row("ex:X", "owl:equivalentClass", pmap), typed_owl=False)
    assert not any(t["predicate"] == "rdfs:comment" for t in typed)
    assert any(t["predicate"] == "rdfs:comment" for t in generic)
    # list expansion still present
    assert sum(1 for t in typed if t["predicate"] == "rdf:first") == 2
    assert any(t == ("rdf:type", "owl:Class", "_IRI")
               for t in _keyed(typed))


def test_all_different_reads_distinct_members_emits_members():
    """Reference quirk ported verbatim: translate-all-different reads
    owl:distinctMembers but emits owl:members
    (thick2thin.clj:430-446, its own TODO)."""
    pmap = {
        "rdf:type": [{"object": "owl:AllDifferent", "datatype": "_IRI"}],
        "owl:distinctMembers": [{"object": [
            {"object": "ex:i1", "datatype": "_IRI"},
            {"object": "ex:i2", "datatype": "_IRI"}],
            "datatype": "_JSONLIST"}],
    }
    typed = expand_statement_row(
        _row("ex:D", "unknown", pmap), typed_owl=True)
    preds = {t["predicate"] for t in typed}
    assert "owl:members" in preds and "owl:distinctMembers" not in preds


def test_on_data_range_falls_back_to_generic():
    """The reference's restriction cond has no onDataRange arm (open
    TODO, falls through to nil/NPE); we fall back to the generic
    expansion so the stanza still round-trips."""
    pmap = {
        "rdf:type": [{"object": "owl:Restriction", "datatype": "_IRI"}],
        "owl:onProperty": [{"object": "ex:p", "datatype": "_IRI"}],
        "owl:qualifiedCardinality": [{"object": "1",
                                      "datatype":
                                      "xsd:nonNegativeInteger"}],
        "owl:onDataRange": [{"object": "xsd:string",
                             "datatype": "_IRI"}],
    }
    typed = _keyed(expand_statement_row(
        _row("ex:A", "rdfs:subClassOf", pmap), typed_owl=True))
    assert ("owl:onDataRange", "xsd:string", "_IRI") in typed
    assert ("owl:qualifiedCardinality", "1",
            "xsd:nonNegativeInteger") in typed


def test_inverse_of_untyped():
    """translate-untyped-map → translate-inverse-of: bare inverseOf
    bnode, no rdf:type added (thick2thin.clj:449-458, 578-583)."""
    pmap = {"owl:inverseOf": [{"object": "ex:p", "datatype": "_IRI"}]}
    typed = expand_statement_row(
        _row("ex:q", "owl:equivalentProperty", pmap), typed_owl=True)
    got = _keyed(typed)
    assert ("owl:inverseOf", "ex:p", "_IRI") in got
    assert not any(p == "rdf:type" for p, _, _ in got)


def test_typed_owl_roundtrip_reference_ontology(spark, tmp_path):
    """ontology.owl → statements → typed-OWL N-Triples → re-import at
    P/R ≥ 0.95 (the corpus is canonical OWL, so typed normalization is
    near-identity on it)."""
    from pathlib import Path

    ref = Path("/root/reference/resources/ontology.owl")
    if not ref.exists():
        pytest.skip("reference not mounted")
    from ldtab_clj_spark.operators.export import write_ntriples
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    from ldtab_clj_spark.sources.rdfxml import import_rdfxml
    prefix_df = prefix_table(spark)
    first = import_rdfxml(spark, str(ref), prefix_df).localCheckpoint()
    out = str(tmp_path / "typed_nt")
    write_ntriples(first, prefix_df, out, typed_owl=True)
    again = import_ntriples(spark, out, prefix_df)

    orig, back = stmt_keys(first), stmt_keys(again)
    tp = len(orig & back)
    p, r = tp / len(back), tp / len(orig)
    assert p >= 0.95 and r >= 0.95, (p, r, len(orig), len(back),
                                     list(orig - back)[:3],
                                     list(back - orig)[:3])


# -- every restriction arm, blank labels included ----------------------------

def _iri(x):
    return {"object": x, "datatype": "_IRI"}


def _map(pmap):
    return {"object": pmap, "datatype": "_JSONMAP"}


_INVERSE = _map({"owl:inverseOf": [_iri("ex:q")]})
_SOME = _map({"rdf:type": [_iri("owl:Restriction")],
              "owl:onProperty": [_iri("ex:r")],
              "owl:someValuesFrom": [_iri("ex:D")]})


def _arm(prop, key, value, on_class=None):
    pmap = {"rdf:type": [_iri("owl:Restriction")],
            "owl:onProperty": [prop], key: [value]}
    if on_class:
        pmap["owl:onClass"] = [on_class]
    return pmap


_COUNT = {"object": "1", "datatype": "xsd:nonNegativeInteger"}
ARMS = {
    "some": _arm(_INVERSE, "owl:someValuesFrom", _SOME),
    "all": _arm(_iri("ex:p"), "owl:allValuesFrom", _SOME),
    **{key: _arm(_INVERSE, f"owl:{key}",
                 {"object": "2", "datatype": "xsd:int"})
       for key in ("minCardinality", "maxCardinality", "cardinality")},
    **{key: _arm(_INVERSE, f"owl:{key}", _COUNT, _SOME)
       for key in ("minQualifiedCardinality", "maxQualifiedCardinality",
                   "qualifiedCardinality")},
    **{f"{key}-no-onClass": _arm(_iri("ex:p"), f"owl:{key}", _COUNT)
       for key in ("minQualifiedCardinality", "maxQualifiedCardinality",
                   "qualifiedCardinality")},
    "hasSelf": _arm(_INVERSE, "owl:hasSelf",
                    {"object": "true", "datatype": "xsd:boolean"}),
    "hasValue": _arm(_iri("ex:p"), "owl:hasValue", _iri("ex:i")),
}

# "s p o datatype" per emitted triple, in emission order; ``_:nK`` is the
# row's K-th fresh blank label. A qualified cardinality without
# owl:onClass matches no arm and takes the generic expansion.
GOLDEN = {
    "some": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n3 owl:onProperty ex:r _IRI
_:n3 owl:someValuesFrom ex:D _IRI
_:n3 rdf:type owl:Restriction _IRI
_:n1 owl:someValuesFrom _:n3 _JSONMAP
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "all": """
_:n1 owl:onProperty ex:p _IRI
_:n2 owl:onProperty ex:r _IRI
_:n2 owl:someValuesFrom ex:D _IRI
_:n2 rdf:type owl:Restriction _IRI
_:n1 owl:allValuesFrom _:n2 _JSONMAP
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "minCardinality": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:minCardinality 2 xsd:nonNegativeInteger
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "maxCardinality": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:maxCardinality 2 xsd:nonNegativeInteger
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "cardinality": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:cardinality 2 xsd:nonNegativeInteger
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "minQualifiedCardinality": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:minQualifiedCardinality 1 xsd:nonNegativeInteger
_:n3 owl:onProperty ex:r _IRI
_:n3 owl:someValuesFrom ex:D _IRI
_:n3 rdf:type owl:Restriction _IRI
_:n1 owl:onClass _:n3 _JSONMAP
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "minQualifiedCardinality-no-onClass": """
_:n1 rdf:type owl:Restriction _IRI
_:n1 owl:onProperty ex:p _IRI
_:n1 owl:minQualifiedCardinality 1 xsd:nonNegativeInteger
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "maxQualifiedCardinality": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:maxQualifiedCardinality 1 xsd:nonNegativeInteger
_:n3 owl:onProperty ex:r _IRI
_:n3 owl:someValuesFrom ex:D _IRI
_:n3 rdf:type owl:Restriction _IRI
_:n1 owl:onClass _:n3 _JSONMAP
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "maxQualifiedCardinality-no-onClass": """
_:n1 rdf:type owl:Restriction _IRI
_:n1 owl:onProperty ex:p _IRI
_:n1 owl:maxQualifiedCardinality 1 xsd:nonNegativeInteger
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "qualifiedCardinality": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:qualifiedCardinality 1 xsd:nonNegativeInteger
_:n3 owl:onProperty ex:r _IRI
_:n3 owl:someValuesFrom ex:D _IRI
_:n3 rdf:type owl:Restriction _IRI
_:n1 owl:onClass _:n3 _JSONMAP
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "qualifiedCardinality-no-onClass": """
_:n1 rdf:type owl:Restriction _IRI
_:n1 owl:onProperty ex:p _IRI
_:n1 owl:qualifiedCardinality 1 xsd:nonNegativeInteger
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "hasSelf": """
_:n2 owl:inverseOf ex:q _IRI
_:n1 owl:onProperty _:n2 _JSONMAP
_:n1 owl:hasSelf true xsd:boolean
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
    "hasValue": """
_:n1 owl:onProperty ex:p _IRI
_:n1 owl:hasValue ex:i _IRI
_:n1 rdf:type owl:Restriction _IRI
ex:A rdfs:subClassOf _:n1 _JSONMAP""",
}

_LABEL = re.compile(r"_:h([0-9a-f]{16})n")


@pytest.mark.parametrize("arm", list(ARMS))
def test_restriction_arm_golden(arm):
    """Every translate-restriction arm (thick2thin.clj:294-314) with
    compound fillers, so the order of fresh blank labels is pinned."""
    out = expand_statement_row(
        _row("ex:A", "rdfs:subClassOf", ARMS[arm]), typed_owl=True)
    cells = [(t["subject"], t["predicate"], t["object"], t["datatype"])
             for t in out]
    # one row hash for every label; the counter after it carries order
    assert len({h for c in cells for h in _LABEL.findall(" ".join(c))}) \
        == 1
    assert [_LABEL.sub("_:n", " ".join(c)) for c in cells] == \
        GOLDEN[arm].strip().split("\n")
