"""Golden thin→thick fixtures (FIXTURES.md §5, cases 1-10), pinning the
rewrite chain of /root/reference/src/ldtab/thin2thick.clj:302-333 and
the round-trip through core.expand.
"""

import json

import pytest

from ldtab_clj_spark.core.expand import (expand_statement_row,
                                         merge_existential_rows)
from ldtab_clj_spark.core.thick import (drop_superfluous_annotations,
                                         thin_to_thick, to_statement_row)


def t(s, p, o, dt="_IRI"):
    return {"subject": s, "predicate": p, "object": o, "datatype": dt,
            "is_blank_s": s.startswith("_:"),
            "is_blank_o": dt == "_JSONMAP" and o.startswith("_:")}


def rows(triples):
    return [to_statement_row(x) for x in thin_to_thick(triples)]


def by_pred(out, pred):
    return [r for r in out if r["predicate"] == pred]


# -- case 1: plain triple ------------------------------------------------

def test_plain_triple():
    out = rows([t("ex:a", "ex:p", "ex:b")])
    assert out == [{"assertion": 1, "retraction": 0, "graph": "graph",
                    "subject": "ex:a", "predicate": "ex:p",
                    "object": "ex:b", "datatype": "_IRI",
                    "annotation": None}]


# -- case 2: literals ----------------------------------------------------

def test_literals():
    out = rows([t("ex:a", "rdfs:label", "hello", "@en"),
                t("ex:a", "ex:count", "5", "xsd:nonNegativeInteger")])
    dts = {r["predicate"]: r["datatype"] for r in out}
    assert dts == {"rdfs:label": "@en", "ex:count": "xsd:nonNegativeInteger"}


# -- case 3: blank-node restriction → key-sorted _JSONMAP -----------------

RESTRICTION = [
    t("obo:X", "rdfs:subClassOf", "_:r", "_JSONMAP"),
    t("_:r", "rdf:type", "owl:Restriction"),
    t("_:r", "owl:onProperty", "obo:RO_0000085"),
    t("_:r", "owl:someValuesFrom", "obo:OBI_0001043"),
]


def test_restriction_collapses_to_sorted_jsonmap():
    out = rows(RESTRICTION)
    assert len(out) == 1
    r = out[0]
    assert r["subject"] == "obo:X"
    assert r["datatype"] == "_JSONMAP"
    # exact canonical string from thin2thick_test.clj:11-13 (sorted keys)
    assert r["object"] == (
        '{"owl:onProperty":[{"datatype":"_IRI","object":"obo:RO_0000085"}],'
        '"owl:someValuesFrom":[{"datatype":"_IRI","object":"obo:OBI_0001043"}],'
        '"rdf:type":[{"datatype":"_IRI","object":"owl:Restriction"}]}')


# -- case 4: OWL annotation folding (annotation_handling.clj:127-142) -----

ANNOTATION = [
    t("_:B", "obo:IAO_0010000", "obo:050-003"),
    t("_:B", "owl:annotatedTarget", "target", "xsd:string"),
    t("_:B", "owl:annotatedProperty", "obo:IAO_0000602"),
    t("_:B", "owl:annotatedSource", "obo:BFO_0000020"),
    t("_:B", "rdf:type", "owl:Axiom"),
]


def test_owl_axiom_folds_to_annotation_column():
    out = rows(ANNOTATION)
    assert len(out) == 1
    r = out[0]
    assert (r["subject"], r["predicate"], r["object"], r["datatype"]) == \
        ("obo:BFO_0000020", "obo:IAO_0000602", "target", "xsd:string")
    ann = json.loads(r["annotation"])
    assert ann == {"obo:IAO_0010000": [
        {"object": "obo:050-003", "datatype": "_IRI", "meta": "owl:Axiom"}]}


# -- case 5: RDF reification ----------------------------------------------

REIFICATION = [
    t("_:S", "rdf:subject", "ex:s"),
    t("_:S", "rdf:predicate", "ex:p"),
    t("_:S", "rdf:object", "ex:o"),
    t("_:S", "rdf:type", "rdf:Statement"),
    t("_:S", "ex:comment", "noted", "xsd:string"),
]


def test_reification_folds_with_meta_tag():
    out = rows(REIFICATION)
    assert len(out) == 1
    r = out[0]
    assert (r["subject"], r["predicate"], r["object"]) == \
        ("ex:s", "ex:p", "ex:o")
    ann = json.loads(r["annotation"])
    assert ann["ex:comment"][0]["meta"] == "rdf:Reification"
    # reference quirk preserved: rdf:subject/predicate/object stay in the
    # annotation map (annotation_handling.clj:83-86 removes only owl:* keys)
    assert "rdf:subject" in ann


# -- case 6: nested annotation (annotation-of-annotation) ------------------

NESTED = [
    # inner axiom annotating (ex:s ex:p ex:o)
    t("_:A1", "owl:annotatedSource", "ex:s"),
    t("_:A1", "owl:annotatedProperty", "ex:p"),
    t("_:A1", "owl:annotatedTarget", "ex:o"),
    t("_:A1", "rdf:type", "owl:Axiom"),
    t("_:A1", "ex:evidence", "ev1"),
    # outer axiom annotating the inner annotation's ex:evidence leaf
    t("_:A2", "owl:annotatedSource", "_:A1", "_JSONMAP"),
    t("_:A2", "owl:annotatedProperty", "ex:evidence"),
    t("_:A2", "owl:annotatedTarget", "ev1"),
    t("_:A2", "rdf:type", "owl:Annotation"),
    t("_:A2", "ex:confidence", "high"),
]


def test_nested_annotation_recursion():
    out = rows(NESTED)
    # the inner stanza is consumed by the outer recursion; one row remains
    anns = [r for r in out if r["annotation"]]
    assert len(anns) == 1
    r = anns[0]
    assert (r["subject"], r["predicate"], r["object"]) == \
        ("ex:s", "ex:p", "ex:o")
    ann = json.loads(r["annotation"])
    leaf = ann["ex:evidence"][0]
    assert leaf["object"] == "ev1"
    nested = leaf["annotation"]
    assert nested["ex:confidence"][0]["meta"] == "owl:Annotation"


# -- nested and mixed reification -----------------------------------------

STATEMENT_S1 = [
    t("_:S1", "rdf:subject", "ex:s"),
    t("_:S1", "rdf:predicate", "ex:p"),
    t("_:S1", "rdf:object", "ex:o"),
    t("_:S1", "rdf:type", "rdf:Statement"),
    t("_:S1", "ex:evidence", "ev1"),
]


def _about_evidence(keys, source, rdf_type):
    """An outer reification of ``source``'s ex:evidence leaf, in the
    ``keys`` vocabulary."""
    b = "_:O"
    return [t(b, keys[0], source, "_JSONMAP"), t(b, keys[1], "ex:evidence"),
            t(b, keys[2], "ev1"), t(b, "rdf:type", rdf_type),
            t(b, "ex:confidence", "high", "xsd:string")]


OWL_KEYS = ("owl:annotatedSource", "owl:annotatedProperty",
            "owl:annotatedTarget")
RDF_KEYS = ("rdf:subject", "rdf:predicate", "rdf:object")


def _leaf(obj, meta, dt="_IRI"):
    return {"datatype": dt, "meta": meta, "object": obj}


def test_nested_reification_recursion():
    """An rdf:Statement about an rdf:Statement's ex:evidence leaf folds
    onto that leaf, as the owl:* nesting does; both maps keep their
    rdf:subject/predicate/object (annotation_handling.clj:83-86)."""
    out = rows(STATEMENT_S1 + _about_evidence(RDF_KEYS, "_:S1",
                                              "rdf:Statement"))
    assert len(out) == 1
    r = out[0]
    assert (r["subject"], r["predicate"], r["object"], r["datatype"]) == \
        ("ex:s", "ex:p", "ex:o", "_IRI")
    reif = "rdf:Reification"
    s1 = {"ex:evidence": [{"datatype": "_IRI", "object": "ev1"}],
          "rdf:object": [{"datatype": "_IRI", "object": "ex:o"}],
          "rdf:predicate": [{"datatype": "_IRI", "object": "ex:p"}],
          "rdf:subject": [{"datatype": "_IRI", "object": "ex:s"}],
          "rdf:type": [{"datatype": "_IRI", "object": "rdf:Statement"}]}
    outer = {"ex:confidence": [_leaf("high", reif, "xsd:string")],
             "rdf:object": [_leaf("ev1", reif)],
             "rdf:predicate": [_leaf("ex:evidence", reif)],
             "rdf:subject": [_leaf(s1, reif, "_JSONMAP")]}
    assert json.loads(r["annotation"]) == {
        "ex:evidence": [dict(_leaf("ev1", reif), annotation=outer)],
        "rdf:object": [_leaf("ex:o", reif)],
        "rdf:predicate": [_leaf("ex:p", reif)],
        "rdf:subject": [_leaf("ex:s", reif)]}


@pytest.mark.parametrize("inner,keys,rdf_type,skolem", [
    (STATEMENT_S1, OWL_KEYS, "owl:Annotation",
     "<wiring:blanknode:7e722dc495378f67>"),
    (NESTED[:5], RDF_KEYS, "rdf:Statement",
     "<wiring:blanknode:503f64d95b74447c>"),
], ids=["axiom_over_statement", "statement_over_axiom"])
def test_mixed_nesting_stays_unfolded(inner, keys, rdf_type, skolem):
    """A nested fold reads the outer map through the INNER source's
    vocabulary (annotation_handling.clj:55-75, 98-117), so an owl:Axiom
    over an rdf:Statement source, or the reverse, finds no source: the
    outer stanza stays as its split wiring rows and the inner one is
    kept whole as the source object."""
    out = rows(inner + _about_evidence(keys, inner[0]["subject"],
                                       rdf_type))
    assert {r["subject"] for r in out} == {skolem}
    assert all(r["annotation"] is None for r in out)
    source = next(r for r in out if r["predicate"] == keys[0])
    assert source["datatype"] == "_JSONMAP"
    assert json.loads(source["object"]) == {
        x["predicate"]: [{"datatype": x["datatype"], "object": x["object"]}]
        for x in inner}
    assert {(r["predicate"], r["object"], r["datatype"])
            for r in out if r is not source} == {
        (keys[1], "ex:evidence", "_IRI"), (keys[2], "ev1", "_IRI"),
        ("rdf:type", rdf_type, "_IRI"),
        ("ex:confidence", "high", "xsd:string")}


def test_blank_annotated_property_matches_no_leaf():
    """A nested annotation whose owl:annotatedProperty is a blank node
    (a predicate map, not a CURIE) attaches to no leaf of the inner
    annotation: the inner axiom folds alone instead of raising."""
    out = rows(NESTED[:5] + [
        t("_:A2", "owl:annotatedSource", "_:A1", "_JSONMAP"),
        t("_:A2", "owl:annotatedProperty", "_:P", "_JSONMAP"),
        t("_:A2", "owl:annotatedTarget", "ev1"),
        t("_:A2", "rdf:type", "owl:Axiom"),
        t("_:A2", "ex:confidence", "high", "xsd:string"),
    ])
    assert [(r["subject"], r["predicate"], r["object"],
             json.loads(r["annotation"])) for r in out] == [
        ("ex:s", "ex:p", "ex:o",
         {"ex:evidence": [_leaf("ev1", "owl:Axiom")]})]


# -- case 7: RDF list keeps element order ----------------------------------

RDF_LIST = [
    t("ex:C", "owl:intersectionOf", "_:l1", "_JSONMAP"),
    t("_:l1", "rdf:first", "ex:Y"),
    t("_:l1", "rdf:rest", "_:l2", "_JSONMAP"),
    t("_:l2", "rdf:first", "ex:A"),
    t("_:l2", "rdf:rest", "rdf:nil"),
]


def test_rdf_list_order_preserved():
    out = rows(RDF_LIST)
    assert len(out) == 1
    r = out[0]
    assert r["datatype"] == "_JSONLIST"
    items = [x["object"] for x in json.loads(r["object"])]
    assert items == ["ex:Y", "ex:A"]  # NOT sorted: Y before A


# -- case 8: GCI — compound class expression moves into subject ------------

GCI = [
    t("_:g", "rdf:type", "owl:Restriction"),
    t("_:g", "owl:onProperty", "ex:partOf"),
    t("_:g", "owl:someValuesFrom", "ex:A"),
    t("_:g", "rdfs:subClassOf", "ex:B"),
]


def test_gci_json_subject():
    out = rows(GCI)
    assert len(out) == 1
    r = out[0]
    subj = json.loads(r["subject"])
    assert set(subj) == {"rdf:type", "owl:onProperty", "owl:someValuesFrom"}
    assert (r["predicate"], r["object"], r["datatype"]) == \
        ("rdfs:subClassOf", "ex:B", "_IRI")


# -- case 9: root blank node → skolemized wiring rows ----------------------

DISJOINT = [
    t("_:d", "rdf:type", "owl:AllDisjointClasses"),
    t("_:d", "owl:members", "_:m1", "_JSONMAP"),
    t("_:m1", "rdf:first", "ex:A"),
    t("_:m1", "rdf:rest", "_:m2", "_JSONMAP"),
    t("_:m2", "rdf:first", "ex:B"),
    t("_:m2", "rdf:rest", "rdf:nil"),
]


def test_root_blanknode_skolemized_and_split():
    out = rows(DISJOINT)
    subjects = {r["subject"] for r in out}
    assert len(subjects) == 1
    subj = subjects.pop()
    assert subj.startswith("<wiring:blanknode:")
    preds = {r["predicate"]: r for r in out}
    assert preds["rdf:type"]["object"] == "owl:AllDisjointClasses"
    members = json.loads(preds["owl:members"]["object"])
    assert [x["object"] for x in members] == ["ex:A", "ex:B"]
    assert preds["owl:members"]["datatype"] == "_JSONLIST"


def test_skolem_ids_are_content_addressed():
    # same stanza content → same skolem subject, independent of label
    relabeled = [dict(x) for x in DISJOINT]
    for x in relabeled:
        for k in ("subject", "object"):
            if isinstance(x[k], str) and x[k].startswith("_:"):
                x[k] = x[k].replace("_:", "_:zz")
    assert {r["subject"] for r in rows(relabeled)} == \
        {r["subject"] for r in rows(DISJOINT)}


def test_unknown_and_ambiguous_types():
    # thin2thick.clj:65-72
    no_type = [t("_:n", "ex:p", "ex:o")]
    out = thin_to_thick(no_type)
    assert any(r["predicate"] == "ex:p" for r in out)
    two_types = [t("_:n", "rdf:type", "owl:Axiom"),
                 t("_:n", "rdf:type", "owl:Class"),
                 t("_:n", "ex:p", "ex:o")]
    out2 = rows(two_types)
    assert {r["predicate"] for r in out2} >= {"rdf:type", "ex:p"}


# -- round-trip: statement rows → thin → thick → identical rows ------------

def roundtrip(statement_rows):
    merged = merge_existential_rows(statement_rows)
    thin = [tt for row in merged for tt in expand_statement_row(row)]
    # export re-states the base triple of every annotated row
    # (thick_rdf.clj:215); re-import drops the bare duplicate
    # (import.clj:199-201)
    return drop_superfluous_annotations(rows(thin))


def canon_set(rws):
    return {(r["subject"], r["predicate"], r["object"], r["datatype"],
             r["annotation"]) for r in rws}


def test_roundtrip_all_fixtures():
    for fixture in (RESTRICTION, ANNOTATION, REIFICATION, NESTED,
                    RDF_LIST, GCI, DISJOINT,
                    [t("ex:a", "ex:p", "ex:b")],
                    [t("ex:a", "rdfs:label", "hello", "@en")]):
        original = rows(fixture)
        again = roundtrip(original)
        assert canon_set(again) == canon_set(original), fixture


# -- annotated GCI (gci_handling.clj:64-85) ---------------------------------

GCI_ANNOTATED = [
    # owl:Axiom whose annotatedSource is a compound class expression
    # carrying rdfs:subClassOf
    t("_:ax", "rdf:type", "owl:Axiom"),
    t("_:ax", "owl:annotatedSource", "_:g", "_JSONMAP"),
    t("_:ax", "owl:annotatedProperty", "rdfs:subClassOf"),
    t("_:ax", "owl:annotatedTarget", "ex:B"),
    t("_:ax", "ex:evidence", "ev9"),
    t("_:g", "rdf:type", "owl:Restriction"),
    t("_:g", "owl:onProperty", "ex:partOf"),
    t("_:g", "owl:someValuesFrom", "ex:A"),
    t("_:g", "rdfs:subClassOf", "ex:B"),
]


def test_annotated_gci():
    out = rows(GCI_ANNOTATED)
    gci = [r for r in out if r["annotation"]
           and r["predicate"] == "rdfs:subClassOf"]
    assert len(gci) == 1
    r = gci[0]
    subj = json.loads(r["subject"])
    assert "rdfs:subClassOf" not in subj
    assert "owl:someValuesFrom" in subj
    assert r["object"] == "ex:B"
    ann = json.loads(r["annotation"])
    assert ann["ex:evidence"][0]["meta"] == "owl:Axiom"


# -- history update: apply_diff + replay consistency ------------------------

def test_apply_diff_replay(spark):
    from ldtab_clj_spark.operators.diff import (apply_diff, current_state,
                                                CONTENT_COLS)
    from ldtab_clj_spark.schemas import STATEMENT
    base = spark.createDataFrame(
        [(1, 0, "graph", f"ex:s{i}", "ex:p", f"o{i}", "xsd:string", None)
         for i in range(10)], STATEMENT)
    new = spark.createDataFrame(
        # drop s0/s1, keep 2-9, add s10/s11
        [(0, 0, "graph", f"ex:s{i}", "ex:p", f"o{i}", "xsd:string", None)
         for i in range(2, 12)], STATEMENT).select(*CONTENT_COLS)
    updated = apply_diff(base, base.select(*CONTENT_COLS), new, 2)
    live_now = {r.subject for r in
                current_state(updated, at_transaction=2).collect()}
    assert live_now == {f"ex:s{i}" for i in range(2, 12)}
    live_before = {r.subject for r in
                   current_state(updated, at_transaction=1).collect()}
    assert live_before == {f"ex:s{i}" for i in range(10)}
    # retracted rows keep their content with retraction=2 (diff.clj:82-93)
    retracted = {r.subject for r in
                 updated.filter("retraction = 2").collect()}
    assert retracted == {"ex:s0", "ex:s1"}


def test_apply_diff_preserves_history_on_readd_retract(spark):
    """Regression: re-adding and re-retracting the same content must
    not rewrite PRIOR retraction ids (only live rows are markable)."""
    from ldtab_clj_spark.operators.diff import (CONTENT_COLS, apply_diff,
                                                current_state)
    from ldtab_clj_spark.schemas import STATEMENT
    x = ("graph", "ex:x", "ex:p", "v", "xsd:string", None)
    # history: added t1, retracted t2, re-added t3 (live)
    hist = spark.createDataFrame(
        [(1, 2, *x), (3, 0, *x)], STATEMENT)
    empty = spark.createDataFrame([], STATEMENT).select(*CONTENT_COLS)
    # t4: retract again (new state = empty)
    updated = apply_diff(hist, current_state(hist), empty, 4)
    rows = {(r.assertion, r.retraction) for r in updated.collect()}
    assert rows == {(1, 2), (3, 4)}  # t2 retraction untouched
    assert {r.subject for r in
            current_state(updated, at_transaction=2).collect()} == set()
    assert {r.subject for r in
            current_state(updated, at_transaction=3).collect()} == {"ex:x"}


def test_dedup_preserves_history_rows(spark):
    """Regression: dedup must never merge rows from different
    transactions (min(assertion)+min(retraction) would resurrect
    retracted content)."""
    from ldtab_clj_spark.operators.materialize import dedup_statements
    from ldtab_clj_spark.schemas import STATEMENT
    x = ("graph", "ex:y", "ex:p", "v", "xsd:string", None)
    df = spark.createDataFrame([(1, 5, *x), (7, 0, *x)], STATEMENT)
    rows = {(r.assertion, r.retraction) for r in
            dedup_statements(df).collect()}
    assert rows == {(1, 5), (7, 0)}


def test_long_rdf_list_folds_iteratively():
    """Regression: recursion depth used to equal LIST LENGTH, so a
    >64-member owl:members/oneOf list tripped the nesting guard
    ("blank-node nesting exceeds 64") — real ontologies have long
    lists. Pure chains now fold iteratively with order preserved."""
    from ldtab_clj_spark.core.thick import thin_to_thick
    n = 300
    thin = [{"subject": "ex:D", "predicate": "owl:members",
             "object": "_:l0", "datatype": "_JSONMAP",
             "is_blank_s": False, "is_blank_o": True}]
    for i in range(n):
        thin.append({"subject": f"_:l{i}", "predicate": "rdf:first",
                     "object": f"ex:m{i}", "datatype": "_IRI",
                     "is_blank_s": True, "is_blank_o": False})
        last = i + 1 == n
        thin.append({"subject": f"_:l{i}", "predicate": "rdf:rest",
                     "object": "rdf:nil" if last else f"_:l{i+1}",
                     "datatype": "_IRI" if last else "_JSONMAP",
                     "is_blank_s": True, "is_blank_o": not last})
    out = thin_to_thick(thin)
    assert len(out) == 1
    row = out[0]
    assert row["datatype"] == "_JSONLIST"
    assert [e["object"] for e in row["object"]] == \
        [f"ex:m{i}" for i in range(n)]


def test_deep_non_list_nesting_still_guarded():
    """The cycle/depth guard still fires for genuinely deep non-list
    blank trees."""
    import pytest

    from ldtab_clj_spark.core.thick import thin_to_thick
    thin = []
    for i in range(80):
        thin.append({"subject": f"_:b{i}", "predicate": "ex:child",
                     "object": f"_:b{i+1}", "datatype": "_JSONMAP",
                     "is_blank_s": True, "is_blank_o": True})
    with pytest.raises(ValueError, match="nesting exceeds"):
        thin_to_thick(thin)


def test_diff_statements_matches_exceptall(spark):
    """The counted single-pass diff_statements must be multiset-
    identical to the two-exceptAll form it replaced (r06 shuffle
    optimization) — including duplicate rows, rows only differing in
    annotation, and null annotations."""
    import random

    from pyspark.sql import functions as F

    from ldtab_clj_spark.operators.diff import (CONTENT_COLS,
                                                diff_statements)
    from ldtab_clj_spark.schemas import STATEMENT

    rng = random.Random(7)

    def rows(n):
        out = []
        for _ in range(n):
            out.append((1, 0, "graph", f"ex:s{rng.randrange(8)}",
                        "ex:p", f"o{rng.randrange(4)}", "xsd:string",
                        rng.choice([None, '{"a":1}'])))
        return out

    old = spark.createDataFrame(rows(60), STATEMENT)
    new = spark.createDataFrame(rows(60), STATEMENT)
    got = diff_statements(old, new, transaction_id=5)

    o, n = old.select(*CONTENT_COLS), new.select(*CONTENT_COLS)
    added = (n.exceptAll(o)
             .withColumn("assertion", F.lit(5).cast("long"))
             .withColumn("retraction", F.lit(0).cast("long")))
    retracted = (o.exceptAll(n)
                 .withColumn("assertion", F.lit(0).cast("long"))
                 .withColumn("retraction", F.lit(5).cast("long")))
    cols = ["assertion", "retraction", *CONTENT_COLS]
    want = added.select(*cols).unionByName(retracted.select(*cols))

    assert got.columns == cols

    def norm(df):
        return sorted((tuple("" if v is None else v for v in r)
                       for r in df.collect()))

    assert norm(got) == norm(want)
