"""Turtle + RDF/XML sources: parser unit tests, cross-format agreement
(same graph in .ttl / .owl / .nt must import to the same statement
table), and the reference's own ontology.owl fixture round-tripped
end-to-end (its correctness oracle: import.clj:148-154 +
Makefile round-trip target)."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kg_helpers import stmt_keys
from ldtab_clj_spark.sources.rdfxml import import_rdfxml, parse_rdfxml
from ldtab_clj_spark.sources.turtle import (TurtleError, import_turtle,
                                            parse_turtle)

PREFIXES = [("ex", "http://example.com/"),
            ("obo", "http://purl.obolibrary.org/obo/"),
            ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
            ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
            ("owl", "http://www.w3.org/2002/07/owl#"),
            ("xsd", "http://www.w3.org/2001/XMLSchema#")]

REF_OWL = Path("/root/reference/resources/ontology.owl")

TTL = """\
@prefix ex: <http://example.com/> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .

ex:A a owl:Class ;
    rdfs:label "Widget A"@en ;
    ex:count "5"^^xsd:integer ;
    rdfs:subClassOf [ a owl:Restriction ;
                      owl:onProperty ex:p ;
                      owl:someValuesFrom ex:B ] .
ex:D a owl:AllDisjointClasses ;
    owl:members ( ex:A ex:B ex:C ) .
"""

# the same graph, hand-translated (blank labels differ; that's the point)
NT = """\
<http://example.com/A> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Class> .
<http://example.com/A> <http://www.w3.org/2000/01/rdf-schema#label> "Widget A"@en .
<http://example.com/A> <http://example.com/count> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://example.com/A> <http://www.w3.org/2000/01/rdf-schema#subClassOf> _:r .
_:r <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Restriction> .
_:r <http://www.w3.org/2002/07/owl#onProperty> <http://example.com/p> .
_:r <http://www.w3.org/2002/07/owl#someValuesFrom> <http://example.com/B> .
<http://example.com/D> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#AllDisjointClasses> .
<http://example.com/D> <http://www.w3.org/2002/07/owl#members> _:l1 .
_:l1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> <http://example.com/A> .
_:l1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> _:l2 .
_:l2 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> <http://example.com/B> .
_:l2 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> _:l3 .
_:l3 <http://www.w3.org/1999/02/22-rdf-syntax-ns#first> <http://example.com/C> .
_:l3 <http://www.w3.org/1999/02/22-rdf-syntax-ns#rest> <http://www.w3.org/1999/02/22-rdf-syntax-ns#nil> .
"""

OWL_XML = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:ex="http://example.com/">
  <owl:Class rdf:about="http://example.com/A">
    <rdfs:label xml:lang="en">Widget A</rdfs:label>
    <ex:count rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">5</ex:count>
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://example.com/p"/>
        <owl:someValuesFrom rdf:resource="http://example.com/B"/>
      </owl:Restriction>
    </rdfs:subClassOf>
  </owl:Class>
  <owl:AllDisjointClasses rdf:about="http://example.com/D">
    <owl:members rdf:parseType="Collection">
      <rdf:Description rdf:about="http://example.com/A"/>
      <rdf:Description rdf:about="http://example.com/B"/>
      <rdf:Description rdf:about="http://example.com/C"/>
    </owl:members>
  </owl:AllDisjointClasses>
</rdf:RDF>
"""


@pytest.fixture(scope="module")
def prefix_df(spark):
    return spark.createDataFrame(PREFIXES, "prefix string, base string")


def test_parse_turtle_core_forms():
    triples = parse_turtle(TTL)
    assert ("http://example.com/A",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://www.w3.org/2002/07/owl#Class", "_IRI") in triples
    # lang tag, typed literal, list cells
    assert ("http://example.com/A",
            "http://www.w3.org/2000/01/rdf-schema#label",
            "Widget A", "@en") in triples
    firsts = [t for t in triples if t[1].endswith("#first")]
    assert len(firsts) == 3


def test_parse_turtle_errors():
    with pytest.raises(TurtleError):
        parse_turtle("ex:a ex:b ex:c .")  # undefined prefix
    with pytest.raises(TurtleError):
        parse_turtle("@prefix ex: <http://x/> . ex:a ex:b ")  # no '.'


def test_three_formats_agree(spark, tmp_path, prefix_df):
    """The same graph as .ttl, .owl and .nt must produce the SAME
    statement table (blank labels differ per format — content-hash
    skolemization makes them converge)."""
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    (tmp_path / "g.ttl").write_text(TTL)
    (tmp_path / "g.owl").write_text(OWL_XML)
    (tmp_path / "g.nt").write_text(NT)
    ttl = stmt_keys(import_turtle(spark, str(tmp_path / "g.ttl"),
                                  prefix_df))
    owl = stmt_keys(import_rdfxml(spark, str(tmp_path / "g.owl"),
                                  prefix_df))
    nt = stmt_keys(import_ntriples(spark, str(tmp_path / "g.nt"),
                                   prefix_df))
    assert ttl == owl == nt
    # the restriction bnode folds into the subClassOf object JSON
    assert any("someValuesFrom" in (o or "") for _, _, o, _, _ in ttl)


@pytest.mark.skipif(not REF_OWL.exists(), reason="reference not mounted")
def test_reference_ontology_roundtrip(spark, tmp_path, prefix_df):
    """Import the reference's OWN oracle fixture (ontology.owl), export
    to N-Triples, re-import: the two statement tables must agree at
    P/R ≥ 0.95 — the reference's round-trip criterion."""
    from ldtab_clj_spark.operators.export import write_ntriples
    first = import_rdfxml(spark, str(REF_OWL), prefix_df).localCheckpoint()
    nt_dir = str(tmp_path / "onto_nt")
    write_ntriples(first, prefix_df, nt_dir)
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    again = import_ntriples(spark, nt_dir, prefix_df)
    orig, back = stmt_keys(first), stmt_keys(again)
    tp = len(orig & back)
    p, r = tp / len(back), tp / len(orig)
    assert p >= 0.95 and r >= 0.95, (p, r, len(orig), len(back),
                                     list(orig - back)[:3],
                                     list(back - orig)[:3])


def test_blank_label_no_dot_swallow():
    """Regression: '_:b1.' (no space before the statement terminator)
    must tokenize as the label _:b1 followed by '.' — a label cannot
    end in a dot."""
    triples = parse_turtle("@prefix ex: <http://x/> .\n"
                           "ex:s ex:p _:b1.\n_:b1 ex:q ex:o .")
    assert ("http://x/s", "http://x/p", "_:b1", "_JSONMAP") in triples


def test_base_document_style_resolution():
    """Regression: a document-style @base (…/onto.owl) trims its last
    path segment for non-fragment relative IRIs (matching rdfxml.py)."""
    triples = parse_turtle("@base <http://ex.org/onto.owl> .\n"
                           "<foo> <#frag> <> .")
    assert triples == [("http://ex.org/foo", "http://ex.org/onto.owl#frag",
                        "http://ex.org/onto.owl", "_IRI")]


def test_multi_file_blank_labels_do_not_collide(spark, tmp_path,
                                                prefix_df):
    """Regression: anonymous bnode counters restart per file; without
    file-scoped salting the component closure would merge unrelated
    stanzas from different files of one directory import."""
    (tmp_path / "a.ttl").write_text(
        "@prefix ex: <http://example.com/> .\n"
        "ex:A ex:has [ ex:tag \"one\" ] .\n")
    (tmp_path / "b.ttl").write_text(
        "@prefix ex: <http://example.com/> .\n"
        "ex:B ex:has [ ex:tag \"two\" ] .\n")
    merged = import_turtle(spark, str(tmp_path), prefix_df)
    rows = merged.collect()
    # each ex:has object must contain ONLY its own file's tag
    objs = {r.subject: r.object for r in rows if r.predicate == "ex:has"}
    assert "one" in objs["ex:A"] and "two" not in objs["ex:A"]
    assert "two" in objs["ex:B"] and "one" not in objs["ex:B"]


def test_turtle_export_roundtrip(spark, tmp_path, prefix_df):
    """write_turtle emits parseable Turtle with an @prefix header and
    compacted CURIEs; re-importing it reproduces the statement table
    (K3 parity: export.clj:59-70)."""
    from ldtab_clj_spark.operators.export import write_turtle
    from ldtab_clj_spark.plans.pipeline import build_statements
    from ldtab_clj_spark.synth import entity_dictionary, synth_docs
    docs = synth_docs(spark, 40, seed=21)
    statements = build_statements(docs, entity_dictionary(spark)) \
        .localCheckpoint()
    out = str(tmp_path / "out_ttl")
    write_turtle(statements, prefix_df, out)
    # header present + compaction actually happened
    parts = sorted(Path(out).glob("part-*"))
    text = parts[0].read_text()
    assert text.startswith("@prefix ")
    assert "ex:" in text
    again = import_turtle(spark, out, prefix_df)
    orig, back = stmt_keys(statements), stmt_keys(again)
    tp = len(orig & back)
    p, r = tp / len(back), tp / len(orig)
    assert p >= 0.95 and r >= 0.95, (p, r, len(orig), len(back),
                                     list(orig - back)[:3],
                                     list(back - orig)[:3])


@pytest.mark.skipif(not REF_OWL.exists(), reason="reference not mounted")
def test_reference_ontology_turtle_export(spark, tmp_path, prefix_df):
    """ontology.owl → statements → Turtle → re-import ≥ 0.95 P/R: the
    reference's own fixture through the presentational-parity path."""
    from ldtab_clj_spark.operators.export import write_turtle
    first = import_rdfxml(spark, str(REF_OWL), prefix_df).localCheckpoint()
    out = str(tmp_path / "onto_ttl")
    write_turtle(first, prefix_df, out)
    again = import_turtle(spark, out, prefix_df)
    orig, back = stmt_keys(first), stmt_keys(again)
    tp = len(orig & back)
    p, r = tp / len(back), tp / len(orig)
    assert p >= 0.95 and r >= 0.95, (p, r, len(orig), len(back),
                                     list(orig - back)[:3],
                                     list(back - orig)[:3])


@pytest.mark.skipif(not REF_OWL.exists(), reason="reference not mounted")
def test_reference_ontology_parses_fully():
    triples = parse_rdfxml(REF_OWL.read_text())
    assert len(triples) == 276
    assert sum(1 for t in triples if t[2].endswith("Restriction")) == 18
    assert sum(1 for t in triples if t[1].endswith("#first")) == 17


def test_long_collection_roundtrip(spark, tmp_path, prefix_df):
    """A 100-member collection imports (iterative list fold — used to
    crash the stanza chain at >64), exports to Turtle, and re-imports
    to the same statement set."""
    from ldtab_clj_spark.operators.export import write_turtle
    members = " ".join(f"ex:m{i}" for i in range(100))
    (tmp_path / "long.ttl").write_text(
        "@prefix ex: <http://example.com/> .\n"
        "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
        f"ex:D a owl:AllDisjointClasses ; owl:members ( {members} ) .\n")
    first = import_turtle(spark, str(tmp_path / "long.ttl"), prefix_df) \
        .localCheckpoint()
    rows = first.collect()
    assert any(r.datatype == "_JSONLIST" and r.object.count("ex:m") == 100
               for r in rows)
    out = str(tmp_path / "long_out")
    write_turtle(first, prefix_df, out)
    again = import_turtle(spark, out, prefix_df)
    assert stmt_keys(first) == stmt_keys(again)


def test_rdfxml_xml_base_scoped_and_rdf_id():
    """xml:base resolves per element (a nested relative xml:base
    resolves against the outer one); rdf:ID designates <#id> against
    the in-scope base — matching what Jena accepts for OWL files
    (rdf_model.clj:42-51)."""
    xml = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                 xmlns:ex="http://example.com/v#"
                 xml:base="http://example.com/base/doc.owl">
      <rdf:Description rdf:ID="x">
        <ex:p rdf:resource="other"/>
      </rdf:Description>
      <rdf:Description rdf:about="rel" xml:base="http://other.org/sub/">
        <ex:p rdf:resource="../up"/>
      </rdf:Description>
    </rdf:RDF>"""
    got = set(parse_rdfxml(xml))
    assert got == {
        ("http://example.com/base/doc.owl#x", "http://example.com/v#p",
         "http://example.com/base/other", "_IRI"),
        ("http://other.org/sub/rel", "http://example.com/v#p",
         "http://other.org/up", "_IRI")}


def test_rdfxml_relative_iri_without_base_fails_fast():
    """A relative rdf:about / rdf:resource / rdf:ID with no xml:base
    in scope must raise (not mint fragment-only IRIs into the table),
    matching the parser's fail-fast behavior elsewhere."""
    from ldtab_clj_spark.sources.rdfxml import RdfXmlError
    head = ('<rdf:RDF xmlns:rdf='
            '"http://www.w3.org/1999/02/22-rdf-syntax-ns#" '
            'xmlns:ex="http://example.com/v#">')
    for body in ['<rdf:Description rdf:about="rel"/>',
                 '<rdf:Description rdf:ID="x"/>',
                 '<rdf:Description rdf:about="http://a/s">'
                 '<ex:p rdf:resource="rel"/></rdf:Description>']:
        with pytest.raises(RdfXmlError, match="no xml:base"):
            parse_rdfxml(f"{head}{body}</rdf:RDF>")


def test_rdfxml_parsetype_literal_matches_ntriples(spark, tmp_path,
                                                   prefix_df):
    """rdf:parseType="Literal" (XMLLiteral passthrough, markup + tails
    preserved) imports to the same statements as its N-Triples
    equivalent."""
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    xml = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                 xmlns:ex="http://example.com/">
      <rdf:Description rdf:about="http://example.com/s">
        <ex:doc rdf:parseType="Literal">pre<b>bold</b>tail</ex:doc>
      </rdf:Description>
    </rdf:RDF>"""
    (tmp_path / "l.owl").write_text(xml)
    lit = "pre<b>bold</b>tail"
    nt = (f'<http://example.com/s> <http://example.com/doc> '
          f'"{lit}"^^'
          '<http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral> .\n')
    (tmp_path / "l.nt").write_text(nt)
    owl = stmt_keys(import_rdfxml(spark, str(tmp_path / "l.owl"),
                                  prefix_df))
    nts = stmt_keys(import_ntriples(spark, str(tmp_path / "l.nt"),
                                    prefix_df))
    assert owl == nts and owl


def test_rdfxml_urn_base_and_relative_xml_base_guards():
    """Non-hierarchical xml:base: rdf:ID (a fragment ref) resolves;
    path-relative refs raise; and a relative xml:base with no outer
    base raises instead of smuggling relative IRIs past the
    fail-fast."""
    from ldtab_clj_spark.sources.rdfxml import RdfXmlError
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    head = (f'<rdf:RDF xmlns:rdf="{rdf}" xmlns:ex="http://example.com/v#"')
    got = set(parse_rdfxml(
        f'{head} xml:base="urn:example:onto">'
        '<rdf:Description rdf:ID="x"><ex:p rdf:resource="#y"/>'
        "</rdf:Description></rdf:RDF>"))
    assert got == {("urn:example:onto#x", "http://example.com/v#p",
                    "urn:example:onto#y", "_IRI")}
    with pytest.raises(ValueError, match="non-hierarchical"):
        parse_rdfxml(f'{head} xml:base="urn:example:onto">'
                     '<rdf:Description rdf:about="rel"/></rdf:RDF>')
    with pytest.raises(RdfXmlError, match="relative xml:base"):
        parse_rdfxml(f'{head}><rdf:Description rdf:about="http://a/s" '
                     'xml:base="sub/"><ex:p rdf:resource="z"/>'
                     "</rdf:Description></rdf:RDF>")
