"""W3C rdf-tests–shaped conformance matrix for the Turtle,
N-Triples, and RDF/XML readers (reference parity surface: the Clojure
reference gets full conformance via Jena, import.clj:148-154).

This sandbox has no network, so the official manifest files
(https://www.w3.org/2013/TurtleTests/, .../N-Triples-Tests/) cannot be
vendored verbatim; the cases below are transcribed from the published
Turtle 1.1 / N-Triples 1.1 grammars and named after their rdf-tests
counterparts. The point of this file vs test_turtle_conformance.py:
one explicit MATRIX with a named SKIPS table (documented deviations /
unsupported features) instead of an open-ended "subset" disclaimer —
every non-skipped spec feature must parse to exactly the expected
triples, every negative case must raise.

Expected triples use the parser's deterministic output contract:
raw IRIs, ``_:anonN`` labels numbered in document order, literal
datatype "_IRI" for IRI objects / "@lang" for lang strings.
"""

import pytest

from ldtab_clj_spark.sources.ntriples import parse_nt_line
from ldtab_clj_spark.sources.turtle import TurtleError, parse_turtle

A = "http://a.example/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
P = f"@prefix p: <{A}> .\n"

# Documented deviations / unsupported features, keyed by the rdf-tests
# case family they would fail. These are DESIGN decisions, not gaps
# discovered by accident; each carries its rationale.
SKIPS = {
    "turtle-eval-relative-iri-against-document-uri":
        "relative IRIs with no @base raise TurtleError by design: a "
        "distributed scan has no document URI, and minting relative "
        "subjects would corrupt the statement table "
        "(sources/turtle.py docstring; pinned by "
        "test_relative_iri_without_base_fails_fast)",
    "turtle-eval-graph-isomorphism-bnode-relabel":
        "expected sets pin the parser's deterministic _:anonN labels "
        "instead of running a graph-isomorphism checker; stricter, "
        "never weaker, for a deterministic parser",
}

# (rdf-tests-style name, turtle text, expected (s, p, o, dt) set)
TURTLE_POSITIVE = [
    ("IRI_subject",
     f"<{A}s> <{A}p> <{A}o> .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("IRI_with_four_digit_numeric_escape",
     f"<{A}\\u0073> <{A}p> <{A}o> .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("IRI_with_eight_digit_numeric_escape",
     f"<{A}\\U00000073> <{A}p> <{A}o> .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("IRI_with_all_punctuation",
     f"<scheme:!$%25&'()*+,-./:/?#@_~> <{A}p> <{A}o> .",
     {("scheme:!$%25&'()*+,-./:/?#@_~", f"{A}p", f"{A}o", "_IRI")}),
    ("bareword_a_predicate",
     P + "p:s a p:C .",
     {(f"{A}s", f"{RDF}type", f"{A}C", "_IRI")}),
    ("old_style_prefix",
     P + "p:s p:p p:o .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("SPARQL_style_prefix",
     f"PREFIX p: <{A}>\np:s p:p p:o .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("old_style_base",
     f"@base <{A}> .\n<s> <p> <o> .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("SPARQL_style_base",
     f"BASE <{A}>\n<s> <p> <o> .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("default_namespace_IRI",
     f"@prefix : <{A}> .\n:s :p :o .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("prefix_reassigned_and_used",
     f"@prefix p: <http://old.example/> .\n@prefix p: <{A}> .\n"
     "p:s p:p p:o .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("prefix_with_PN_CHARS_BASE_character_boundaries",
     f"@prefix éۺ: <{A}> .\néۺ:s éۺ:p "
     "éۺ:o .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("localName_with_leading_digit",
     P + "p:s p:p p:11 .",
     {(f"{A}s", f"{A}p", f"{A}11", "_IRI")}),
    ("localName_with_non_leading_extras",
     P + "p:s p:p p:a.b-c .",
     {(f"{A}s", f"{A}p", f"{A}a.b-c", "_IRI")}),
    ("localName_with_PN_LOCAL_ESC",
     P + "p:s p:p p:o\\,b .",
     {(f"{A}s", f"{A}p", f"{A}o,b", "_IRI")}),
    ("localname_with_COLON",
     P + "p:s p:p p:o:2 .",
     {(f"{A}s", f"{A}p", f"{A}o:2", "_IRI")}),
    ("objectList_with_two_objects",
     P + "p:s p:p p:o1, p:o2 .",
     {(f"{A}s", f"{A}p", f"{A}o1", "_IRI"),
      (f"{A}s", f"{A}p", f"{A}o2", "_IRI")}),
    ("predicateObjectList_with_two_lists",
     P + "p:s p:p1 p:o1 ; p:p2 p:o2 .",
     {(f"{A}s", f"{A}p1", f"{A}o1", "_IRI"),
      (f"{A}s", f"{A}p2", f"{A}o2", "_IRI")}),
    ("repeated_semis_at_end",
     P + "p:s p:p p:o ; ; .",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("LITERAL1_ascii_boundaries",
     P + "p:s p:p 'sq' .",
     {(f"{A}s", f"{A}p", "sq", f"{XSD}string")}),
    ("LITERAL2_with_dquote_content",
     P + 'p:s p:p "say \\"hi\\"" .',
     {(f"{A}s", f"{A}p", 'say "hi"', f"{XSD}string")}),
    ("LITERAL_LONG1_with_newline",
     P + "p:s p:p '''l\ns''' .",
     {(f"{A}s", f"{A}p", "l\ns", f"{XSD}string")}),
    ("LITERAL_LONG2_with_1_squote",
     P + 'p:s p:p """a"b""c""" .',
     {(f"{A}s", f"{A}p", 'a"b""c', f"{XSD}string")}),
    ("literal_with_escaped_control_chars",
     P + 'p:s p:p "a\\b\\f\\tb\\r\\n" .',
     {(f"{A}s", f"{A}p", "a\x08\x0c\tb\r\n", f"{XSD}string")}),
    ("literal_with_numeric_escape4",
     P + 'p:s p:p "a\\u0062c\\U00000064" .',
     {(f"{A}s", f"{A}p", "abcd", f"{XSD}string")}),
    ("langtagged_string",
     P + 'p:s p:p "chat"@en .',
     {(f"{A}s", f"{A}p", "chat", "@en")}),
    ("langtagged_LONG_with_subtag",
     P + 'p:s p:p """chat"""@en-US .',
     {(f"{A}s", f"{A}p", "chat", "@en-US")}),
    ("typed_literal_prefixed_datatype",
     P + 'p:s p:p "1"^^p:dt .',
     {(f"{A}s", f"{A}p", "1", f"{A}dt")}),
    ("typed_literal_IRIREF_datatype",
     P + f'p:s p:p "1"^^<{XSD}int> .',
     {(f"{A}s", f"{A}p", "1", f"{XSD}int")}),
    ("bareword_integer", P + "p:s p:p 1 .",
     {(f"{A}s", f"{A}p", "1", f"{XSD}integer")}),
    ("negative_numeric", P + "p:s p:p -5 .",
     {(f"{A}s", f"{A}p", "-5", f"{XSD}integer")}),
    ("positive_numeric", P + "p:s p:p +3.0 .",
     {(f"{A}s", f"{A}p", "+3.0", f"{XSD}decimal")}),
    ("bareword_decimal", P + "p:s p:p .5 .",
     {(f"{A}s", f"{A}p", ".5", f"{XSD}decimal")}),
    ("bareword_double", P + "p:s p:p -.2e-1 .",
     {(f"{A}s", f"{A}p", "-.2e-1", f"{XSD}double")}),
    ("double_lower_case_e", P + "p:s p:p 1.2e3 .",
     {(f"{A}s", f"{A}p", "1.2e3", f"{XSD}double")}),
    ("boolean_true", P + "p:s p:p true .",
     {(f"{A}s", f"{A}p", "true", f"{XSD}boolean")}),
    ("boolean_false", P + "p:s p:p false .",
     {(f"{A}s", f"{A}p", "false", f"{XSD}boolean")}),
    ("labeled_blank_node_subject",
     P + "_:b p:p p:o .",
     {("_:b", f"{A}p", f"{A}o", "_IRI")}),
    ("labeled_blank_node_with_leading_digit",
     P + "p:s p:p _:0b .",
     {(f"{A}s", f"{A}p", "_:0b", "_JSONMAP")}),
    ("anonymous_blank_node_subject",
     P + "[] p:p p:o .",
     {("_:anon1", f"{A}p", f"{A}o", "_IRI")}),
    ("anonymous_blank_node_object",
     P + "p:s p:p [] .",
     {(f"{A}s", f"{A}p", "_:anon1", "_JSONMAP")}),
    ("blankNodePropertyList_as_object",
     P + "p:s p:p [ p:q p:o ] .",
     {(f"{A}s", f"{A}p", "_:anon1", "_JSONMAP"),
      ("_:anon1", f"{A}q", f"{A}o", "_IRI")}),
    ("nested_blankNodePropertyLists",
     P + "p:s p:p [ p:q [ p:r p:o ] ] .",
     {(f"{A}s", f"{A}p", "_:anon1", "_JSONMAP"),
      ("_:anon1", f"{A}q", "_:anon2", "_JSONMAP"),
      ("_:anon2", f"{A}r", f"{A}o", "_IRI")}),
    ("collection_object",
     P + "p:s p:p (1 2) .",
     {(f"{A}s", f"{A}p", "_:anon1", "_JSONMAP"),
      ("_:anon1", f"{RDF}first", "1", f"{XSD}integer"),
      ("_:anon1", f"{RDF}rest", "_:anon2", "_JSONMAP"),
      ("_:anon2", f"{RDF}first", "2", f"{XSD}integer"),
      ("_:anon2", f"{RDF}rest", f"{RDF}nil", "_IRI")}),
    ("empty_collection_object",
     # rdf:nil is an IRI, not a blank label — tagging it _JSONMAP
     # exported it bracketless (invalid NT) and re-import dropped it
     # (r4 code-review finding, fixed in object_term)
     P + "p:s p:p () .",
     {(f"{A}s", f"{A}p", f"{RDF}nil", "_IRI")}),
    ("comment_following_triple",
     P + "# lead\np:s p:p p:o . # tail",
     {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}),
    ("turtle-subm-base-resolution-dotdot",
     "@base <http://ex.org/a/b/c.ttl> .\n<d> <p> <../f> .",
     {("http://ex.org/a/b/d", "http://ex.org/a/b/p",
       "http://ex.org/a/f", "_IRI")}),
    ("turtle-subm-base-empty-and-fragment-ref",
     "@base <http://ex.org/a/b/c.ttl> .\n<#x> <p> <> .",
     {("http://ex.org/a/b/c.ttl#x", "http://ex.org/a/b/p",
       "http://ex.org/a/b/c.ttl", "_IRI")}),
]

# (name, invalid turtle text) — every one must raise TurtleError
TURTLE_NEGATIVE = [
    ("turtle-syntax-bad-struct-missing-dot",
     P + "p:s p:p p:o"),
    ("turtle-syntax-bad-struct-double-dot",
     P + "p:s p:p p:o . ."),
    ("turtle-syntax-bad-num-malformed",
     P + "p:s p:p 1.2.3 ."),
    ("turtle-syntax-bad-lang-digit-tag",
     P + 'p:s p:p "x"@1 .'),
    ("turtle-syntax-bad-LITERAL2-as-predicate",
     P + 'p:s "lit" p:o .'),
    ("turtle-syntax-bad-blank-unclosed-property-list",
     P + "p:s p:p [ p:q p:o ."),
    ("turtle-syntax-bad-prefix-undeclared",
     "q:s q:p q:o ."),
    ("turtle-syntax-bad-prefix-default-undeclared",
     ":s :p :o ."),
    ("turtle-syntax-bad-prefix-directive-missing-dot",
     f"@prefix p: <{A}>\np:s p:p p:o ."),
    ("turtle-syntax-bad-string-raw-newline-in-LITERAL2",
     P + 'p:s p:p "li\nne" .'),
    ("turtle-syntax-bad-kw-uppercase-A",
     P + "p:s A p:o ."),
    ("turtle-syntax-bad-esc-bad-string-escape",
     P + 'p:s p:p "a\\x" .'),
    ("turtle-syntax-bad-uchar-lone-surrogate-in-IRI",
     f"<{A}\\uD800> <{A}p> <{A}o> ."),
    ("turtle-syntax-bad-uchar-out-of-range-in-IRI",
     f"<{A}\\U00110000> <{A}p> <{A}o> ."),
    ("turtle-syntax-bad-esc-in-IRI",
     f"<{A}\\n> <{A}p> <{A}o> ."),
]

# N-Triples: (name, line, expected tuple) — parse_nt_line returns
# (s, p, o, dt, is_blank_s, is_blank_o); IRIs stay <>-wrapped when the
# prefix table is empty, and so does a plain literal's xsd:string.
NT_POSITIVE = [
    ("nt-syntax-uri-01",
     "<http://e/s> <http://e/p> <http://e/o> .",
     ("<http://e/s>", "<http://e/p>", "<http://e/o>",
      "_IRI", False, False)),
    ("nt-syntax-datatypes-01",
     '<http://e/s> <http://e/p> "lit"^^<http://e/dt> .',
     ("<http://e/s>", "<http://e/p>", "lit", "<http://e/dt>",
      False, False)),
    ("nt-syntax-string-lang-01",
     '_:b0 <http://e/p> "x"@en-US .',
     ("_:b0", "<http://e/p>", "x", "@en-US", True, False)),
    ("nt-syntax-uri-uchar-01",
     "<http://e/\\u0073> <http://e/p> <http://e/o> .",
     ("<http://e/s>", "<http://e/p>", "<http://e/o>",
      "_IRI", False, False)),
    ("nt-syntax-str-esc-01",
     '<http://e/s> <http://e/p> "a\\tb\\n" .',
     ("<http://e/s>", "<http://e/p>", "a\tb\n",
      "<http://www.w3.org/2001/XMLSchema#string>", False, False)),
    ("nt-syntax-bnode-02",
     "_:a <http://e/p> _:b .",
     ("_:a", "<http://e/p>", "_:b", "_JSONMAP", True, True)),
]

# lines the NT reader must SKIP (its documented per-line error mode —
# import.clj's window parser likewise drops unparseable lines)
NT_NEGATIVE = [
    ("nt-syntax-bad-struct-01", "<http://e/s> <http://e/p> ."),
    ("nt-syntax-bad-uri-01", "http://e/s <http://e/p> <http://e/o> ."),
    ("nt-syntax-bad-uchar-surrogate",
     "<http://e/\\uD800> <http://e/p> <http://e/o> ."),
    ("nt-syntax-bad-esc-01",
     '<http://e/s> <http://e/p> "\\z" .'),
    ("nt-syntax-bad-iri-space",
     "<http://example/ space> <http://example/p> <http://example/o> ."),
    ("nt-syntax-bad-iri-echar-n",
     "<http://example/\\n> <http://example/p> <http://example/o> ."),
    ("nt-syntax-bad-iri-echar-quote",
     '<http://example/\\"> <http://example/p> <http://example/o> .'),
    ("nt-syntax-bad-datatype-space",
     '<http://e/s> <http://e/p> "x"^^<http://e/d t> .'),
]
NT_BAD_IRI = [c for c in NT_NEGATIVE if c[0].startswith(
    ("nt-syntax-bad-iri-", "nt-syntax-bad-datatype-"))]


def _rx(body, attrs=""):
    return ('<?xml version="1.0"?>\n'
            f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://e/"{attrs}>\n'
            f'{body}\n</rdf:RDF>')


E = "http://e/"

# RDF/XML section, same convention (names follow the W3C rdf/xml-ns
# test families; transcribed offline from the RDF/XML 1.1 spec)
RDFXML_POSITIVE = [
    ("rdfms-basic-resource",
     _rx(f'<rdf:Description rdf:about="{E}s">'
         f'<ex:p rdf:resource="{E}o"/></rdf:Description>'),
     {(f"{E}s", f"{E}p", f"{E}o", "_IRI")}),
    ("rdfms-typed-node-element",
     _rx(f'<ex:Klass rdf:about="{E}s"/>'),
     {(f"{E}s", f"{RDF}type", f"{E}Klass", "_IRI")}),
    ("rdfms-xmllang-literal",
     _rx(f'<rdf:Description rdf:about="{E}s">'
         '<ex:p xml:lang="en">hi</ex:p></rdf:Description>'),
     {(f"{E}s", f"{E}p", "hi", "@en")}),
    ("rdfms-datatyped-literal",
     _rx(f'<rdf:Description rdf:about="{E}s">'
         f'<ex:p rdf:datatype="{E}dt">1</ex:p></rdf:Description>'),
     {(f"{E}s", f"{E}p", "1", f"{E}dt")}),
    ("rdfms-nodeID-both-positions",
     _rx('<rdf:Description rdf:nodeID="b1">'
         '<ex:p rdf:nodeID="b2"/></rdf:Description>'),
     {("_:b1", f"{E}p", "_:b2", "_JSONMAP")}),
    ("rdfms-rdf-ID-fragment-of-base",
     _rx('<rdf:Description rdf:ID="frag"><ex:p>v</ex:p>'
         '</rdf:Description>', attrs=f' xml:base="{E}doc"'),
     {(f"{E}doc#frag", f"{E}p", "v", f"{XSD}string")}),
    ("rdfms-parseType-Resource",
     _rx(f'<rdf:Description rdf:about="{E}s">'
         '<ex:p rdf:parseType="Resource">'
         f'<ex:q rdf:resource="{E}o"/></ex:p></rdf:Description>'),
     {(f"{E}s", f"{E}p", "_:xanon1", "_JSONMAP"),
      ("_:xanon1", f"{E}q", f"{E}o", "_IRI")}),
    ("rdfms-parseType-Literal-XML",
     _rx(f'<rdf:Description rdf:about="{E}s">'
         '<ex:p rdf:parseType="Literal"><b>x</b></ex:p>'
         '</rdf:Description>'),
     {(f"{E}s", f"{E}p", "<b>x</b>", f"{RDF}XMLLiteral")}),
    ("rdfms-parseType-Collection",
     _rx(f'<rdf:Description rdf:about="{E}s">'
         '<ex:p rdf:parseType="Collection">'
         f'<rdf:Description rdf:about="{E}a"/></ex:p>'
         '</rdf:Description>'),
     {(f"{E}s", f"{E}p", "_:xanon1", "_JSONMAP"),
      ("_:xanon1", f"{RDF}first", f"{E}a", "_IRI"),
      ("_:xanon1", f"{RDF}rest", f"{RDF}nil", "_IRI")}),
    ("rdfms-property-attributes",
     _rx(f'<rdf:Description rdf:about="{E}s" ex:p="v"/>'),
     {(f"{E}s", f"{E}p", "v", f"{XSD}string")}),
    ("rdf-containers-syntax-li-renumbering",
     # each rdf:li renumbers to rdf:_n in document order (§7.4; the
     # reference's Jena reader does the same) — r4 matrix catch
     _rx(f'<rdf:Seq rdf:about="{E}s"><rdf:li>a</rdf:li>'
         '<rdf:li>b</rdf:li></rdf:Seq>'),
     {(f"{E}s", f"{RDF}type", f"{RDF}Seq", "_IRI"),
      (f"{E}s", f"{RDF}_1", "a", f"{XSD}string"),
      (f"{E}s", f"{RDF}_2", "b", f"{XSD}string")}),
    ("rdfms-nested-node-element",
     _rx(f'<rdf:Description rdf:about="{E}s"><ex:p>'
         f'<rdf:Description rdf:about="{E}o"><ex:q>v</ex:q>'
         '</rdf:Description></ex:p></rdf:Description>'),
     {(f"{E}s", f"{E}p", f"{E}o", "_IRI"),
      (f"{E}o", f"{E}q", "v", f"{XSD}string")}),
    ("xml-base-scoped-on-node-element",
     _rx('<rdf:Description rdf:about="s" xml:base="http://b/">'
         '<ex:p rdf:resource="o"/></rdf:Description>'),
     {("http://b/s", f"{E}p", "http://b/o", "_IRI")}),
]

RDFXML_NEGATIVE = [
    ("rdfms-rdf-names-use-unqualified-tag",
     '<?xml version="1.0"?><RDF><x/></RDF>'),
    ("rdfms-relative-about-no-base",
     _rx('<rdf:Description rdf:about="rel"><ex:p>v</ex:p>'
         '</rdf:Description>')),
    ("rdf-charmod-malformed-xml",
     _rx(f'<rdf:Description rdf:about="{E}s">')),
]


@pytest.mark.parametrize("name,xml,want", RDFXML_POSITIVE,
                         ids=[c[0] for c in RDFXML_POSITIVE])
def test_w3c_rdfxml_positive(name, xml, want):
    from ldtab_clj_spark.sources.rdfxml import parse_rdfxml
    assert set(parse_rdfxml(xml)) == want


@pytest.mark.parametrize("name,xml", RDFXML_NEGATIVE,
                         ids=[c[0] for c in RDFXML_NEGATIVE])
def test_w3c_rdfxml_negative(name, xml):
    import xml.etree.ElementTree as ET

    from ldtab_clj_spark.sources.rdfxml import RdfXmlError, parse_rdfxml
    with pytest.raises((RdfXmlError, ET.ParseError)):
        parse_rdfxml(xml)


@pytest.mark.parametrize("name,ttl,want", TURTLE_POSITIVE,
                         ids=[c[0] for c in TURTLE_POSITIVE])
def test_w3c_turtle_positive(name, ttl, want):
    assert set(parse_turtle(ttl)) == want


@pytest.mark.parametrize("name,ttl", TURTLE_NEGATIVE,
                         ids=[c[0] for c in TURTLE_NEGATIVE])
def test_w3c_turtle_negative(name, ttl):
    with pytest.raises(TurtleError):
        parse_turtle(ttl)


@pytest.mark.parametrize("name,line,want", NT_POSITIVE,
                         ids=[c[0] for c in NT_POSITIVE])
def test_w3c_nt_positive(name, line, want):
    assert parse_nt_line(line, []) == want


@pytest.mark.parametrize("name,line", NT_NEGATIVE,
                         ids=[c[0] for c in NT_NEGATIVE])
def test_w3c_nt_negative_skips(name, line):
    assert parse_nt_line(line, []) is None


def test_nt_bad_iri_lines_are_counted(spark):
    """The batch parse skips each malformed IRIREF line and counts it
    in ``skipped_acc``."""
    from ldtab_clj_spark.sources.ntriples import parse_nt_lines
    good = "<http://e/s> <http://e/p> <http://e/o> ."
    lines = spark.createDataFrame(
        [(line,) for _, line in NT_BAD_IRI] + [(good,)], "value string")
    skipped = spark.sparkContext.accumulator(0)
    assert parse_nt_lines(lines, [], skipped).count() == 1
    assert skipped.value == len(NT_BAD_IRI) == 4


def test_w3c_matrix_summary(capsys):
    """Record the matrix size + skip list (the README quotes these
    numbers; this test keeps them honest)."""
    n_cases = (len(TURTLE_POSITIVE) + len(TURTLE_NEGATIVE)
               + len(NT_POSITIVE) + len(NT_NEGATIVE)
               + len(RDFXML_POSITIVE) + len(RDFXML_NEGATIVE))
    assert n_cases >= 85
    assert len(SKIPS) == 2  # r5 closed the NFC PN_CHARS boundary skip
    for reason in SKIPS.values():
        assert len(reason) > 40  # every skip carries a real rationale


def test_empty_collection_roundtrips_through_nt_export():
    """Regression for the r4 code-review finding: `p:s p:p () .` must
    export rdf:nil as a bracketed IRI that parse_nt_line re-imports,
    not a bare bracketless token that gets silently dropped."""
    from ldtab_clj_spark.operators.export import nt_object
    (triple,) = parse_turtle(P + "p:s p:p () .")
    s, p, o, dt = triple
    assert dt == "_IRI" and o == f"{RDF}nil"
    rendered = nt_object(o, dt, False, {})
    assert rendered == f"<{RDF}nil>"
    line = f"<{s}> <{p}> {rendered} ."
    assert parse_nt_line(line, []) is not None


# ---------------------------------------------------------------------------
# PN_CHARS_BASE boundary enumeration (closes the r4 SKIP): the W3C
# localName/prefix *_with_nfc_PN_CHARS_BASE_character_boundaries cases
# can't be vendored offline, but the grammar RANGES are enumerable —
# generate the boundary codepoints programmatically (Turtle 1.1 §6.5)
# and drive both the accept side (innermost NFC-stable char of every
# range endpoint, as prefix first-char, local first-char and local
# mid-char) and the reject side (the codepoint just OUTSIDE each
# range, where not legalized by another PN_CHARS class).

PNB_RANGES = [  # PN_CHARS_BASE ::= [A-Z] | [a-z] | ...
    (0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
    (0xF8, 0x2FF), (0x370, 0x37D), (0x37F, 0x1FFF), (0x200C, 0x200D),
    (0x2070, 0x218F), (0x2C00, 0x2FEF), (0x3001, 0xD7FF),
    (0xF900, 0xFDCF), (0xFDF0, 0xFFFD), (0x10000, 0xEFFFF)]

# the additional PN_CHARS classes that can legalize an outside-PNB
# codepoint in non-first position
_PNC_EXTRA = ({0x2D, 0x5F, 0xB7} | set(range(0x30, 0x3A))
              | set(range(0x300, 0x370)) | {0x203F, 0x2040})


def _in_pnb(cp: int) -> bool:
    return any(lo <= cp <= hi for lo, hi in PNB_RANGES)


def _nfc_boundary_char(cp: int, lo: int, hi: int, step: int):
    """Innermost NFC-stable codepoint walking inward from a range
    endpoint — mirrors the W3C cases' NFC qualifier (a char whose NFC
    form leaves the range would test normalization, not the parser)."""
    import unicodedata
    while lo <= cp <= hi:
        ch = chr(cp)
        if unicodedata.normalize("NFC", ch) == ch:
            return ch
        cp += step
    return None


def _pnb_boundary_chars():
    for lo, hi in PNB_RANGES:
        for cp, step in ((lo, +1), (hi, -1)):
            ch = _nfc_boundary_char(cp, lo, hi, step)
            assert ch is not None, f"no NFC-stable char in {lo:X}-{hi:X}"
            yield ch


@pytest.mark.parametrize("ch", list(_pnb_boundary_chars()),
                         ids=lambda c: f"U+{ord(c):04X}")
def test_nfc_pn_chars_base_boundary_accepted(ch):
    # local name: boundary char first and mid
    got = parse_turtle(P + f"p:s p:p p:{ch}x{ch} .")
    assert set(got) == {(f"{A}s", f"{A}p", f"{A}{ch}x{ch}", "_IRI")}
    # prefix label: boundary char as its (first) char
    got = parse_turtle(f"@prefix {ch}: <{A}> .\n{ch}:s {ch}:p {ch}:o .")
    assert set(got) == {(f"{A}s", f"{A}p", f"{A}o", "_IRI")}
    # NT blank label (documented leniency: the NT reader's label
    # grammar is permissive-non-space, so every legal PN_CHARS label
    # parses; this pins the positive direction of the W3C bnode cases)
    t = parse_nt_line(f"_:{ch}b <{A}p> <{A}o> .", [])
    assert t is not None and t[0] == f"_:{ch}b"


def _pnb_outside_chars():
    seen = set()
    for lo, hi in PNB_RANGES:
        for cp in (lo - 1, hi + 1):
            if (_in_pnb(cp) or cp in _PNC_EXTRA or cp in seen
                    or 0xD800 <= cp <= 0xDFFF):  # lone surrogates:
                continue  # not representable in well-formed input
            seen.add(cp)
            yield chr(cp)


@pytest.mark.parametrize("ch", list(_pnb_outside_chars()),
                         ids=lambda c: f"U+{ord(c):04X}")
def test_pn_chars_base_outside_boundary_rejected(ch):
    """The codepoint just past each PN_CHARS_BASE range endpoint must
    NOT extend a prefixed name: either the tokenizer rejects it or the
    name token ends before it and the leftover fails the statement
    grammar. Both surface as TurtleError."""
    with pytest.raises(TurtleError):
        parse_turtle(P + f"p:s p:p p:a{ch}b{ch} f .")
    # mid-label (not first-char) form: for the two outside-chars that
    # are unicode WHITESPACE (U+2000, U+3000) a leading char would
    # just be token-separating space, degenerating into a valid
    # declaration; mid-label splits the pname token for every class
    with pytest.raises(TurtleError):
        parse_turtle(f"@prefix x{ch}y: <{A}> .\n"
                     f"x{ch}y:s x{ch}y:p x{ch}y:o .")
