"""RDF/XML source (SURVEY.md S1/S2 — the other Jena input format the
reference relies on: its own correctness oracle imports
resources/ontology.owl via import.clj:148-154 / rdf_model.clj:42-51).

A pragmatic subset of the RDF/XML syntax covering what OWL-API/ROBOT
emit (and all constructs in the reference's ontology.owl):

* typed node elements (``<owl:Class rdf:about=...>``) and
  ``rdf:Description``;
* ``rdf:about`` / ``rdf:ID`` / ``rdf:nodeID`` / anonymous nodes;
* property elements with ``rdf:resource`` / ``rdf:nodeID`` /
  ``rdf:datatype`` / inherited ``xml:lang`` / nested node elements;
* ``rdf:parseType="Collection"`` (RDF lists) and ``"Resource"``
  (anonymous property nodes), plus ``"Literal"`` (XML-literal text);
* property attributes on node elements (literal shorthand);
* container-membership shorthand: ``rdf:li`` renumbering to
  ``rdf:_1..rdf:_n`` (RDF/XML 1.1 §7.4, matching Jena).

Files are the unit of parallelism: the Turtle source's whole-file
reader (``turtle._read_whole_files``) runs this module's parser.
Output: thin triples CURIE-fied against the prefix table, turned into
statements by ``plans.pipeline.rdf_statements``.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from .turtle import (_RDF, _XSD, _read_whole_files, has_scheme,
                     resolve_against)

_XML_NS = "http://www.w3.org/XML/1998/namespace"

_SYNTAX_ATTRS = {f"{{{_RDF}}}about", f"{{{_RDF}}}ID", f"{{{_RDF}}}nodeID",
                 f"{{{_RDF}}}resource", f"{{{_RDF}}}datatype",
                 f"{{{_RDF}}}parseType",
                 f"{{{_XML_NS}}}lang", f"{{{_XML_NS}}}base"}


class RdfXmlError(ValueError):
    pass


def _tag_iri(tag: str) -> str:
    if not tag.startswith("{"):
        raise RdfXmlError(f"unqualified tag {tag!r}")
    ns, local = tag[1:].split("}", 1)
    return ns + local


class _Parser:
    def __init__(self):
        self.triples: list[tuple] = []
        self.anon = 0

    def fresh_blank(self) -> str:
        self.anon += 1
        return f"_:xanon{self.anon}"

    def emit(self, s, p, o, dt):
        self.triples.append((s, p, o, dt))

    def node_id(self, el: ET.Element, base: str) -> str:
        about = el.get(f"{{{_RDF}}}about")
        if about is not None:
            return self.resolve(about, base)
        rid = el.get(f"{{{_RDF}}}ID")
        if rid is not None:
            # rdf:ID="x" designates <#x> relative to the in-scope base
            return self.resolve(f"#{rid}", base)
        nid = el.get(f"{{{_RDF}}}nodeID")
        if nid is not None:
            return f"_:{nid}"
        return self.fresh_blank()

    def resolve(self, iri: str, base: str) -> str:
        """RFC 3986 resolution against the IN-SCOPE xml:base (tracked
        per element — xml:base may appear anywhere, and a nested
        relative xml:base resolves against the outer one). A relative
        IRI with no base in scope would silently mint fragment-only /
        relative IRIs into the statement table, so it fails fast like
        the parser's other unsupported-construct paths."""
        if has_scheme(iri):
            return iri
        if not base:
            raise RdfXmlError(
                f"relative IRI {iri!r} with no xml:base in scope "
                "(set xml:base on the document or an ancestor element)")
        return resolve_against(base, iri)

    @staticmethod
    def scoped_base(el: ET.Element, base: str) -> str:
        b = el.get(f"{{{_XML_NS}}}base")
        if b is None:
            return base
        if not base and not has_scheme(b):
            # a relative xml:base with no outer base would smuggle
            # relative IRIs past the resolve() fail-fast below
            raise RdfXmlError(
                f"relative xml:base {b!r} with no outer base in scope")
        return resolve_against(base, b) if base else b

    def node_element(self, el: ET.Element, lang: str = "",
                     base: str = "") -> str:
        """A node element → its subject id; emits its triples."""
        lang = el.get(f"{{{_XML_NS}}}lang", lang)
        base = self.scoped_base(el, base)
        subject = self.node_id(el, base)
        tag = _tag_iri(el.tag)
        if tag != _RDF + "Description":
            self.emit(subject, _RDF + "type", tag, "_IRI")
        # property attributes (literal shorthand)
        for k, v in el.attrib.items():
            if k in _SYNTAX_ATTRS or k.startswith(f"{{{_RDF}}}"):
                continue
            if k.startswith("{"):
                self.emit(subject, _tag_iri(k), v,
                          f"@{lang}" if lang else _XSD + "string")
        self.property_children(subject, el, lang, base)
        return subject

    def property_children(self, subject: str, el: ET.Element,
                          lang: str, base: str):
        """Emit all child property elements of a node, renumbering
        container-membership shorthand: each rdf:li becomes rdf:_1,
        rdf:_2, ... in document order (RDF/XML §7.4; Jena, the
        reference's reader, does the same). Shared by node elements
        and parseType="Resource" bnodes — the counter restarts per
        containing node, as the spec requires."""
        li_count = 0
        for child in el:
            if child.tag == f"{{{_RDF}}}li":
                li_count += 1
                self.property_element(subject, child, lang, base,
                                      pred_override=f"{_RDF}_{li_count}")
            else:
                self.property_element(subject, child, lang, base)

    def property_element(self, subject: str, el: ET.Element, lang: str,
                         base: str, pred_override: str | None = None):
        lang = el.get(f"{{{_XML_NS}}}lang", lang)
        base = self.scoped_base(el, base)
        pred = pred_override or _tag_iri(el.tag)
        res = el.get(f"{{{_RDF}}}resource")
        if res is not None:
            self.emit(subject, pred, self.resolve(res, base), "_IRI")
            return
        nid = el.get(f"{{{_RDF}}}nodeID")
        if nid is not None:
            self.emit(subject, pred, f"_:{nid}", "_JSONMAP")
            return
        ptype = el.get(f"{{{_RDF}}}parseType")
        if ptype == "Collection":
            items = [self.node_element(c, lang, base) for c in el]
            if not items:
                self.emit(subject, pred, _RDF + "nil", "_IRI")
                return
            head = cur = self.fresh_blank()
            for j, item in enumerate(items):
                dt = "_JSONMAP" if item.startswith("_:") else "_IRI"
                self.emit(cur, _RDF + "first", item, dt)
                if j + 1 < len(items):
                    nxt = self.fresh_blank()
                    self.emit(cur, _RDF + "rest", nxt, "_JSONMAP")
                    cur = nxt
                else:
                    self.emit(cur, _RDF + "rest", _RDF + "nil", "_IRI")
            self.emit(subject, pred, head, "_JSONMAP")
            return
        if ptype == "Resource":
            bnode = self.fresh_blank()
            self.property_children(bnode, el, lang, base)
            self.emit(subject, pred, bnode, "_JSONMAP")
            return
        if ptype == "Literal":
            # XMLLiteral passthrough: element content serialized as-is
            # (children's tails included by ET.tostring)
            text = (el.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in el)
            self.emit(subject, pred, text, _RDF + "XMLLiteral")
            return
        children = list(el)
        if children:
            if len(children) != 1:
                raise RdfXmlError(
                    f"property {pred} has {len(children)} node children")
            obj = self.node_element(children[0], lang, base)
            dt = "_JSONMAP" if obj.startswith("_:") else "_IRI"
            self.emit(subject, pred, obj, dt)
            return
        # literal
        text = el.text or ""
        dt = el.get(f"{{{_RDF}}}datatype")
        if dt is not None:
            self.emit(subject, pred, text, dt)
        elif lang:
            self.emit(subject, pred, text, f"@{lang}")
        else:
            self.emit(subject, pred, text, _XSD + "string")


def parse_rdfxml(text: str) -> list[tuple]:
    """RDF/XML text → raw (subject, predicate, object, datatype)
    triples with full IRIs (blank nodes as ``_:`` labels)."""
    root = ET.fromstring(text)
    base = root.get(f"{{{_XML_NS}}}base", "")
    p = _Parser()
    if _tag_iri(root.tag) == _RDF + "RDF":
        lang = root.get(f"{{{_XML_NS}}}lang", "")
        for el in root:
            p.node_element(el, lang, base)
    else:
        p.node_element(root, "", base)
    return p.triples


def import_rdfxml(spark: SparkSession, path: str,
                  prefix_df: DataFrame) -> DataFrame:
    """Full `ldtab import file.owl` equivalent."""
    from ..plans.pipeline import rdf_statements
    return rdf_statements(
        _read_whole_files(spark, path, prefix_df, parse_rdfxml))
