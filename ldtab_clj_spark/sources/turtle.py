"""Turtle source (SURVEY.md S1/S2 — the RDF text format the reference
imports through Jena, import.clj:148-154 / rdf_model.clj:42-51).

A pragmatic Turtle-1.1 subset sufficient for real ontology workflows:
``@prefix``/``@base`` (and SPARQL-style ``PREFIX``/``BASE``), ``a``,
``;``/``,`` separators, blank-node property lists ``[...]``,
collections ``(...)``, blank-node labels, triple- and single-quoted
strings with escapes, ``@lang`` / ``^^dt`` tags, and numeric/boolean
literal abbreviations. Conformance edges covered (W3C-suite-shaped
matrix in tests/test_turtle_conformance.py): UCHAR ``\\uXXXX`` /
``\\UXXXXXXXX`` escapes in IRIs and strings, RFC 3986 ``@base``
resolution in every position (``../``, absolute-path, fragment-only,
empty and relative re-base refs), numeric-leading PN_LOCALs,
PN_LOCAL_ESC, and full unicode PN_CHARS classes.

Distribution model: Turtle is stateful (prefix directives, multi-line
statements), so files — not lines — are the unit of parallelism:
``spark.read.text(..., wholetext=True)`` yields one row per file and
the tokenizer runs Arrow-batched per file. A single giant ``.ttl``
should be pre-split into files (or converted to N-Triples, which
splits by line); at 100 TB the corpus is many files either way.

Output is the same thin-triple shape as sources/ntriples.py: IRIs
CURIE-fied against the prefix table (longest match), blank labels
file-scoped; run operators/components.assign_components before stanza
assembly.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core.canonical import curify_with
from ..schemas import THIN
from .ntriples import _unescape

# PN_CHARS_BASE / PN_CHARS_U / PN_CHARS character classes from the
# Turtle 1.1 grammar (§6.5) — prefixed names and blank labels accept
# the full unicode ranges, not just ASCII
_PNB = ("A-Za-z"
        "\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u02FF\u0370-\u037D"
        "\u037F-\u1FFF\u200C-\u200D\u2070-\u218F\u2C00-\u2FEF"
        "\u3001-\uD7FF\uF900-\uFDCF\uFDF0-\uFFFD"
        "\U00010000-\U000EFFFF")
_PNU = _PNB + "_"
_PNC = _PNU + "0-9\u00B7\u0300-\u036F\u203F-\u2040-"
_TOKEN = re.compile(
    r"(?P<comment>\#[^\n]*)"
    # IRIREF may carry \uXXXX/\UXXXXXXXX numeric escapes (UCHAR);
    # any other backslash is rejected later with a clear TurtleError
    r"|(?P<iriref><(?:[^<>\"{}|^`\\\x00-\x20]|\\.)*>)"
    r"|(?P<string>\"\"\"(?:[^\"\\]|\\.|\"(?!\"\"))*\"\"\""
    r"|'''(?:[^'\\]|\\.|'(?!''))*'''"
    r"|\"(?:[^\"\\\n]|\\.)*\""
    r"|'(?:[^'\\\n]|\\.)*')"
    rf"|(?P<blank>_:[{_PNU}0-9](?:[{_PNC}]|\.(?=[{_PNC}.]))*)"
    r"|(?P<langtag>@[A-Za-z]+(?:-[A-Za-z0-9]+)*)"
    r"|(?P<number>[+-]?(?:(?:\d+\.\d+|\.\d+|\d+)[eE][+-]?\d+"
    r"|\d*\.\d+|\d+))"
    # PN_LOCAL additionally allows ':', '%XX' and PN_LOCAL_ESC, and may
    # START with a digit (numeric-leading locals are valid Turtle)
    rf"|(?P<pname>(?:[{_PNB}][{_PNC}]*(?:\.[{_PNC}]+)*)?:"
    rf"(?:[{_PNC}:%]|\\[~.!$&'()*+,;=/?#@%_\-]|\.(?=[{_PNC}:%.]))*)"
    r"|(?P<punct>\^\^|[.;,\[\]()])"
    r"|(?P<word>[A-Za-z]+)"
    r"|(?P<ws>\s+)")

_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


class TurtleError(ValueError):
    pass


_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def has_scheme(iri: str) -> bool:
    """True when the reference is an absolute IRI (RFC 3986 scheme)."""
    return bool(_SCHEME.match(iri))


def resolve_against(base: str, iri: str) -> str:
    """RFC 3986 reference resolution (shared by the Turtle and RDF/XML
    readers): '../', absolute-path, fragment-only, empty and query
    refs all resolve correctly; absolute IRIs pass through. urllib
    can't represent a defined-but-empty fragment, so the '#' of
    <voc#> is restored (vocabulary namespaces rely on it).

    Non-hierarchical bases (urn:, tag:, did: — schemes urljoin would
    silently ignore, returning the RELATIVE ref unchanged): fragment
    and empty refs still resolve (well-defined against any base);
    anything else raises rather than minting a relative IRI into the
    statement table."""
    from urllib.parse import urljoin, urlsplit, uses_relative
    if not base or has_scheme(iri):
        return iri
    if urlsplit(base).scheme not in uses_relative:
        stem = base.split("#", 1)[0]
        if iri == "":
            return stem
        if iri.startswith("#"):
            return stem + iri
        raise ValueError(
            f"cannot resolve relative IRI {iri!r} against "
            f"non-hierarchical base <{base}>")
    out = urljoin(base, iri)
    if iri.endswith("#") and not out.endswith("#"):
        out += "#"
    return out


def _iri_unescape(iri: str) -> str:
    """UCHAR (``\\uXXXX`` / ``\\UXXXXXXXX``) unescaping inside IRIREF —
    the only escapes Turtle allows in IRIs; anything else errors.

    Mirrors the N-Triples twin's codepoint validation: a lone
    surrogate (``\\uD800``) or out-of-range ``\\U`` would otherwise
    surface much later as an opaque UnicodeEncodeError inside an
    executor task at the Arrow/parquet boundary — both readers fail
    fast with their own error type instead."""
    def sub(m):
        cp = int(m.group(0)[2:], 16)
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            raise TurtleError(
                f"invalid UCHAR codepoint U+{cp:X} in IRI <{iri}>")
        return chr(cp)

    out = re.sub(r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}", sub, iri)
    if "\\" in out:
        raise TurtleError(f"invalid escape in IRI <{iri}>")
    return out


def _tokens(text: str):
    pos, n = 0, len(text)
    while pos < n:
        m = _TOKEN.match(text, pos)
        if not m:
            raise TurtleError(f"unexpected char {text[pos]!r} at {pos}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        yield kind, m.group()
    yield "eof", ""


class _Parser:
    """Recursive-descent Turtle parser emitting raw triples
    (subject, predicate, object, datatype) with full IRIs; blank nodes
    are ``_:`` labels, anonymous ones minted file-locally."""

    MAX_NEST = 64   # [..]/(..) nesting guard, aligned with the stanza
    #                 chain's _MAX_DEPTH (core/thick.py): a parse-time
    #                 TurtleError beats a RecursionError (or the later
    #                 misleading "cycle?" ValueError) in an executor
    #                 task. Collections don't nest per ELEMENT — long
    #                 lists are fine (iterative fold in core/thick.py)

    def __init__(self, text: str):
        self.toks = list(_tokens(text))
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.anon = 0
        self.depth = 0
        self.triples: list[tuple] = []

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, value: str):
        kind, tok = self.next()
        if tok != value:
            raise TurtleError(f"expected {value!r}, got {tok!r}")

    def fresh_blank(self) -> str:
        self.anon += 1
        return f"_:anon{self.anon}"

    def resolve(self, iri: str) -> str:
        """IRIREF body → absolute IRI: UCHAR unescape, then RFC 3986
        reference resolution against @base — covering '../' and
        absolute-path refs, fragment-only (#x keeps the base document),
        empty (<> = base) and nested relative bases, in every position
        (subject / predicate / object / datatype / @prefix / @base).
        A relative IRI with no @base in scope fails fast (there is no
        document URI to fall back to in a distributed scan; silently
        minting relative subjects would corrupt the statement table) —
        same contract as the RDF/XML reader."""
        iri = _iri_unescape(iri)
        if not self.base and not has_scheme(iri):
            raise TurtleError(
                f"relative IRI <{iri}> with no @base in scope")
        return resolve_against(self.base, iri)

    def pname_to_iri(self, pname: str) -> str:
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise TurtleError(f"undefined prefix {pfx!r}:")
        local = re.sub(r"\\(.)", r"\1", local)  # PN_LOCAL_ESC
        return self.prefixes[pfx] + local

    # ---- grammar ----

    def parse(self):
        while True:
            kind, tok = self.peek()
            if kind == "eof":
                return self
            # "@prefix"/"@base" tokenize as langtags; SPARQX-style
            # PREFIX/BASE as bare words
            if tok in ("@prefix", "@base") or \
               (kind == "word" and tok.upper() in ("PREFIX", "BASE")):
                self.directive()
            else:
                self.triples_stmt()

    def directive(self):
        kind, tok = self.next()
        word = tok.lstrip("@").upper()
        if word == "PREFIX":
            k2, pn = self.next()
            if not pn.endswith(":"):
                raise TurtleError(f"bad prefix name {pn!r}")
            k3, iri = self.next()
            if k3 != "iriref":
                raise TurtleError(f"bad prefix IRI {iri!r}")
            self.prefixes[pn[:-1]] = self.resolve(iri[1:-1])
        elif word == "BASE":
            k2, iri = self.next()
            if k2 != "iriref":
                raise TurtleError(f"bad base IRI {iri!r}")
            # a relative @base resolves against the CURRENT base
            self.base = self.resolve(iri[1:-1])
        else:
            raise TurtleError(f"unknown directive {tok!r}")
        if tok.startswith("@"):
            self.expect(".")
        elif self.peek()[1] == ".":     # tolerate SPARQL form with dot
            self.next()

    def triples_stmt(self):
        kind, tok = self.peek()
        if tok == "[":
            subject = self.bnode_property_list()
            if self.peek()[1] != ".":   # [ ... ] predicateObjectList .
                self.predicate_object_list(subject)
        elif tok == "(":
            subject = self.collection()
            self.predicate_object_list(subject)
        else:
            subject = self.subject()
            self.predicate_object_list(subject)
        self.expect(".")

    def subject(self) -> str:
        kind, tok = self.next()
        if kind == "iriref":
            return self.resolve(tok[1:-1])
        if kind == "pname":
            return self.pname_to_iri(tok)
        if kind == "blank":
            return tok
        raise TurtleError(f"bad subject {tok!r}")

    def predicate(self) -> str:
        kind, tok = self.next()
        if kind == "word" and tok == "a":
            return _RDF + "type"
        if kind == "iriref":
            return self.resolve(tok[1:-1])
        if kind == "pname":
            return self.pname_to_iri(tok)
        raise TurtleError(f"bad predicate {tok!r}")

    def predicate_object_list(self, subject: str):
        while True:
            pred = self.predicate()
            while True:
                obj, dt = self.object_term()
                self.triples.append((subject, pred, obj, dt))
                if self.peek()[1] == ",":
                    self.next()
                    continue
                break
            if self.peek()[1] == ";":
                # the grammar's (';' (verb objectList)?)* makes any
                # run of semicolons legal, trailing or repeated
                while self.peek()[1] == ";":
                    self.next()
                if self.peek()[1] in (".", "]"):
                    return
                continue
            return

    def object_term(self) -> tuple[str, str]:
        """→ (object, datatype) where datatype is a FULL-IRI tag,
        ``@lang``, ``_IRI`` or ``_JSONMAP`` (blank)."""
        kind, tok = self.peek()
        if tok == "[":
            return self.bnode_property_list(), "_JSONMAP"
        if tok == "(":
            head = self.collection()
            # an EMPTY collection is the rdf:nil IRI, not a blank
            # label: tagging it _JSONMAP would export it bracketless
            # (invalid NT) and a re-import would silently drop it
            return head, ("_IRI" if head == _RDF + "nil"
                          else "_JSONMAP")
        self.next()
        if kind == "iriref":
            return self.resolve(tok[1:-1]), "_IRI"
        if kind == "pname":
            return self.pname_to_iri(tok), "_IRI"
        if kind == "blank":
            return tok, "_JSONMAP"
        if kind == "word":
            if tok in ("true", "false"):
                return tok, _XSD + "boolean"
            raise TurtleError(f"bad object {tok!r}")
        if kind == "number":
            if re.search(r"[eE]", tok):
                return tok, _XSD + "double"
            if "." in tok:
                return tok, _XSD + "decimal"
            return tok, _XSD + "integer"
        if kind == "string":
            if tok.startswith(('"""', "'''")):
                lex = tok[3:-3]
            else:
                lex = tok[1:-1]
            try:
                lex = _unescape(lex)
            except ValueError as ex:
                raise TurtleError(str(ex)) from None
            nk, nt = self.peek()
            if nk == "langtag":
                self.next()
                return lex, nt
            if nt == "^^":
                self.next()
                dk, dtok = self.next()
                if dk == "iriref":
                    return lex, self.resolve(dtok[1:-1])
                if dk == "pname":
                    return lex, self.pname_to_iri(dtok)
                raise TurtleError(f"bad datatype {dtok!r}")
            return lex, _XSD + "string"
        raise TurtleError(f"bad object {tok!r}")

    def _enter(self):
        self.depth += 1
        if self.depth > self.MAX_NEST:
            raise TurtleError(f"nesting deeper than {self.MAX_NEST}")

    def bnode_property_list(self) -> str:
        self._enter()
        self.expect("[")
        bnode = self.fresh_blank()
        if self.peek()[1] != "]":
            self.predicate_object_list(bnode)
        self.expect("]")
        self.depth -= 1
        return bnode

    def collection(self) -> str:
        self._enter()
        self.expect("(")
        items = []
        while self.peek()[1] != ")":
            items.append(self.object_term())
        self.next()
        self.depth -= 1
        if not items:
            return _RDF + "nil"          # caller tags it _IRI
        head = cur = self.fresh_blank()
        for j, (obj, dt) in enumerate(items):
            self.triples.append((cur, _RDF + "first", obj, dt))
            if j + 1 < len(items):
                nxt = self.fresh_blank()
                self.triples.append((cur, _RDF + "rest", nxt, "_JSONMAP"))
                cur = nxt
            else:
                self.triples.append((cur, _RDF + "rest", _RDF + "nil",
                                     "_IRI"))
        return head


def parse_turtle(text: str) -> list[tuple]:
    """Turtle text → raw (subject, predicate, object, datatype) triples
    with full IRIs (blank nodes as ``_:`` labels)."""
    return _Parser(text).parse().triples


def _to_thin(raw: list[tuple],
             prefixes: list[tuple[str, str]],
             blank_salt: str = "") -> list[tuple]:
    """Raw full-IRI triples → thin-triple tuples, CURIE-fied against
    the prefix table exactly like sources/ntriples.py.

    ``blank_salt`` file-scopes blank labels: every parsed file restarts
    its anonymous counter at _:anon1 (and user labels like _:b1 repeat
    across files), so without a salt the component closure would merge
    unrelated stanzas from different files into one corrupted group.
    A content-derived salt is deterministic AND safe: two byte-equal
    files produce byte-equal stanzas, which dedup collapses anyway."""
    def blank(label: str) -> str:
        return f"_:f{blank_salt}x{label[2:]}" if blank_salt else label

    out = []
    for s, p, o, dt in raw:
        subject = blank(s) if s.startswith("_:") \
            else curify_with(s, prefixes)
        predicate = curify_with(p, prefixes)
        if dt == "_JSONMAP":
            # both parsers tag only blank labels _JSONMAP since the r4
            # empty-collection fix (rdf:nil arrives as _IRI); a
            # non-blank here is a parser bug, not a case to paper
            # over. Raised, not asserted: python -O strips asserts,
            # which would let the bug ride through to export silently.
            if not o.startswith("_:"):
                raise TurtleError(
                    f"non-blank object {o!r} tagged _JSONMAP")
            obj, d = blank(o), "_JSONMAP"
        elif dt == "_IRI":
            obj, d = curify_with(o, prefixes), "_IRI"
        elif dt.startswith("@"):
            obj, d = o, dt
        else:
            obj, d = o, curify_with(dt, prefixes)
        out.append((subject, predicate, obj, d,
                    subject.startswith("_:"),
                    d == "_JSONMAP"))
    return out


def _read_whole_files(spark: SparkSession, path: str,
                      prefix_df: DataFrame, parse_text) -> DataFrame:
    """Distributed whole-file RDF scan (one task per file):
    ``parse_text`` (file text → raw full-IRI triples) per file → thin
    triples (doc_id empty; run assign_components before stanza
    assembly). Shared by the Turtle and RDF/XML sources."""
    prefixes = [(r["prefix"], r["base"]) for r in prefix_df.collect()]
    files = spark.read.text(path, wholetext=True)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.canonical import content_hash
        for pdf in batches:
            rows = []
            for text in pdf["value"]:
                # file-scope blank labels (see _to_thin)
                salt = content_hash(text)[:8]
                rows.extend((*t, "", 0)
                            for t in _to_thin(parse_text(text),
                                              prefixes, blank_salt=salt))
            yield pd.DataFrame(rows, columns=[f.name for f in THIN.fields])

    return files.mapInPandas(parse, THIN)


def import_turtle(spark: SparkSession, path: str,
                  prefix_df: DataFrame) -> DataFrame:
    """Full `ldtab import file.ttl` equivalent: parse → component
    closure → stanza assembly → dedup. Returns the statement table."""
    from ..operators.components import assign_components
    from ..operators.materialize import dedup_statements
    from ..operators.stanza import thin_to_thick_df
    thin = assign_components(
        _read_whole_files(spark, path, prefix_df, parse_turtle))
    return dedup_statements(thin_to_thick_df(thin))
