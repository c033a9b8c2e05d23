"""N-Triples source (SURVEY.md S1/S2 for the one RDF format parseable
without Jena).

Reference: import.clj:148-154 (streamed triple iterator) /
rdf_model.clj:42-51 (eager model load). A distributed text scan +
vectorized regex parse replaces the pull iterator; the blank-node
closure that Jena's Model gave the reference for free is
operators/components.py.

Lines → thin triples: IRIs are CURIE-fied against the prefix table
(longest match, thin2thick.clj:35-42); literals keep their lexical
form with ``@lang`` / datatype-CURIE tags (thin2thick.clj:120-142).
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..core.canonical import curify_with
from ..operators.batching import map_rows, pylist
from ..schemas import THIN

# IRIREF body: no control, space or <>"{}|^` character; a backslash
# may only start a UCHAR (_iri_unescape rejects any other)
_IRI = r'<([^\x00-\x20<>"{}|^`]*)>'
_BLANK = r"(_:[^\s]+)"
_LIT = rf'"((?:[^"\\]|\\.)*)"(?:@([A-Za-z0-9-]+)|\^\^{_IRI})?'
NT_LINE = re.compile(
    rf"^\s*(?:{_IRI}|{_BLANK})\s+{_IRI}\s+"
    rf"(?:{_IRI}|{_BLANK}|{_LIT})\s*\.\s*(?:#.*)?$")

_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

_UNESCAPE = {"\\n": "\n", "\\r": "\r", "\\t": "\t",
             "\\b": "\b", "\\f": "\f", "\\'": "'",
             '\\"': '"', "\\\\": "\\"}


def _uchar(tok: str) -> str:
    """``\\uXXXX`` / ``\\UXXXXXXXX`` → its character. A codepoint
    outside Unicode or in the surrogate block is not encodable as
    UTF-8 and raises ValueError (parse_nt_line skips the line)."""
    cp = int(tok[2:], 16)
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        raise ValueError(f"invalid UCHAR codepoint U+{cp:X}")
    return chr(cp)


def _unescape(s: str) -> str:
    """N-Triples string unescaping incl. \\uXXXX / \\UXXXXXXXX numeric
    escapes (canonical NT tooling escapes all non-ASCII).

    A backslash that starts neither an ECHAR nor a well-formed UCHAR
    (e.g. ``\\z``, ``\\u12``) is a syntax error in both grammars —
    raise instead of passing the raw backslash through (ValueError →
    parse_nt_line skips the line; the Turtle reader converts it to
    TurtleError). The trailing lone-backslash alternative in the regex
    is what catches them: valid escapes match the longer branches
    first."""
    def sub(m):
        tok = m.group(0)
        if tok in _UNESCAPE:
            return _UNESCAPE[tok]
        if tok == "\\":
            raise ValueError(f"invalid string escape in {s[:80]!r}")
        return _uchar(tok)
    return re.sub(r'\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}|\\[nrtbf\'"\\]'
                  r'|\\', sub, s)


_IRI_ESCAPE = re.compile(r"\\u[0-9A-Fa-f]{4}|\\U[0-9A-Fa-f]{8}|\\")


def _iri_unescape(iri: str) -> str:
    """UCHAR (\\uXXXX / \\UXXXXXXXX) unescaping inside IRIREF — the
    only escapes the N-Triples and Turtle grammars allow in IRIs, so
    both readers use this one copy. Any other backslash (``\\n``,
    ``\\"``) raises ValueError, as does a codepoint ``_uchar``
    rejects: parse_nt_line skips the line, the Turtle reader raises
    TurtleError."""
    if "\\" not in iri:        # fast path: virtually all lines
        return iri

    def sub(m):
        if m.group(0) == "\\":
            raise ValueError(f"invalid escape in IRI <{iri}>")
        return _uchar(m.group(0))

    return _IRI_ESCAPE.sub(sub, iri)


def parse_nt_line(line: str, prefixes: list[tuple[str, str]]):
    """One N-Triples line → thin-triple tuple, or None for blank /
    comment / unparseable lines."""
    if not line or line.lstrip().startswith("#"):
        return None
    m = NT_LINE.match(line)
    if not m:
        return None
    (s_iri, s_blank, p_iri, o_iri, o_blank,
     o_lex, o_lang, o_dt) = m.groups()
    try:
        if o_blank:
            obj, dt = o_blank, "_JSONMAP"
        elif o_iri is not None:
            obj, dt = _iri_unescape(o_iri), "_IRI"
        else:
            # a plain literal is an xsd:string (Jena can't tell either,
            # thin2thick.clj:125)
            obj = _unescape(o_lex)
            dt = f"@{o_lang}" if o_lang \
                else _iri_unescape(o_dt) if o_dt else _XSD_STRING
        return thin_row(s_blank or _iri_unescape(s_iri),
                        _iri_unescape(p_iri), obj, dt, prefixes)
    except ValueError:
        # malformed UCHAR (out-of-range / surrogate codepoint): the
        # line is unparseable — skip it like any other bad line
        # instead of failing the whole task
        return None


def thin_row(s: str, p: str, o: str, dt: str,
             prefixes: list[tuple[str, str]]) -> tuple:
    """One raw triple → thin-triple tuple: the rule every RDF reader
    shares. A raw triple has full IRIs and ``_:`` blank labels; ``dt``
    is ``_IRI`` (IRI object), ``_JSONMAP`` (blank object), ``@lang``
    or a datatype IRI. IRIs are CURIE-fied against the prefix table
    (longest match, thin2thick.clj:35-42); literals keep their lexical
    form."""
    subject = s if s.startswith("_:") else curify_with(s, prefixes)
    if dt == "_IRI":
        o = curify_with(o, prefixes)
    elif dt != "_JSONMAP" and not dt.startswith("@"):
        dt = curify_with(dt, prefixes)
    return (subject, curify_with(p, prefixes), o, dt,
            subject.startswith("_:"), dt == "_JSONMAP")


def parse_nt_lines(lines: DataFrame,
                   prefixes: list[tuple[str, str]],
                   skipped_acc=None) -> DataFrame:
    """text lines DataFrame (column ``value``) → thin triples; shared
    by the batch reader and the streaming import.

    ``skipped_acc``: optional SparkContext accumulator incremented for
    every non-blank, non-comment line that fails to parse (bad grammar
    or invalid escape), so dropped lines are visible. It counts per
    evaluation of the parse: exact once ONE full scan has run, and
    over-counting if the result is recomputed (each action re-parses
    unless it is materialized, as assign_components does; a retried
    task also adds again)."""
    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        for batch in batches:
            skipped = 0
            for line in pylist(batch.column("value")):
                t = parse_nt_line(line, prefixes)
                if t:
                    yield *t, "", 0
                elif line.strip() and not line.lstrip().startswith("#"):
                    skipped += 1
            if skipped_acc is not None and skipped:
                skipped_acc.add(skipped)

    return map_rows(lines, parse, THIN)


def read_ntriples(spark: SparkSession, path: str,
                  prefix_df: DataFrame,
                  skipped_acc=None) -> DataFrame:
    """Distributed N-Triples scan → thin triples (doc_id empty;
    ``plans.pipeline.rdf_statements`` builds the statements)."""
    prefixes = [(r["prefix"], r["base"]) for r in prefix_df.collect()]
    return parse_nt_lines(spark.read.text(path), prefixes, skipped_acc)


def import_ntriples(spark: SparkSession, path: str,
                    prefix_df: DataFrame,
                    skipped_acc=None) -> DataFrame:
    """Full `ldtab import file.nt` equivalent: parse → component
    closure → stanza assembly → dedup. Returns the statement table."""
    from ..plans.pipeline import rdf_statements
    return rdf_statements(read_ntriples(spark, path, prefix_df,
                                        skipped_acc))
