"""Export sinks + thick→thin expansion operator (SURVEY.md K2-K5,
R10/R11).

Reference: /root/reference/src/ldtab/export.clj (TSV + Turtle writers),
thick_rdf.clj:195-228 (row → RDF model). We emit:

* TSV statement dumps with the reference's newline/tab escaping
  (export.clj:17-29) and optional lexicographic sort (export.clj:50-52)
  — distributed ``df.write.csv``;
* thin-triple expansion (``expand_df``) as a ``mapInArrow`` UDTF —
  the round-trip path (export → re-import) used by the P/R oracle;
* N-Triples and Turtle text lines written distributedly as text; each
  writer expands and formats in ONE ``mapInArrow`` pass, so a task
  holds one Python worker.
"""

from __future__ import annotations

import re
from itertools import chain
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..core.canonical import content_hash, curie_to_iri, curify_with
from ..core.expand import expand_statement_row, merge_existential_rows
from ..schemas import STATEMENT_COLS, THIN
from .batching import grouped_batches, map_rows, pylist
from .parallel import python_partitions


def escape_tsv(col):
    """export.clj:17-29 escapes \\n/\\r/\\t; we additionally escape the
    backslash itself — without it, JSON content (which is full of
    2-char ``\\n`` sequences) is ambiguous with the TSV escapes and the
    read side corrupts canonical JSON (reference flaw, fixed here)."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit("\n"), F.lit("\\n"))
    out = F.replace(out, F.lit("\r"), F.lit("\\r"))
    return F.replace(out, F.lit("\t"), F.lit("\\t"))


def unescape_tsv(col):
    """Exact inverse of escape_tsv. A sentinel (U+0001, never present
    in canonical JSON/IRIs) holds escaped backslashes so ``\\\\n``
    decodes to backslash+n, not to a newline."""
    s = "\x01"
    out = F.replace(col, F.lit("\\\\"), F.lit(s))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    out = F.replace(out, F.lit("\\r"), F.lit("\r"))
    out = F.replace(out, F.lit("\\t"), F.lit("\t"))
    return F.replace(out, F.lit(s), F.lit("\\"))


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count that rides its write: no second scan."""
    rows = Observation()
    return df.observe(rows, F.count(F.lit(1)).alias("rows")), rows


def write_tsv(statements: DataFrame, path: str, sort: bool = False) -> int:
    """K2: TSV export sink. ``sort`` = reference --sort flag
    (lexicographic; a global range-partitioned sort in Spark). Returns
    the number of statements written."""
    df = statements.select(
        *[escape_tsv(F.col(c).cast("string")).alias(c)
          if c in ("subject", "predicate", "object", "annotation")
          else F.col(c).cast("string").alias(c)
          for c in STATEMENT_COLS])
    if sort:
        df = df.orderBy(*STATEMENT_COLS)
    # counted above the sort: the range partitioner's sampling job
    # would count every row below it twice
    df, rows = _counted(df)
    # quoting disabled: the reference format is raw TSV (tabs/newlines
    # already escaped above); CSV quoting would wrap every JSON field
    (df.write.mode("overwrite")
       .option("sep", "\t").option("header", True)
       .option("quote", "").option("escape", "")
       .option("emptyValue", "").csv(path))
    return rows.get["rows"]


def read_tsv(spark, path: str) -> DataFrame:
    """S5: TSV statement source (diff.clj:8-12)."""
    df = (spark.read.option("sep", "\t").option("header", True)
          .option("quote", "").option("escape", "")
          .csv(path))
    return df.select(
        F.col("assertion").cast("long"),
        F.col("retraction").cast("long"),
        "graph",
        unescape_tsv(F.col("subject")).alias("subject"),
        unescape_tsv(F.col("predicate")).alias("predicate"),
        unescape_tsv(F.col("object")).alias("object"),
        "datatype",
        unescape_tsv(F.col("annotation")).alias("annotation"))


def read_prefix_tsv(spark, path: str) -> DataFrame:
    """S4: prefix TSV source (prefix.clj:8-12, header dropped)."""
    return (spark.read.option("sep", "\t").option("header", True)
            .csv(path).select("prefix", "base"))


def _by_subject(statements: DataFrame) -> DataFrame:
    """Statements hash-partitioned at the Python-stage width and sorted
    by subject: each wiring-subject group is one contiguous run, so
    ``_expanded`` streams with memory O(Arrow batch + largest group),
    never O(partition) (wiring groups are 2-5 rows; the sort is
    JVM-side). Over a ``dedup_statements`` output, laid out this way
    already, the planner drops the exchange; other inputs need it."""
    return python_partitions(statements, "subject") \
        .sortWithinPartitions("subject")


def _expanded(batches: Iterator[pa.RecordBatch], typed_owl: bool):
    """R10/R11 over a ``_by_subject`` partition: (statement row, its
    thin triples), wiring-subject groups merged first."""
    for batch in grouped_batches(batches, "subject"):
        rows = [dict(zip(batch.schema.names, values)) for values in
                zip(*(pylist(c) for c in batch.columns))]
        for r in merge_existential_rows(rows):
            yield r, expand_statement_row(r, typed_owl=typed_owl)


def expand_df(statements: DataFrame) -> DataFrame:
    """R10/R11 as a distributed operator: statement rows → thin
    triples (one-to-many, Arrow-batched), for the re-import path."""
    def thin_rows(batches: Iterator[pa.RecordBatch]):
        for r, triples in _expanded(batches, False):
            # blank labels are row-content-hash-local (core.expand), so
            # each expanded row is a closed stanza component: its hash
            # becomes the re-import grouping key (doc_id slot)
            comp = content_hash("\x1f".join(
                str(r.get(k)) for k in ("subject", "predicate", "object",
                                        "datatype", "annotation")))
            for t in triples:
                yield (t["subject"], t["predicate"], t["object"],
                       t["datatype"], t["is_blank_s"], t["is_blank_o"],
                       comp, 0)

    return map_rows(_by_subject(statements), thin_rows, THIN)


def _text_lines(statements: DataFrame, typed_owl: bool, line,
                header: tuple[str, ...] = ()) -> DataFrame:
    """Statement rows → text lines, expanded and formatted
    (``line(thin_triple)``) in ONE Python pass per task. ``header``
    opens every non-empty partition."""
    def fmt(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        lines = ((line(t),) for _, triples in _expanded(batches, typed_owl)
                 for t in triples)
        first = next(lines, None)
        if first is not None:
            yield from chain(((h,) for h in header), [first], lines)

    return map_rows(_by_subject(statements), fmt, "value string")


def escape_literal(v: str) -> str:
    """A literal's lexical form with N-Triples/Turtle string escapes."""
    return (v.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r")
            .replace("\t", "\\t"))


# characters IRIREF excludes (N-Triples and Turtle grammars); the
# writers emit each as a UCHAR, which both readers decode
_IRI_ESCAPE = re.compile(r'[\x00-\x20<>"{}|^`\\]')


def iri_ref(iri: str) -> str:
    """``<iri>`` as an IRIREF: every excluded character (a space in an
    ``<unlinked:Widget 9>`` miss, say) written as ``\\uXXXX``."""
    if _IRI_ESCAPE.search(iri):
        iri = _IRI_ESCAPE.sub(lambda m: f"\\u{ord(m.group()):04X}", iri)
    return f"<{iri}>"


def blank_label(v: str) -> str:
    """A blank node's label as both RDF writers print it (``_:x`` →
    ``_:bx``)."""
    return v.replace("_:", "_:b")


def nt_node(v: str, blank: bool, prefixes: dict) -> str:
    """One N-Triples subject/predicate term."""
    if blank:
        return blank_label(v)
    return iri_ref(curie_to_iri(v, prefixes))


def nt_object(v: str, dt: str, blank: bool, prefixes: dict) -> str:
    """One N-Triples object term (IRI, blank, or escaped literal)."""
    if blank or dt == "_JSONMAP":
        return blank_label(v)
    if dt == "_IRI":
        return iri_ref(curie_to_iri(v, prefixes))
    lex = escape_literal(v)
    if dt.startswith("@"):
        return f'"{lex}"{dt}'
    return f'"{lex}"^^{iri_ref(curie_to_iri(dt, prefixes))}'


def to_ntriples_lines(statements: DataFrame, prefix_df: DataFrame,
                      typed_owl: bool = False) -> DataFrame:
    """K3/K4: statement rows → N-Triples text lines (IRIs expanded via
    the collected prefix map, curie-2-uri semantics
    thick_rdf.clj:32-43; literals quoted with datatype/lang tags)."""
    prefixes = {r["prefix"]: r["base"] for r in prefix_df.collect()}

    def line(t: dict) -> str:
        s = nt_node(t["subject"], t["is_blank_s"], prefixes)
        o = nt_object(t["object"], t["datatype"], t["is_blank_o"],
                      prefixes)
        p = iri_ref(curie_to_iri(t["predicate"], prefixes))
        return f"{s} {p} {o} ."

    return _text_lines(statements, typed_owl, line)


def write_ntriples(statements: DataFrame, prefix_df: DataFrame,
                   path: str, typed_owl: bool = False) -> int:
    """N-Triples files at ``path``; returns the statements written."""
    statements, rows = _counted(statements)
    to_ntriples_lines(statements, prefix_df, typed_owl) \
        .write.mode("overwrite").text(path)
    return rows.get["rows"]


# neither PN_PREFIX nor PN_LOCAL may END with '.' (a trailing dot is
# the statement terminator) — the local case was caught by hypothesis
# (tests/test_property.py); the prefix case is the same grammar rule
_PN_OK = re.compile(
    r"^[A-Za-z_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?:"
    r"[A-Za-z0-9_](?:[A-Za-z0-9_.\-]*[A-Za-z0-9_\-])?$")


def turtle_term(v: str, blank: bool, prefixes: dict,
                prefix_list: list) -> str:
    """One Turtle term: blank label, prefixed name (when the compaction
    is PN-valid) or <iri>."""
    if blank:
        return blank_label(v)
    iri = curie_to_iri(v, prefixes)
    c = curify_with(iri, prefix_list)
    if c.startswith("<") or not _PN_OK.match(c):
        return iri_ref(iri)
    return c


def turtle_literal(v: str, dt: str, prefixes: dict,
                   prefix_list: list) -> str:
    """Quoted Turtle literal with escapes + lang/datatype tag."""
    lex = escape_literal(v)
    if dt.startswith("@"):
        return f'"{lex}"{dt}'
    if dt in ("xsd:string",
              "<http://www.w3.org/2001/XMLSchema#string>"):
        return f'"{lex}"'
    return f'"{lex}"^^{turtle_term(dt, False, prefixes, prefix_list)}'


def to_turtle_lines(statements: DataFrame, prefix_df: DataFrame,
                    typed_owl: bool = False) -> DataFrame:
    """K3/K4 Turtle form (export.clj:59-70, thick_rdf.clj:217-228):
    statement rows → Turtle lines with CURIE compaction against the
    collected prefix map. Distributed analog of Jena's TURTLE_BLOCKS
    stream writer: every PARTITION is a standalone valid Turtle
    document (its own ``@prefix`` header), so a directory of part files
    is a valid Turtle dataset and each part parses independently."""
    prefix_list = [(r["prefix"], r["base"]) for r in prefix_df.collect()]
    prefixes = dict(prefix_list)
    header = (*[f"@prefix {p}: {iri_ref(b)} ."
                for p, b in sorted(prefix_list)], "")

    def term(v: str, blank: bool) -> str:
        return turtle_term(v, blank, prefixes, prefix_list)

    def line(t: dict) -> str:
        o, dt = t["object"], t["datatype"]
        if t["is_blank_o"] or dt == "_JSONMAP":
            obj = blank_label(o)
        elif dt == "_IRI":
            obj = term(o, False)
        else:
            obj = turtle_literal(o, dt, prefixes, prefix_list)
        return (f"{term(t['subject'], t['is_blank_s'])} "
                f"{term(t['predicate'], False)} {obj} .")

    return _text_lines(statements, typed_owl, line, header)


def write_turtle(statements: DataFrame, prefix_df: DataFrame,
                 path: str, typed_owl: bool = False) -> int:
    """Turtle files at ``path``; returns the statements written."""
    statements, rows = _counted(statements)
    to_turtle_lines(statements, prefix_df, typed_owl) \
        .write.mode("overwrite").text(path)
    return rows.get["rows"]
