"""Export sinks + distributed round trip (SURVEY.md K2-K5, R10/R11)."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kg_helpers import PREFIXES, prefix_table
from ldtab_clj_spark.operators.export import (read_tsv, to_ntriples_lines,
                                              to_turtle_lines, write_tsv)
from ldtab_clj_spark.operators.extract import extract_thin_triples
from ldtab_clj_spark.operators.link import link_entities
from ldtab_clj_spark.operators.stanza import thin_to_thick_df
from ldtab_clj_spark.plans.executed import executed
from ldtab_clj_spark.plans.pipeline import build_statements, reimport
from ldtab_clj_spark.synth import entity_dictionary, synth_docs

N_DOCS = 80


@pytest.fixture(scope="module")
def statements(spark):
    docs = synth_docs(spark, N_DOCS, seed=7)
    return build_statements(docs, entity_dictionary(spark)) \
        .localCheckpoint()


def key_set(df):
    return {(r.graph, r.subject, r.predicate, r.object, r.datatype,
             r.annotation) for r in df.collect()}


def test_tsv_roundtrip_with_escaping(spark, tmp_path, statements):
    # inject a row with embedded newline/tab (export.clj:17-29 escapes)
    nasty = spark.createDataFrame(
        [(1, 0, "graph", "ex:n", "rdfs:comment", "line1\nline2\tend",
          "xsd:string", None)], statements.schema)
    df = statements.unionByName(nasty)
    out = str(tmp_path / "export.tsv")
    write_tsv(df, out, sort=True)
    back = read_tsv(spark, out)
    assert back.count() == df.count()
    # true round trip: escape on write, unescape on read
    esc = back.filter(F.col("predicate") == "rdfs:comment").collect()[0]
    assert esc.object == "line1\nline2\tend"
    # on-disk form carries the literal escapes (export.clj:17-29)
    import glob
    raw = "".join(open(f).read() for f in glob.glob(out + "/part-*"))
    assert r"line1\nline2\tend" in raw


def test_distributed_roundtrip_pr(statements):
    again = reimport(statements)
    orig, back = key_set(statements), key_set(again)
    tp = len(orig & back)
    p, r = tp / len(back), tp / len(orig)
    assert p >= 0.95 and r >= 0.95, (p, r, len(orig), len(back))


def test_ntriples_lines(spark, statements):
    prefix = prefix_table(spark)
    lines = [r.value for r in
             to_ntriples_lines(statements, prefix).collect()]
    assert lines and all(line.endswith(" .") for line in lines)
    # every line has a subject node and an expanded predicate IRI
    assert all(line.startswith(("<", "_:")) for line in lines)
    assert any("<http://example.com/" in line for line in lines)
    # literals carry language/datatype tags
    assert any('"@en' in line.replace('"@en', '"@en') and '"' in line
               for line in lines)


def test_curify_expand_inverse(spark):
    from ldtab_clj_spark.functions.prefixes import (curie_to_iri_col,
                                                    curify_col)
    prefixes = [("ex", "http://example.com/"),
                ("exv", "http://example.com/vocab/")]
    df = spark.createDataFrame(
        [("http://example.com/vocab/W",),
         ("http://example.com/a/b",),
         ("http://other.org/x",)], "iri string")
    out = (df.withColumn("curie", curify_col(F.col("iri"), prefixes))
           .withColumn("back", curie_to_iri_col(F.col("curie"), prefixes)))
    rows = {r.iri: (r.curie, r.back) for r in out.collect()}
    assert rows["http://example.com/vocab/W"][0] == "exv:W"
    assert rows["http://example.com/a/b"][0] == "ex:a/b"
    assert rows["http://other.org/x"][0] == "<http://other.org/x>"
    for iri, (_, back) in rows.items():
        assert back == iri


def stanza(statements, prefix):
    """The stanza stage over link's checkpointed thin triples."""
    spark = statements.sparkSession
    thin = extract_thin_triples(synth_docs(spark, N_DOCS, seed=7))
    return thin_to_thick_df(
        link_entities(thin, entity_dictionary(spark)).localCheckpoint())


@pytest.mark.parametrize("stage", [to_ntriples_lines, to_turtle_lines,
                                   stanza])
def test_export_is_one_python_pass(spark, statements, stage):
    """Each kg Python stage is ONE mapInArrow (one Python runner, so
    one worker per task; the export's expand and format share it)
    behind ONE exchange, and AQE's final plan reads that pinned shuffle
    as it is."""
    prefix = prefix_table(spark)
    names = [n.name for n in
             executed(spark, stage(statements, prefix).collect).nodes()]
    assert names.count("MapInArrow") == names.count("Exchange") == 1 \
        and "AQEShuffleRead" not in names, names


def _export_corpus(spark):
    """The kg oracle fixture (annotations, GCI JSON subjects,
    ``_JSONLIST`` objects, multi-row wiring-subject groups) plus
    literals that need escaping, language tags, typed literals and
    ``<unlinked:…>`` IRIs."""
    import pyarrow.parquet as pq

    from ldtab_clj_spark.schemas import STATEMENT
    rows = pq.read_table(Path(__file__).parent / "fixtures"
                         / "kg_oracle_statements.parquet").to_pylist()
    extra = [("ex:lit", "rdfs:comment", 'a\\b "q"\nn\rr\tt', "xsd:string"),
             ("ex:lit", "rdfs:label", 'ça "va"\n', "@fr"),
             ("ex:lit", "ex:size", "42", "xsd:integer"),
             ("<unlinked:Widget 9>", "ex:powers", "<unlinked:W-77>", "_IRI"),
             ("ex:E1", "ex:contains", "<unlinked:Widget 8>", "_IRI")]
    rows += [{"assertion": 1, "retraction": 0, "graph": "graph",
              "subject": s, "predicate": p, "object": o, "datatype": dt,
              "annotation": None} for s, p, o, dt in extra]
    cols = [f.name for f in STATEMENT.fields]
    return rows, spark.createDataFrame([tuple(r[c] for c in cols)
                                        for r in rows], STATEMENT)


def test_fused_export_matches_driver_rendering(spark):
    """Arrow batches of 3 rows: wiring-subject groups straddle batch
    boundaries, and the fused pass must still merge each group whole."""
    from collections import Counter

    from ldtab_clj_spark.core.canonical import curie_to_iri
    from ldtab_clj_spark.core.expand import (expand_statement_row,
                                             is_wiring_blanknode,
                                             merge_existential_rows)
    from ldtab_clj_spark.operators.export import nt_node, nt_object

    rows, df = _export_corpus(spark)
    groups = Counter(r["subject"] for r in rows
                     if is_wiring_blanknode(r["subject"]))
    assert max(groups.values()) > 1
    prefixes = dict(PREFIXES)
    by_subject = {}
    for r in rows:
        by_subject.setdefault(r["subject"], []).append(r)

    def line(t):
        o = nt_object(t["object"], t["datatype"], t["is_blank_o"], prefixes)
        return (f"{nt_node(t['subject'], t['is_blank_s'], prefixes)} "
                f"<{curie_to_iri(t['predicate'], prefixes)}> {o} .")

    want = Counter(line(t) for group in by_subject.values()
                   for r in merge_existential_rows(group)
                   for t in expand_statement_row(r))
    prefix = prefix_table(spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = Counter(r.value for r in
                      to_ntriples_lines(df, prefix).collect())
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert any("<unlinked:" in line for line in got)
    assert any('\\"q\\"\\nn\\rr\\tt' in line for line in got)


@pytest.mark.parametrize("fmt", ["nt", "ttl"])
def test_unlinked_iris_roundtrip_through_both_writers(spark, tmp_path,
                                                      fmt):
    """A user-dictionary miss such as ``<unlinked:Widget 9>`` carries
    a space, which IRIREF excludes: both writers emit it as
    ``\\u0020`` and their readers take the statement set back whole."""
    import glob

    from ldtab_clj_spark.operators.export import write_ntriples, write_turtle
    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    from ldtab_clj_spark.sources.turtle import import_turtle
    rows = [(1, 0, "graph", "<unlinked:Widget 9>", "ex:powers",
             "<unlinked:W-77>", "_IRI", None),
            (1, 0, "graph", "ex:E1", "ex:contains", "<unlinked:Widget 8>",
             "_IRI", None),
            (1, 0, "graph", "<unlinked:Widget 9>", "rdfs:label", "w 9",
             "xsd:string", None)]
    df = spark.createDataFrame(rows, STATEMENT)
    prefix = prefix_table(spark)
    out = str(tmp_path / f"out.{fmt}")
    if fmt == "nt":
        write_ntriples(df, prefix, out)
        skipped = spark.sparkContext.accumulator(0)
        back = import_ntriples(spark, out, prefix, skipped_acc=skipped)
    else:
        write_turtle(df, prefix, out)
        back = import_turtle(spark, out, prefix)
    assert key_set(back) == key_set(df)
    if fmt == "nt":
        assert skipped.value == 0
    text = "".join(open(f).read() for f in glob.glob(out + "/part-*"))
    assert "<unlinked:Widget\\u00209>" in text
    assert "<unlinked:W-77>" in text
    assert "Widget 9" not in text
