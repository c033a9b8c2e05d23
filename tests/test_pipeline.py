"""End-to-end distributed pipeline vs a single-node oracle.

The oracle runs the SAME semantic core driver-side over collected
spans (no Spark partitioning, grouping, or joins involved), playing
the role of the reference implementation: P/R of the distributed
result vs the oracle must be ≥ 0.95 (BASELINE.json). Also checks the
per-row span-sequence invariant (kind, text, media_ref, order) and
round-trip re-import P/R.
"""

import pytest

from ldtab_clj_spark.core.expand import (expand_statement_row,
                                         merge_existential_rows)
from ldtab_clj_spark.core.thick import (drop_superfluous_annotations,
                                        thin_to_thick, to_statement_row)
from ldtab_clj_spark.plans.executed import executed
from ldtab_clj_spark.plans.pipeline import build_statements, run_pipeline
from ldtab_clj_spark.plans.single_node import single_node_statements
from ldtab_clj_spark.synth import entity_dictionary, make_doc_spans, synth_docs

N_DOCS = 120
SEED = 42


def oracle_statements():
    """Driver-side single-node reference path (plans/single_node.py,
    also frozen as the driver's DuckDB fixture by
    tools/make_kg_fixture.py)."""
    return single_node_statements(N_DOCS, SEED)


def row_key(r):
    g = r["graph"] if isinstance(r, dict) else r.graph
    get = (lambda k: r[k]) if isinstance(r, dict) else (lambda k: getattr(r, k))
    return (g, get("subject"), get("predicate"), get("object"),
            get("datatype"), get("annotation"))


def precision_recall(result_keys, oracle_keys):
    tp = len(result_keys & oracle_keys)
    p = tp / len(result_keys) if result_keys else 0.0
    r = tp / len(oracle_keys) if oracle_keys else 0.0
    return p, r


@pytest.fixture(scope="module")
def statements(spark):
    docs = synth_docs(spark, N_DOCS, seed=SEED)
    return build_statements(docs, entity_dictionary(spark)).cache()


def test_span_sequence_invariant(spark):
    """posexplode order must equal generator span order — (kind, text,
    media_ref, order) per row (BASELINE.json input_hint)."""
    from pyspark.sql import functions as F
    docs = synth_docs(spark, 20, seed=SEED)
    got = (docs.select("doc_id", F.posexplode("spans").alias("pos", "s"))
           .select("doc_id", "pos", "s.kind", "s.text", "s.media_ref")
           .collect())
    expected = {}
    for d in range(20):
        for pos, sp in enumerate(make_doc_spans(SEED, d)):
            expected[(f"doc-{d:010d}", pos)] = (sp["kind"], sp["text"],
                                                sp["media_ref"])
    assert len(got) == len(expected)
    for row in got:
        assert expected[(row.doc_id, row.pos)] == \
            (row.kind, row.text, row.media_ref)


def test_span_templates_and_near_misses():
    """One span per template gives its triples (subject, predicate,
    object, datatype; the blank flags follow from the terms); a text
    that misses the template its prefix or suffix selects gives
    none."""
    from ldtab_clj_spark.operators.extract import _parse_span

    def triples(text):
        out = _parse_span("7", 3, "text", text, "")
        for s, p, o, dt, bs, bo in out:
            assert bs == s.startswith("_:")
            assert bo == (dt == "_JSONMAP" and o.startswith("_:"))
        return [t[:4] for t in out]

    i, w = "_IRI", "surface:Widget "
    assert triples("Widget 1 contains W-2.") == [
        (w + "1", "ex:contains", "surface:W-2", i)]
    assert triples('Widget 3 is labeled "gear".') == [
        (w + "3", "rdfs:label", "gear", "@en")]
    a = "_:d7p3a"
    assert triples("According to alice, Widget 4 powers W-5.") == [
        (a, "owl:annotatedSource", w + "4", i),
        (a, "owl:annotatedProperty", "ex:powers", i),
        (a, "owl:annotatedTarget", "surface:W-5", i),
        (a, "rdf:type", "owl:Axiom", i),
        (a, "ex:assertedBy", "alice", "xsd:string")]
    g, lc = "_:d7p3g", "_:d7p3l"
    assert triples("Group: Widget 6; W-7; Widget 8 are exclusive.") == [
        (g, "rdf:type", "owl:AllDisjointClasses", i),
        (g, "owl:members", lc + "0", "_JSONMAP"),
        (lc + "0", "rdf:first", w + "6", i),
        (lc + "0", "rdf:rest", lc + "1", "_JSONMAP"),
        (lc + "1", "rdf:first", "surface:W-7", i),
        (lc + "1", "rdf:rest", lc + "2", "_JSONMAP"),
        (lc + "2", "rdf:first", w + "8", i),
        (lc + "2", "rdf:rest", "rdf:nil", i)]
    st = "_:d7p3s"
    assert triples("Allegedly, W-9 resembles Widget 10 (per bob).") == [
        (st, "rdf:subject", "surface:W-9", i),
        (st, "rdf:predicate", "ex:resembles", i),
        (st, "rdf:object", w + "10", i),
        (st, "rdf:type", "rdf:Statement", i),
        (st, "ex:source", "bob", "xsd:string")]
    r = "_:d7p3r"
    assert triples("Rule: anything that contains Widget 11 is W-12.") == [
        (r, "rdf:type", "owl:Restriction", i),
        (r, "owl:onProperty", "ex:contains", i),
        (r, "owl:someValuesFrom", w + "11", i),
        (r, "rdfs:subClassOf", "surface:W-12", i)]
    assert triples("Every Widget 13 powers some W-14.") == [
        (w + "13", "rdfs:subClassOf", r, "_JSONMAP"),
        (r, "rdf:type", "owl:Restriction", i),
        (r, "owl:onProperty", "ex:powers", i),
        (r, "owl:someValuesFrom", "surface:W-14", i)]
    for miss in ["Group: a, b.", 'Widget 1 is labeled "x"',
                 "Widget 1 contains W-2", "Widget x contains W-2.",
                 'Widget 1 contains "W-2".', "Every Widget 1 powers W-2.",
                 "According to alice, Widget 4 powers W-5", "Rule: x.",
                 ""]:
        assert triples(miss) == [], miss


def test_pipeline_matches_oracle(statements):
    result = {row_key(r) for r in statements.collect()}
    oracle = {row_key(r) for r in oracle_statements()}
    p, r = precision_recall(result, oracle)
    assert p >= 0.95 and r >= 0.95, (p, r, len(result), len(oracle))
    # in fact the paths should agree exactly
    assert p == 1.0 and r == 1.0


def test_no_unresolved_surfaces(statements):
    from pyspark.sql import functions as F
    bad = statements.filter(
        F.col("subject").startswith("surface:")
        | F.col("object").startswith("surface:")).count()
    assert bad == 0


def test_roundtrip_pr(statements):
    """Export → thin expansion → re-import ≥ 0.95 P/R (reference oracle:
    ROBOT round-trip, /root/reference/Makefile test target)."""
    rows = [dict(r.asDict()) for r in statements.collect()]
    merged = merge_existential_rows(rows)
    thin = [t for row in merged for t in expand_statement_row(row)]
    # group re-imported triples by their originating row is impossible
    # (a real re-import sees one big graph) — run the whole set at once
    again = drop_superfluous_annotations(
        [to_statement_row(t) for t in thin_to_thick(thin)])
    result = {row_key(r) for r in again}
    oracle = {row_key(r) for r in rows}
    p, r = precision_recall(result, oracle)
    assert p >= 0.95 and r >= 0.95, (p, r)


def test_materialize_lineage(spark, tmp_path, statements):
    from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                       write_statements)
    out = str(tmp_path / "statement")
    info = write_statements(statements.repartition(8), out)
    assert info["rows"] == statements.count()
    assert info["batch_rows"] == info["rows"]
    assert verify_lineage(spark, out)


def test_written_table_keeps_the_subject_layout(spark, tmp_path):
    """The write keeps dedup_statements' layout: one part file per
    core, every subject in exactly one of them, lineage intact."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                       write_statements)
    out = str(tmp_path / "statement")
    write_statements(build_statements(synth_docs(spark, 200, seed=5),
                                      entity_dictionary(spark)), out)
    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) == spark.sparkContext.defaultParallelism
    seen = {}
    for f in files:
        for s in set(pq.read_table(f, columns=["subject"])
                     .column("subject").to_pylist()):
            seen[s] = seen.get(s, 0) + 1
    assert seen and set(seen.values()) == {1}
    assert verify_lineage(spark, out)


def test_materialize_append_lineage_deltas(spark, tmp_path, statements):
    """Appends keep per-import deltas in the sidecar: earlier files
    retain their run_id, new files get the new one, totals add up."""
    import json
    from pathlib import Path

    from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                       write_statements)
    out = str(tmp_path / "statement")
    n = statements.count()
    i1 = write_statements(statements.repartition(4), out, run_id="r1")
    i2 = write_statements(statements.repartition(4), out, run_id="r2",
                          mode="append")
    assert i1["rows"] == n and i1["batch_rows"] == n
    assert i2["batch_rows"] == n and i2["rows"] == 2 * n
    rows = [json.loads(line) for line in
            (Path(out + "_lineage") / "lineage.json").read_text()
            .splitlines()]
    by_run = {}
    for r in rows:
        by_run.setdefault(r["run_id"], 0)
        by_run[r["run_id"]] += r["rows"]
    assert by_run == {"r1": n, "r2": n}
    assert verify_lineage(spark, out)


def test_append_reads_only_its_own_footers(spark, tmp_path, statements,
                                           monkeypatch):
    """An append reads the parquet footers of the files it added, not
    of the whole table: six appends of 4 files each read 4 footers
    each, and the sidecar totals still add up."""
    import pyarrow.parquet as pq

    from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                       write_statements)
    opened = []
    real = pq.ParquetFile

    def counting(*args, **kwargs):
        opened.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    out = str(tmp_path / "statement")
    reads = []
    for i in range(6):
        opened.clear()
        info = write_statements(statements.repartition(4), out,
                                run_id=f"r{i}", mode="append")
        reads.append((len(opened), info["partitions"]))
    assert reads == [(4, 4)] * 6
    assert info["rows"] == 6 * statements.count()
    assert verify_lineage(spark, out)


def test_append_adopts_orphan_files_after_crash(spark, tmp_path,
                                                statements):
    """A crash between the parquet append and the sidecar append
    leaves on-disk files with no lineage entry. The next append must
    ADOPT them (sentinel run_id) so verify_lineage converges — the
    documented re-run-on-mismatch resume loop depends on it (r4
    ADVICE: the round-3 `known = prior | pre` exclusion wedged
    verify_lineage forever)."""
    import json
    from pathlib import Path

    from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                       write_statements)
    from ldtab_clj_spark.operators import materialize as mat
    out = str(tmp_path / "statement")
    n = statements.count()
    write_statements(statements.repartition(4), out, run_id="r1")
    # simulate the crashed append: data files land, sidecar doesn't
    statements.limit(7).write.mode("append").parquet(out)
    assert not verify_lineage(spark, out)  # mismatch detected...
    # FRESH orphans are NOT adopted (they may belong to a live
    # concurrent run mid-write — the age gate protects attribution).
    # The age uses max(mtime, ctime) — ctime tracks the committer's
    # rename and cannot be back-dated from userspace, so the aged case
    # below lowers the threshold instead of forging timestamps.
    i2 = write_statements(statements.limit(1).repartition(1), out,
                          run_id="r2", mode="append")
    status = verify_lineage(spark, out)
    assert not status
    # the gap is surfaced by BOTH the write result and verify_lineage
    # itself (r4 verdict #9: resume tooling shouldn't have to parse
    # write results to see it)
    assert i2["unadopted_files"] > 0
    assert status.unadopted_files > 0
    assert status.actual > status.expected
    # ...past the grace period the next append adopts them
    orig = mat.ADOPT_GRACE_SECS
    mat.ADOPT_GRACE_SECS = -1.0
    try:
        info = write_statements(statements.repartition(4), out,
                                run_id="r3", mode="append")
    finally:
        mat.ADOPT_GRACE_SECS = orig
    status = verify_lineage(spark, out)
    assert status                          # ...and the re-run converges
    assert status.unadopted_files == 0
    assert info["rows"] == 2 * n + 7 + 1
    rows = [json.loads(line) for line in
            (Path(out + "_lineage") / "lineage.json").read_text()
            .splitlines()]
    by_run = {}
    for r in rows:
        by_run[r["run_id"]] = by_run.get(r["run_id"], 0) + r["rows"]
    assert by_run.get("adopted") == 7 and by_run["r1"] == n \
        and by_run["r2"] == 1 and by_run["r3"] == n


def test_sidecar_append_survives_interleaved_runs(spark, tmp_path):
    """Concurrent appends into one table must not drop each other's
    lineage entries: the sidecar update is append-only (one O_APPEND
    write per run), not a read-modify-rewrite. Simulated worst case —
    two runs that both computed their new rows before either wrote."""
    from ldtab_clj_spark.operators.materialize import (_append_sidecar,
                                                       _read_sidecar)
    out = str(tmp_path / "t")
    r1 = [{"file": "part-a.parquet", "rows": 5, "run_id": "r1", "ts": 1}]
    r2 = [{"file": "part-b.parquet", "rows": 7, "run_id": "r2", "ts": 1}]
    _append_sidecar(out, r1)
    _append_sidecar(out, r2)
    got = _read_sidecar(out)
    assert {(r["file"], r["rows"], r["run_id"]) for r in got} \
        == {("part-a.parquet", 5, "r1"), ("part-b.parquet", 7, "r2")}


def test_pipeline_invariant_to_partition_count(spark):
    """The statement set must be a pure function of the corpus — not of
    parallelism (the resumability/determinism premise of the north
    rule: N and 4N executors produce identical output)."""
    from ldtab_clj_spark.synth import synth_docs

    def stmts(partitions):
        docs = synth_docs(spark, 80, seed=11, partitions=partitions)
        df = build_statements(docs, entity_dictionary(spark))
        return {row_key(r) for r in df.collect()}

    assert stmts(2) == stmts(16)


def test_link_broadcast_and_salted_paths_agree(spark):
    """The tail-dictionary join has two physical strategies — explicit
    broadcast (small dict, the sandbox default) and salted shuffle
    join (the >BROADCAST_TAIL_MAX_ROWS fallback, the 100 TB path).
    Both must resolve identically; the salted path otherwise has no
    pipeline-default coverage."""
    from unittest import mock

    from ldtab_clj_spark.operators import link
    from ldtab_clj_spark.synth import synth_docs

    docs = synth_docs(spark, 100, seed=7)

    def stmts():
        df = build_statements(docs, entity_dictionary(spark))
        return {row_key(r) for r in df.collect()}

    broadcast = stmts()
    with mock.patch.object(link, "BROADCAST_TAIL_MAX_ROWS", -1):
        salted = stmts()
    assert broadcast == salted and broadcast


def test_pipeline_include_media_matches_single_node(spark):
    """The optional multimodal stage (include_media=True) unions
    ex:featureHash statements into the graph, and the distributed
    result equals the single-node oracle exactly — same contract as
    the base pipeline."""
    docs = synth_docs(spark, 60, seed=9)
    got = {row_key(r) for r in
           build_statements(docs, entity_dictionary(spark),
                            include_media=True).collect()}
    want = {row_key(r) for r in
            single_node_statements(60, seed=9, include_media=True)}
    assert got == want
    media_rows = {k for k in got if k[2] == "ex:featureHash"}
    assert media_rows and all(k[1].startswith("<media://")
                              for k in media_rows)
    # and the base pipeline is exactly the media rows' complement
    base = {row_key(r) for r in single_node_statements(60, seed=9)}
    assert got - media_rows == base


def test_sidecar_double_entry_dedup_keeps_verify_true(spark, tmp_path,
                                                      statements):
    """Race window: two concurrent runs can both enter a file that
    landed between their directory snapshots. One entry per physical
    file must win on read, so verify_lineage stays true on a healthy
    table."""
    import json
    from pathlib import Path

    from ldtab_clj_spark.operators.materialize import (_append_sidecar,
                                                       _read_sidecar,
                                                       verify_lineage,
                                                       write_statements)
    out = str(tmp_path / "statement")
    write_statements(statements.repartition(4), out, run_id="r1")
    rows = _read_sidecar(out)
    # simulate the race: a second run re-enters every existing file
    _append_sidecar(out, [dict(r, run_id="r2") for r in rows])
    raw = [json.loads(line) for line in
           (Path(out + "_lineage") / "lineage.json").read_text()
           .splitlines()]
    assert len(raw) == 2 * len(rows)            # double-entered on disk
    assert len(_read_sidecar(out)) == len(rows)  # deduped on read
    assert verify_lineage(spark, out)


def test_lineage_accepts_file_uri(spark, tmp_path, statements):
    """A ``file:`` URI and the plain path name the same table and the
    same sidecar."""
    from ldtab_clj_spark.operators.materialize import (verify_lineage,
                                                       write_statements)
    out = tmp_path / "statement"
    info = write_statements(statements.repartition(2), f"file:{out}")
    assert (tmp_path / "statement_lineage" / "lineage.json").exists()
    assert info["rows"] == info["batch_rows"] > 0
    assert verify_lineage(spark, f"file:{out}")
    assert verify_lineage(spark, str(out))


def test_lineage_rejects_remote_uri_before_any_job(spark, statements):
    """Lineage lives on local disk: an ``s3://`` table path raises a
    ValueError naming it before any Spark job runs (pathlib would
    otherwise write the sidecar under a local ``s3:`` directory)."""
    from pathlib import Path

    from ldtab_clj_spark.operators.materialize import (rebuild_sidecar,
                                                       verify_lineage,
                                                       write_statements)
    path = "s3://bucket/db/statement"

    def refuse_all():
        for call in (lambda: write_statements(statements, path),
                     lambda: verify_lineage(spark, path),
                     lambda: rebuild_sidecar(path, "r1")):
            with pytest.raises(ValueError, match="s3://bucket/db"):
                call()

    assert executed(spark, refuse_all).jobs == []
    assert not Path("s3:").exists()
