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
    info = write_statements(statements, out, partitions=8)
    assert info["rows"] == statements.count()
    assert info["batch_rows"] == info["rows"]
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
    i1 = write_statements(statements, out, partitions=4, run_id="r1")
    i2 = write_statements(statements, out, partitions=4, run_id="r2",
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
    write_statements(statements, out, partitions=4, run_id="r1")
    # simulate the crashed append: data files land, sidecar doesn't
    statements.limit(7).write.mode("append").parquet(out)
    assert not verify_lineage(spark, out)  # mismatch detected...
    # FRESH orphans are NOT adopted (they may belong to a live
    # concurrent run mid-write — the age gate protects attribution).
    # The age uses max(mtime, ctime) — ctime tracks the committer's
    # rename and cannot be back-dated from userspace, so the aged case
    # below lowers the threshold instead of forging timestamps.
    i2 = write_statements(statements.limit(1), out, partitions=1,
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
        info = write_statements(statements, out, partitions=4,
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
    _append_sidecar(spark, out, r1)
    _append_sidecar(spark, out, r2)
    got = _read_sidecar(spark, out)
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
    write_statements(statements, out, partitions=4, run_id="r1")
    rows = _read_sidecar(spark, out)
    # simulate the race: a second run re-enters every existing file
    _append_sidecar(spark, out, [dict(r, run_id="r2") for r in rows])
    raw = [json.loads(line) for line in
           (Path(out + "_lineage") / "lineage.json").read_text()
           .splitlines()]
    assert len(raw) == 2 * len(rows)            # double-entered on disk
    assert len(_read_sidecar(spark, out)) == len(rows)  # deduped on read
    assert verify_lineage(spark, out)
