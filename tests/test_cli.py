"""CLI end-to-end: init → prefix → import → export → diff (the
reference's Makefile round-trip workflow, cli.clj dispatch)."""

import pytest

from kg_helpers import stmt_keys
from ldtab_clj_spark.cli import main
from ldtab_clj_spark.synth import synth_docs

PREFIX_TSV = "prefix\tbase\nex\thttp://example.com/\nrdf\thttp://www.w3.org/1999/02/22-rdf-syntax-ns#\nrdfs\thttp://www.w3.org/2000/01/rdf-schema#\nowl\thttp://www.w3.org/2002/07/owl#\nxsd\thttp://www.w3.org/2001/XMLSchema#\n"


def test_cli_workflow(spark, tmp_path, capsys):
    db = str(tmp_path / "db")
    docs_dir = str(tmp_path / "docs")
    synth_docs(spark, 40, seed=3).write.parquet(docs_dir)
    tsv_dir = tmp_path / "prefix_tsv"
    tsv_dir.mkdir()
    (tsv_dir / "prefix.tsv").write_text(PREFIX_TSV)

    assert main(["init", db]) == 0
    assert main(["init", db]) == 1  # already initialized → error
    assert main(["prefix", db, str(tsv_dir / "prefix.tsv")]) == 0
    assert main(["import", db, docs_dir]) == 0

    orig = stmt_keys(spark.read.parquet(f"{db}/statement"))
    n = len(orig)
    assert n > 0

    out_tsv = str(tmp_path / "dump.tsv")
    assert main(["export", db, out_tsv, "--sort"]) == 0
    out_nt = str(tmp_path / "dump.nt")
    assert main(["export", db, out_nt]) == 0
    assert main(["export", db, str(tmp_path / "dump.xyz")]) == 1

    # diff against a truncated TSV: drops become retractions
    from ldtab_clj_spark.operators.export import read_tsv, write_tsv
    dump = read_tsv(spark, out_tsv)
    write_tsv(dump.limit(n - 5), str(tmp_path / "new.tsv"))
    capsys.readouterr()
    assert main(["diff", db, str(tmp_path / "new.tsv")]) == 0
    # the printed counts come from the write itself
    assert capsys.readouterr().out.strip().endswith("+0 -5")
    after = spark.read.parquet(f"{db}/statement")
    assert after.filter("retraction > 0").count() == 5
    # the swap rebuilt the lineage sidecar from the new files: a
    # healthy post-diff table must verify, and a follow-up append
    # import must report totals without ghost entries
    from ldtab_clj_spark.operators.materialize import (_read_sidecar,
                                                       verify_lineage)
    assert verify_lineage(spark, f"{db}/statement")
    assert all(r["run_id"].startswith("diff-")
               for r in _read_sidecar(f"{db}/statement"))
    assert main(["import", db, docs_dir]) == 0
    assert verify_lineage(spark, f"{db}/statement")
    # re-import of the NT dump reproduces the statement set (P/R oracle)
    db2 = str(tmp_path / "db2")
    assert main(["init", db2]) == 0
    assert main(["prefix", db2, str(tsv_dir / "prefix.tsv")]) == 0
    assert main(["import", db2, out_nt, "--nt"]) == 0
    again = stmt_keys(spark.read.parquet(f"{db2}/statement"))
    tp = len(orig & again)
    assert tp / len(again) >= 0.95 and tp / len(orig) >= 0.95


def test_cli_first_import_into_fresh_db_sees_no_orphan(spark, tmp_path,
                                                       capsys):
    """init's empty statement table carries its lineage entry, so the
    first import neither warns of an orphan nor leaves one
    unadopted."""
    from ldtab_clj_spark.operators.materialize import verify_lineage
    db = str(tmp_path / "db")
    docs_dir = str(tmp_path / "docs")
    synth_docs(spark, 40, seed=3).write.parquet(docs_dir)
    (tmp_path / "prefix.tsv").write_text(PREFIX_TSV)
    assert main(["init", db]) == 0
    assert main(["prefix", db, str(tmp_path / "prefix.tsv")]) == 0
    capsys.readouterr()
    assert main(["import", db, docs_dir]) == 0
    assert "orphan" not in capsys.readouterr().err
    status = verify_lineage(spark, f"{db}/statement")
    assert status and status.unadopted_files == 0


def test_cli_export_prints_the_deduped_count(spark, tmp_path, capsys):
    """The printed count comes from the write itself: it is the row
    count after dedup-on-read, for every export format."""
    import re

    from ldtab_clj_spark.operators.materialize import dedup_statements
    db = str(tmp_path / "db")
    docs_dir = str(tmp_path / "docs")
    synth_docs(spark, 20, seed=4).write.parquet(docs_dir)
    (tmp_path / "p.tsv").write_text(PREFIX_TSV)
    assert main(["init", db]) == 0
    assert main(["prefix", db, str(tmp_path / "p.tsv")]) == 0
    # importing twice stores every statement twice
    assert main(["import", db, docs_dir]) == 0
    assert main(["import", db, docs_dir]) == 0
    stored = spark.read.parquet(f"{db}/statement")
    want = dedup_statements(stored).count()
    assert stored.count() == 2 * want
    for out, flags in [("d.nt", []), ("d.ttl", []), ("d.tsv", []),
                       ("s.tsv", ["--sort"])]:
        capsys.readouterr()
        assert main(["export", db, str(tmp_path / out), *flags]) == 0
        printed = capsys.readouterr().out
        assert re.search(rf"exported {want} statements to ", printed), \
            (out, flags, printed, want)


def test_cli_prefix_list(spark, tmp_path, capsys):
    db = str(tmp_path / "db")
    (tmp_path / "p.tsv").write_text(PREFIX_TSV)
    assert main(["init", db]) == 0
    assert main(["prefix", db, str(tmp_path / "p.tsv")]) == 0
    capsys.readouterr()
    assert main(["prefix", db, "--list"]) == 0
    out = capsys.readouterr().out
    assert "ex\thttp://example.com/" in out
    assert out.splitlines() == sorted(out.splitlines())
    assert main(["prefix", db]) == 1  # no tsv, no --list → error


def test_cli_table_and_graph(spark, tmp_path, capsys):
    """--table isolates statement tables in one DB; --graph sets the
    named graph (cli.clj:24-26,33-37)."""
    db = str(tmp_path / "db")
    (tmp_path / "p.tsv").write_text(PREFIX_TSV)
    (tmp_path / "g.ttl").write_text(
        "@prefix ex: <http://example.com/> .\n"
        "ex:a ex:p ex:b .\n")
    assert main(["init", db, "--table", "side"]) == 0
    assert main(["prefix", db, str(tmp_path / "p.tsv")]) == 0
    assert main(["import", db, str(tmp_path / "g.ttl"),
                 "--table", "side", "--graph", "ex:g1"]) == 0
    rows = spark.read.parquet(f"{db}/side").collect()
    assert {r.graph for r in rows} == {"ex:g1"}
    assert rows[0].subject == "ex:a"
    # default table untouched / absent
    import pathlib
    assert not (pathlib.Path(db) / "statement").exists()
    out_tsv = str(tmp_path / "side.tsv")
    assert main(["export", db, out_tsv, "--table", "side"]) == 0


def test_cli_streaming_nt_import(spark, tmp_path):
    """import --streaming with an .nt input takes the incremental path
    (reference: import.clj:142-184) and matches a plain import."""
    db1, db2 = str(tmp_path / "db1"), str(tmp_path / "db2")
    (tmp_path / "p.tsv").write_text(PREFIX_TSV)
    nt_dir = tmp_path / "in_nt"
    nt_dir.mkdir()
    (nt_dir / "a.nt").write_text(
        "<http://example.com/a> <http://example.com/p> "
        "<http://example.com/b> .\n"
        "_:r <http://example.com/q> \"lit\" .\n")
    (nt_dir / "b.nt").write_text(
        "<http://example.com/c> <http://example.com/p> "
        "<http://example.com/d> .\n")
    for db, flags in ((db1, ["--streaming"]), (db2, [])):
        assert main(["init", db]) == 0
        assert main(["prefix", db, str(tmp_path / "p.tsv")]) == 0
        assert main(["import", db, str(nt_dir) + "/", "--nt"]
                    + flags) == 0

    s = stmt_keys(spark.read.parquet(f"{db1}/statement"))
    b = stmt_keys(spark.read.parquet(f"{db2}/statement"))
    assert s == b and len(s) == 3
    # per-run tmp table/checkpoint cleaned up
    import pathlib
    assert not list(pathlib.Path(db1, "tmp").glob("*"))


def test_cli_streaming_single_file_and_empty_dir(spark, tmp_path):
    """Regressions: a single .nt FILE streams via parent+glob (the
    file-stream source needs a directory), and an empty input imports
    0 statements instead of crashing; failed/finished runs leave no
    tmp dirs behind."""
    import pathlib
    db = str(tmp_path / "db")
    (tmp_path / "p.tsv").write_text(PREFIX_TSV)
    assert main(["init", db]) == 0
    assert main(["prefix", db, str(tmp_path / "p.tsv")]) == 0
    single = tmp_path / "one.nt"
    single.write_text(
        "<http://example.com/a> <http://example.com/p> "
        "<http://example.com/b> .\n")
    # a sibling .nt must NOT leak into the single-file import
    (tmp_path / "other.nt").write_text(
        "<http://example.com/x> <http://example.com/p> "
        "<http://example.com/y> .\n")
    assert main(["import", db, str(single), "--streaming"]) == 0
    rows = spark.read.parquet(f"{db}/statement").collect()
    assert {r.subject for r in rows} == {"ex:a"}
    empty = tmp_path / "empty_dir"
    empty.mkdir()
    assert main(["import", db, str(empty) + "/", "--nt",
                 "--streaming"]) == 0
    assert spark.read.parquet(f"{db}/statement").count() == len(rows)
    assert not list(pathlib.Path(db, "tmp").glob("*"))


def test_cli_include_media_rejected_off_batch_docs_path(spark, tmp_path,
                                                        capsys):
    """--include-media only exists on the docs-parquet batch branch;
    combining it with --streaming or an RDF input must error loudly
    instead of silently importing without media statements."""
    db = str(tmp_path / "db")
    (tmp_path / "p.tsv").write_text(PREFIX_TSV)
    assert main(["init", db]) == 0
    assert main(["prefix", db, str(tmp_path / "p.tsv")]) == 0
    docs_dir = str(tmp_path / "docs")
    synth_docs(spark, 10, seed=7).write.parquet(docs_dir)
    nt = tmp_path / "x.nt"
    nt.write_text("<http://example.com/a> <http://example.com/p> "
                  "<http://example.com/b> .\n")

    assert main(["import", db, docs_dir, "--streaming",
                 "--include-media"]) == 2
    assert main(["import", db, str(nt), "--include-media"]) == 2
    assert "--include-media" in capsys.readouterr().err
    # the valid combination still works
    assert main(["import", db, docs_dir, "--include-media"]) == 0
    media = spark.read.parquet(f"{db}/statement") \
        .filter("predicate = 'ex:featureHash'")
    assert media.count() > 0
