"""Storage format of the tables the engine keeps: every Parquet write
the package makes is zstd-compressed (the session's codec), old snappy
part files stay readable next to new zstd ones, and the package reads
its own tables with their schemas instead of inferring them."""

from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ldtab_clj_spark.cli import _read_db, main
from ldtab_clj_spark.operators.export import write_tsv
from ldtab_clj_spark.operators.materialize import (rebuild_sidecar,
                                                   verify_lineage,
                                                   write_statements)
from ldtab_clj_spark.plans.executed import executed
from ldtab_clj_spark.plans.pipeline import build_statements
from ldtab_clj_spark.schemas import STATEMENT, STATEMENT_COLS
from ldtab_clj_spark.synth import entity_dictionary, synth_docs

PREFIX_TSV = "prefix\tbase\nex\thttp://example.com/\n"


def codecs(*tables) -> set[str]:
    """Compression codec of every column chunk in the tables' part
    files. An empty table's part file has no row groups, so it adds
    no chunk."""
    out = set()
    for table in tables:
        files = sorted(Path(table).glob("*.parquet"))
        assert files, table
        for f in files:
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                out |= {rg.column(c).compression
                        for c in range(rg.num_columns)}
    return out


def row_counts(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*STATEMENT_COLS).collect())


def _statements(spark, n_docs: int, seed: int):
    return build_statements(synth_docs(spark, n_docs, seed=seed),
                            entity_dictionary(spark)).localCheckpoint()


def test_write_statements_is_zstd(spark, tmp_path):
    out = str(tmp_path / "statement")
    write_statements(_statements(spark, 40, 3), out)
    assert codecs(out) == {"ZSTD"}


def test_cli_tables_are_zstd(spark, tmp_path):
    """init (statement, prefix, ldtab), prefix and the table a diff
    swaps in."""
    db = tmp_path / "db"
    assert main(["init", str(db)]) == 0
    assert codecs(db / "statement", db / "prefix", db / "ldtab") \
        == {"ZSTD"}
    (tmp_path / "prefix.tsv").write_text(PREFIX_TSV)
    assert main(["prefix", str(db), str(tmp_path / "prefix.tsv")]) == 0
    assert codecs(db / "prefix") == {"ZSTD"}
    new_tsv = str(tmp_path / "new.tsv")
    write_tsv(_statements(spark, 10, 3).limit(20), new_tsv)
    assert main(["diff", str(db), new_tsv]) == 0
    assert codecs(db / "statement") == {"ZSTD"}
    assert verify_lineage(spark, str(db / "statement"))


def test_streaming_append_is_zstd(spark, tmp_path):
    from ldtab_clj_spark.streaming.pipeline import run_streaming_import
    in_dir = str(tmp_path / "docs_in")
    synth_docs(spark, 20, seed=11).coalesce(1).write.parquet(in_dir)
    table = str(tmp_path / "stream_table")
    run_streaming_import(spark, in_dir, table, str(tmp_path / "ckpt"),
                         entity_dictionary(spark)).awaitTermination(300)
    assert codecs(table) == {"ZSTD"}


def test_zstd_appends_into_a_snappy_table(spark, tmp_path):
    """A table written before the codec change keeps working: zstd
    part files appended next to a snappy one read back as the union,
    and the lineage still verifies."""
    out = str(tmp_path / "statement")
    old, new = _statements(spark, 30, 3), _statements(spark, 30, 4)
    old.write.option("compression", "snappy").parquet(out)
    rebuild_sidecar(out, "old")
    assert codecs(out) == {"SNAPPY"}
    write_statements(new, out, run_id="new", mode="append")
    assert codecs(out) == {"SNAPPY", "ZSTD"}
    got = row_counts(spark.read.schema(STATEMENT).parquet(out))
    assert got == row_counts(old) + row_counts(new)
    assert verify_lineage(spark, out)


def test_read_db_runs_no_schema_inference_job(spark, tmp_path):
    """_read_db passes the statement schema: building its DataFrame
    runs no Spark job (an inferred read runs one to read a footer)."""
    db = tmp_path / "db"
    write_statements(_statements(spark, 10, 3), str(db / "statement"))
    run = executed(spark, lambda: _read_db(spark, str(db)))
    assert run.jobs == []
    assert run.result.filter(F.col("subject").isNotNull()).count() > 0
