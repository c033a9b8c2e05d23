"""CLI — the `ldtab` command surface (reference: src/ldtab/cli.clj).

A "database" is a directory of parquet tables (the SQLite-file analog):

    DB/statement/   thick-triple table (init.clj:4-14)
    DB/prefix/      prefix table (init.clj:22-24)
    DB/ldtab/       key-value metadata (init.clj:18-20,34-35)

Subcommands (cli.clj:336-344 dispatch; -t/--table per cli.clj:24-26):

    python -m ldtab_clj_spark init DB [-t TABLE]
    python -m ldtab_clj_spark prefix DB (prefix.tsv | --list)
    python -m ldtab_clj_spark import DB INPUT [-t TABLE] [--graph G]
                                     [--streaming] [--dict D]
    python -m ldtab_clj_spark export DB OUT.(tsv|nt|ttl) [-t TABLE]
                                     [--sort] [--typed-owl]
    python -m ldtab_clj_spark diff DB NEW.tsv [-t TABLE]

INPUT is a docs parquet dir (doc_id, spans[]) or RDF text — .nt,
.ttl (Turtle subset), .owl/.rdf (RDF/XML subset). Export format is
picked by extension (cli.clj:50-52).
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from . import __version__
from .schemas import DOCS, PREFIX, STATEMENT


def _spark() -> SparkSession:
    from .session import get_spark
    return get_spark("ldtab-cli")


def _statement_path(db: str, table: str = "statement") -> str:
    """cli.clj:24-26 --table: multiple statement tables per DB share
    one prefix table, exactly like the reference's SQLite layout."""
    return str(Path(db) / table)


def _read_prefix(spark, db: str):
    """The DB's prefix table (init.clj:22-24)."""
    return spark.read.schema(PREFIX).parquet(str(Path(db) / "prefix"))


def cmd_init(args) -> int:
    spark = _spark()
    db = Path(args.db)
    if (db / "ldtab").exists():
        print(f"error: {args.db} already initialized", file=sys.stderr)
        return 1
    from .operators.materialize import rebuild_sidecar
    statement = _statement_path(args.db, args.table)
    spark.createDataFrame([], STATEMENT).write.parquet(statement)
    # lineage for the empty part file, or the first import sees an orphan
    rebuild_sidecar(statement, "init")
    spark.createDataFrame([], PREFIX).write.parquet(str(db / "prefix"))
    # metadata rows (init.clj:34-35)
    spark.createDataFrame(
        [("ldtab version", __version__), ("schema version", "1")],
        "key string, value string").write.parquet(str(db / "ldtab"))
    print(f"initialized {args.db}")
    return 0


def cmd_prefix(args) -> int:
    spark = _spark()
    if args.list:
        # prefix --list (cli.clj:30,158): print the prefix table
        rows = _read_prefix(spark, args.db).orderBy("prefix").collect()
        for r in rows:
            print(f"{r['prefix']}\t{r['base']}")
        return 0
    if not args.tsv:
        print("error: prefix requires a TSV file (or --list)",
              file=sys.stderr)
        return 1
    from .operators.export import read_prefix_tsv
    read_prefix_tsv(spark, args.tsv).write.mode("overwrite") \
        .parquet(str(Path(args.db) / "prefix"))
    print(f"loaded prefixes into {args.db}")
    return 0


def _stream_tmp_paths(db: str) -> list[str]:
    """Per-run tmp table + checkpoint under DB/tmp — uuid-tagged so
    concurrent streaming imports into one DB can never share a
    checkpoint or clobber each other's tmp table."""
    import uuid

    run_tag = f"stream_{uuid.uuid4().hex[:12]}"
    return [str(Path(db) / "tmp" / run_tag),
            str(Path(db) / "tmp" / (run_tag + "_ckpt"))]


def cmd_import(args) -> int:
    spark = _spark()
    prefix_df = _read_prefix(spark, args.db)
    tmp_paths: list[str] = []  # per-run streaming tmp table + ckpt
    try:
        return _do_import(spark, args, prefix_df, tmp_paths)
    finally:
        # remove ONLY this run's tmp table/checkpoint (never all of
        # DB/tmp — concurrent streaming imports share that directory);
        # runs on failure too, so aborted streams never leak tmp dirs
        if tmp_paths:
            import shutil
            for p in tmp_paths:
                shutil.rmtree(p, ignore_errors=True)


def _do_import(spark, args, prefix_df, tmp_paths: list) -> int:
    # extension sniff (cli.clj:50-52; Jena-format dispatch
    # import.clj:148-154): .nt → N-Triples, .ttl → Turtle,
    # .owl/.rdf/.rdfxml → RDF/XML, else docs parquet
    ext = Path(args.input.rstrip("/")).suffix.lower()
    nt_skipped = None  # malformed-line accumulator (batch .nt only)
    is_docs = ext not in (".nt", ".ttl", ".owl", ".rdf", ".rdfxml") \
        and not args.nt
    if args.include_media and (args.streaming or not is_docs):
        # fail loudly: the media stage only exists on the docs-parquet
        # batch branch — silently returning a table with no media
        # statements is worse than an error (r4 ADVICE)
        print("error: --include-media requires a docs-parquet BATCH "
              "import (not --streaming, not an RDF input)",
              file=sys.stderr)
        return 2
    if args.streaming and ext in (".ttl", ".owl", ".rdf", ".rdfxml"):
        print("warning: --streaming applies to .nt and docs-parquet "
              "inputs only (Turtle/RDF-XML need whole files); "
              "running a batch import", file=sys.stderr)
    if ext == ".nt" or args.nt:
        if args.streaming:
            # the reference's actual --streaming surface: incremental
            # RDF import, one file per micro-batch (import.clj:142-184)
            from .streaming.pipeline import (read_stream_result,
                                             run_streaming_import_nt)
            tmp_paths += _stream_tmp_paths(args.db)
            q = run_streaming_import_nt(
                spark, args.input, tmp_paths[0], tmp_paths[1], prefix_df)
            q.awaitTermination()
            statements = read_stream_result(spark, tmp_paths[0])
        else:
            from .sources.ntriples import import_ntriples
            nt_skipped = spark.sparkContext.accumulator(0)
            statements = import_ntriples(spark, args.input, prefix_df,
                                         skipped_acc=nt_skipped)
    elif ext == ".ttl":
        from .sources.turtle import import_turtle
        statements = import_turtle(spark, args.input, prefix_df)
    elif ext in (".owl", ".rdf", ".rdfxml"):
        from .sources.rdfxml import import_rdfxml
        statements = import_rdfxml(spark, args.input, prefix_df)
    else:
        docs = spark.read.schema(DOCS).parquet(args.input)
        if args.dict:
            entity_dict = spark.read.parquet(args.dict)
        else:
            from .synth import entity_dictionary
            entity_dict = entity_dictionary(spark)
        if args.streaming:
            from .streaming.pipeline import (read_stream_result,
                                             run_streaming_import)
            # fresh tmp table + checkpoint per run: re-using them would
            # re-append everything already imported by earlier runs
            tmp_paths += _stream_tmp_paths(args.db)
            q = run_streaming_import(
                spark, args.input, tmp_paths[0], tmp_paths[1],
                entity_dict)
            q.awaitTermination()
            statements = read_stream_result(spark, tmp_paths[0])
        else:
            from .plans.pipeline import build_statements
            statements = build_statements(
                docs, entity_dict, include_media=args.include_media)
    if args.graph != "graph":
        # non-constant named graph (--graph): one value per import
        statements = statements.withColumn("graph", F.lit(args.graph))
    # append into the existing table (the reference inserts into the
    # statement table, never truncates it); dedup-on-read resolves
    # duplicates across imports
    from .operators.materialize import write_statements
    info = write_statements(statements,
                            _statement_path(args.db, args.table),
                            run_id=f"import-{int(time.time())}",
                            mode="append")
    # batch_rows is observed during the write itself (no extra count)
    print(f"imported {info['batch_rows']} statements "
          f"({info['partitions']} partitions, "
          f"table total {info['rows']})")
    if nt_skipped is not None and nt_skipped.value:
        # exact now: the write above consumed the full scan, so every
        # task's accumulator update has landed on the driver
        print(f"warning: {nt_skipped.value} malformed N-Triples "
              "line(s) skipped (bad grammar or invalid escape)",
              file=sys.stderr)
    if info.get("unadopted_files"):
        # orphans of a crashed append still inside the adoption grace
        # window: the printed total under-reports the physical table
        # until a later append adopts them
        print(f"warning: {info['unadopted_files']} orphan file(s) "
              "awaiting lineage adoption; table total above excludes "
              "them (re-run an append after the grace period or call "
              "rebuild_sidecar)", file=sys.stderr)
    return 0


def _read_db(spark, db: str, table: str = "statement"):
    """Dedup-on-read: the statement table is append-only, so duplicate
    rows from repeated/replayed imports are resolved here (the contract
    every reader must apply)."""
    from .operators.materialize import dedup_statements
    return dedup_statements(spark.read.schema(STATEMENT)
                            .parquet(_statement_path(db, table)))


def cmd_export(args) -> int:
    spark = _spark()
    statements = _read_db(spark, args.db, args.table)
    from .operators.export import write_ntriples, write_tsv, write_turtle
    ext = Path(args.out).suffix
    if ext not in (".tsv", ".nt", ".ttl"):
        print("error: unknown export extension (use .tsv, .nt or .ttl)",
              file=sys.stderr)
        return 1
    # each writer counts the rows its write consumes: a .count()
    # afterwards would re-scan and re-dedup the whole table
    if ext == ".tsv":
        n = write_tsv(statements, args.out, sort=args.sort)
    else:
        # cli.clj:213 accepts ttl/tsv; Turtle gets the @prefix header +
        # CURIE compaction (export.clj:59-70)
        write = write_ntriples if ext == ".nt" else write_turtle
        n = write(statements, _read_prefix(spark, args.db), args.out,
                  typed_owl=args.typed_owl)
    print(f"exported {n} statements to {args.out}")
    return 0


def cmd_diff(args) -> int:
    spark = _spark()
    import shutil

    from .operators.diff import apply_diff, current_state
    from .operators.export import read_tsv
    statements = _read_db(spark, args.db, args.table)
    new = read_tsv(spark, args.new_tsv)
    tid = int(time.strftime("%Y%m%d%H%M%S"))  # diff.clj:75-80
    updated = apply_diff(statements, current_state(statements),
                         new.select("graph", "subject", "predicate",
                                    "object", "datatype", "annotation"),
                         tid)
    # write-temp-swap: never overwrite the table we are still reading
    # (localCheckpoint would pin the whole table in executor memory)
    dst = Path(_statement_path(args.db, args.table))
    tmp, bak = Path(f"{dst}_tx{tid}"), Path(f"{dst}_old")
    # the +added -retracted counts ride the write: no second scan
    obs = Observation()
    updated.observe(obs, *[F.count_if(F.col(c) == tid).alias(c)
                           for c in ("assertion", "retraction")]) \
        .write.mode("overwrite").parquet(str(tmp))
    shutil.rmtree(bak, ignore_errors=True)
    dst.rename(bak)
    try:
        tmp.rename(dst)
    except BaseException:
        # restore the pre-diff table: the window between the two
        # renames must never leave the DB with no statement table at
        # its canonical path
        bak.rename(dst)
        raise
    # the swap invalidated the old sidecar (it described the replaced
    # files); rebuild it from the files actually on disk so
    # verify_lineage stays true and later appends don't inherit ghosts
    from .operators.materialize import rebuild_sidecar
    rebuild_sidecar(str(dst), run_id=f"diff-{tid}")
    shutil.rmtree(bak)
    print(f"transaction {tid}: +{obs.get['assertion']} "
          f"-{obs.get['retraction']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ldtab_clj_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def with_table(sp):
        # cli.clj:24-26 -t/--table: named statement table
        sp.add_argument("-t", "--table", default="statement")
        return sp

    sp = with_table(sub.add_parser("init"));  sp.add_argument("db")
    sp.set_defaults(fn=cmd_init)
    sp = sub.add_parser("prefix");  sp.add_argument("db")
    sp.add_argument("tsv", nargs="?")
    sp.add_argument("-l", "--list", action="store_true",
                    help="print the prefix table (cli.clj:30,158)")
    sp.set_defaults(fn=cmd_prefix)
    sp = with_table(sub.add_parser("import")); sp.add_argument("db")
    sp.add_argument("input")
    sp.add_argument("--streaming", action="store_true")
    sp.add_argument("--nt", action="store_true")
    sp.add_argument("--dict")
    sp.add_argument("--graph", default="graph",
                    help="named graph for imported statements")
    sp.add_argument("--include-media", action="store_true",
                    help="add multimodal feature statements (docs-"
                         "parquet batch imports only)")
    sp.set_defaults(fn=cmd_import)
    sp = with_table(sub.add_parser("export")); sp.add_argument("db")
    sp.add_argument("out")
    sp.add_argument("--sort", action="store_true")
    sp.add_argument("--typed-owl", action="store_true",
                    help="OWL-constructor export (thick2thin.clj arms)")
    sp.set_defaults(fn=cmd_export)
    sp = with_table(sub.add_parser("diff"));  sp.add_argument("db")
    sp.add_argument("new_tsv");     sp.set_defaults(fn=cmd_diff)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
