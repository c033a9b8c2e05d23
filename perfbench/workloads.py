"""The two workloads. Each one writes its inputs to files, computes an
independent reference, runs one job (timed by the caller), checks a
job's committed output against the reference, and runs one traced job
that calls each layer's public function inside its own span, with the
layer's output materialized at the span's end.

* ``kg_roundtrip`` — the CLI's batch docs import (``build_statements``
  → ``write_statements(mode="append")``) into a fresh table, then
  ``export db out.nt`` (dedup-on-read → ``write_ntriples``) and
  ``import db2 out.nt`` (``import_ntriples`` → ``write_statements``).
  The imported table is checked against
  ``plans.single_node.single_node_statements``; the re-imported table
  against the same set, which is the exported set.
* ``neardup_hot`` — the registry's ``dedup_minhash_lsh`` and
  ``dedup_simhash_pairs`` plus an 8-table × 8-plane SRP near-dup on
  tables where one near-duplicate cluster fills one LSH bucket per band.
  Each pair set is checked against DuckDB oracle SQL.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from pathlib import Path

import pyarrow.parquet as pq

from . import inputs
from .digest import digest, precision_recall

STATEMENT_COLS = ["assertion", "retraction", "graph", "subject",
                  "predicate", "object", "datatype", "annotation"]

# shuffle partitions of the local[4] session, as in the README's sizing
PARTITIONS = 16
KG_DOCS = 4000
ND_DOCS, ND_VECS, ND_HOT_SHARE = 2500, 5000, 0.1
SRP_TABLES, SRP_PLANES, SRP_THRESHOLD = 8, 8, 0.4
PAIR_SETS = ("minhash", "simhash", "srp")


def table_rows(path: Path, cols: list[str]) -> list[tuple]:
    t = pq.read_table(path, columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def parquet_rows(path: Path) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in sorted(path.glob("*.parquet")))


def tree_bytes(path: Path) -> int:
    if not path.exists():
        return 0
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _counts(df, **conds) -> dict[str, int]:
    """Row counts of ``df`` matching each condition, in one job."""
    from pyspark.sql import functions as F
    row = df.agg(*[F.sum(F.when(c, 1).otherwise(0)).alias(k)
                   for k, c in conds.items()]).first()
    return {k: int(row[k] or 0) for k in conds}


@contextmanager
def _count_local_checkpoints():
    """Count DataFrame.localCheckpoint calls made inside the block."""
    from pyspark.sql.classic.dataframe import DataFrame
    orig, n = DataFrame.localCheckpoint, [0]

    def counting(self, *a, **kw):
        n[0] += 1
        return orig(self, *a, **kw)

    DataFrame.localCheckpoint = counting
    try:
        yield n
    finally:
        DataFrame.localCheckpoint = orig


def _statement_tables(path: Path) -> list[Path]:
    """The statement table and its lineage sidecar directory."""
    return [path, Path(f"{path}_lineage")]


def _run_id() -> str:
    return f"import-{int(time.time())}"   # as the CLI's import tags it


class KgRoundtrip:
    name = "kg_roundtrip"
    nominal_job_s = 10.0

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.seed = spark, seed
        self.docs, self.dict = work / "docs", work / "dict"
        self.prefix = work / "prefix"

    def make_inputs(self) -> None:
        inputs.write_kg_docs(self.docs, KG_DOCS, self.seed, PARTITIONS)
        inputs.write_entity_dictionary(self.dict)
        inputs.write_prefixes(self.prefix)

    def make_reference(self) -> None:
        from ldtab_clj_spark.plans.single_node import single_node_statements
        self.ref = digest(tuple(r[c] for c in STATEMENT_COLS) for r in
                          single_node_statements(KG_DOCS, self.seed))

    def job(self, out: Path) -> list[Path]:
        from ldtab_clj_spark.operators.export import write_ntriples
        from ldtab_clj_spark.operators.materialize import (dedup_statements,
                                                           write_statements)
        from ldtab_clj_spark.plans.pipeline import build_statements
        from ldtab_clj_spark.schemas import DOCS
        from ldtab_clj_spark.sources.ntriples import import_ntriples
        spark, sc = self.spark, self.spark.sparkContext
        db, db2, nt = out / "db", out / "db2", str(out / "out.nt")
        # import DB docs --dict D
        sc.setJobGroup("job.import_docs", "job.import_docs")
        docs = spark.read.schema(DOCS).parquet(str(self.docs))
        entity_dict = spark.read.parquet(str(self.dict))
        write_statements(build_statements(docs, entity_dict),
                         str(db / "statement"), run_id=_run_id(),
                         mode="append")
        # export DB out.nt
        sc.setJobGroup("job.export", "job.export")
        prefix_df = spark.read.parquet(str(self.prefix))
        write_ntriples(dedup_statements(
            spark.read.parquet(str(db / "statement"))), prefix_df, nt)
        # import DB2 out.nt
        sc.setJobGroup("job.import_nt", "job.import_nt")
        skipped = sc.accumulator(0)
        write_statements(import_ntriples(spark, nt, prefix_df,
                                         skipped_acc=skipped),
                         str(db2 / "statement"), run_id=_run_id(),
                         mode="append")
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.skipped = skipped.value
        return (_statement_tables(db / "statement")
                + _statement_tables(db2 / "statement"))

    def check(self, tables: list[Path]) -> bool:
        imported = table_rows(tables[0], STATEMENT_COLS)
        again = table_rows(tables[2], STATEMENT_COLS)
        # the export writes the imported table's set
        self.precision, self.recall = precision_recall(again, imported)
        return (self.skipped == 0 and digest(imported) == self.ref
                and digest(again) == self.ref)

    def traced(self, tr, out: Path) -> tuple[list[Path], dict]:
        from pyspark.sql import functions as F

        from ldtab_clj_spark.operators.components import assign_components
        from ldtab_clj_spark.operators.export import write_ntriples
        from ldtab_clj_spark.operators.extract import extract_thin_triples
        from ldtab_clj_spark.operators.link import link_entities
        from ldtab_clj_spark.operators.materialize import dedup_statements
        from ldtab_clj_spark.operators.stanza import thin_to_thick_df
        from ldtab_clj_spark.schemas import DOCS
        from ldtab_clj_spark.sources.ntriples import read_ntriples
        spark = self.spark
        db, db2 = out / "db" / "statement", out / "db2" / "statement"
        nt = out / "out.nt"
        with tr.span(self.name):
            with tr.span("extract"):
                docs = spark.read.schema(DOCS).parquet(str(self.docs))
                thin = extract_thin_triples(docs).localCheckpoint()
            with tr.span("link"):
                entity_dict = spark.read.parquet(str(self.dict))
                linked = link_entities(thin, entity_dict).localCheckpoint()
            with tr.span("stanza"):
                thick = thin_to_thick_df(linked).localCheckpoint()
            mat = _materialize(tr, thick, db)
            with tr.span("materialize"):
                stored = spark.read.parquet(str(db))
                statements = dedup_statements(stored).localCheckpoint()
            with tr.span("export"):
                prefix_df = spark.read.parquet(str(self.prefix))
                write_ntriples(statements, prefix_df, str(nt))
            with tr.span("ntriples"):
                skipped = spark.sparkContext.accumulator(0)
                nt_thin = read_ntriples(spark, str(nt), prefix_df,
                                        skipped).localCheckpoint()
            with tr.span("components"):
                with _count_local_checkpoints() as n_ckpt:
                    grouped = assign_components(nt_thin)
                grouped = grouped.localCheckpoint()
            with tr.span("stanza"):
                nt_thick = thin_to_thick_df(grouped).localCheckpoint()
            mat2 = _materialize(tr, nt_thick, db2)
        self.skipped = skipped.value
        blank = F.col("is_blank_s") | F.col("is_blank_o")
        iri_obj = F.col("datatype") == "_IRI"
        x = _counts(thin, rows=F.lit(True), blank=blank,
                    s_ment=F.col("subject").startswith("surface:"),
                    o_ment=iri_obj & F.col("object").startswith("surface:"))
        lk = _counts(linked, rows=F.lit(True), blank=blank,
                     s_unl=F.col("subject").startswith("<unlinked:"),
                     o_unl=iri_obj & F.col("object").startswith("<unlinked:"))
        gr = _counts(grouped, rows=F.lit(True), blank=blank)
        blanks = (nt_thin.filter("is_blank_s")
                  .select(F.col("subject").alias("a"))
                  .union(nt_thin.filter("is_blank_o")
                         .select(F.col("object").alias("a"))))
        edges = nt_thin.filter("is_blank_s AND is_blank_o").select(
            F.least("subject", "object"), F.greatest("subject", "object"))
        counters = {
            "extract.rows_out": x["rows"],
            "extract.blank_row_share": x["blank"] / max(x["rows"], 1),
            "link.mentions": x["s_ment"] + x["o_ment"],
            "link.unlinked": lk["s_unl"] + lk["o_unl"],
            # stanza and materialize run twice per job: summed
            "stanza.rows_in": lk["rows"] + gr["rows"],
            "stanza.python_rows_in": lk["blank"] + gr["blank"],
            "stanza.rows_out": thick.count() + nt_thick.count(),
            "export.lines_out": sum(
                sum(1 for _ in open(f)) for f in nt.glob("part-*")),
            # the loop checkpoints its labels once per round, after one
            # checkpoint of the edges and one of the initial labels
            "components.rounds": n_ckpt[0] - 2,
            "components.nodes": blanks.distinct().count(),
            "components.edges": edges.distinct().count(),
        }
        for k, v in mat.items():
            counters[k] = v + mat2[k]
        counters["materialize.dedup_rows_in"] += stored.count()
        counters["materialize.dedup_rows_out"] += statements.count()
        return _statement_tables(db) + _statement_tables(db2), counters


def _materialize(tr, thick, table: Path) -> dict:
    """The materialize layer: dedup_statements, then write_statements
    into ``table``; returns its counters."""
    from ldtab_clj_spark.operators.materialize import (dedup_statements,
                                                       write_statements)
    with tr.span("materialize"):
        deduped = dedup_statements(thick).localCheckpoint()
        t0 = time.perf_counter()
        write_statements(deduped, str(table), run_id=_run_id(),
                         mode="append")
        write_s = time.perf_counter() - t0
    return {"materialize.dedup_rows_in": thick.count(),
            "materialize.dedup_rows_out": deduped.count(),
            "materialize.write_s": write_s,
            "materialize.files": len(list(table.glob("*.parquet"))),
            "materialize.bytes": sum(tree_bytes(p) for p in
                                     _statement_tables(table))}


class NeardupHot:
    name = "neardup_hot"
    nominal_job_s = 4.0

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.seed = spark, seed
        self.sf = work / "sf"

    def make_inputs(self) -> None:
        inputs.write_neardup(self.sf, ND_DOCS, ND_VECS, ND_HOT_SHARE,
                             self.seed)

    def _duckdb(self):
        import duckdb
        con = duckdb.connect(config={"threads": 4})
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.sf / (t + '.parquet')}'")
        return con

    def make_reference(self) -> None:
        from ldtab_clj_spark.queries import ORACLE_SQL
        with self._duckdb() as con:
            self.ref = {
                "minhash": digest(con.execute(
                    ORACLE_SQL["dedup_minhash_lsh"]).fetchall()),
                "simhash": digest(con.execute(
                    ORACLE_SQL["dedup_simhash_pairs"]).fetchall()),
                "srp": digest(con.execute(_srp_sql(
                    "SELECT DISTINCT a.vec_id, c.vec_id")).fetchall()),
            }

    def _pairs(self, kind: str):
        from ldtab_clj_spark import queries as q
        from ldtab_clj_spark.operators.similarity import (
            srp_banded_near_dup, srp_plane_tables)
        if kind == "minhash":
            return q.dedup_minhash_lsh(self.spark, str(self.sf))
        if kind == "simhash":
            return q.dedup_simhash_pairs(self.spark, str(self.sf))
        return srp_banded_near_dup(
            q.load(self.spark, str(self.sf), "embeddings"),
            srp_plane_tables(n_tables=SRP_TABLES, k_planes=SRP_PLANES),
            threshold=SRP_THRESHOLD, mode="arrow")

    def job(self, out: Path) -> list[Path]:
        for kind in PAIR_SETS:
            self._pairs(kind).write.parquet(str(out / kind))
        return [out / kind for kind in PAIR_SETS]

    def check(self, tables: list[Path]) -> bool:
        cols = {"srp": ["vec_a", "vec_b"]}
        return all(digest(table_rows(p, cols.get(p.name,
                                                 ["doc_a", "doc_b"])))
                   == self.ref[p.name] for p in tables)

    def traced(self, tr, out: Path) -> tuple[list[Path], dict]:
        with tr.span(self.name):
            with tr.span("dedup"):
                for kind in ("minhash", "simhash"):
                    self._pairs(kind).write.parquet(str(out / kind))
            with tr.span("similarity"):
                self._pairs("srp").write.parquet(str(out / "srp"))
        return [out / kind for kind in PAIR_SETS], self._layer_counts()

    def _layer_counts(self) -> dict:
        """Candidate and bucket counts of the banding, from DuckDB over
        the same bands the oracle SQL builds."""
        from ldtab_clj_spark.queries import ORACLE_SQL
        buckets = ("SELECT coalesce(sum(n * (n - 1) / 2), 0), "
                   "coalesce(max(n), 0) FROM (SELECT count(*) AS n "
                   "FROM bands GROUP BY band, bucket)")
        cand, biggest = 0, 0
        with self._duckdb() as con:
            for key in ("dedup_minhash_lsh", "dedup_simhash_pairs"):
                sql = ORACLE_SQL[key]
                c, b = con.execute(
                    sql[:sql.rindex(" SELECT DISTINCT")] + " "
                    + buckets).fetchone()
                cand, biggest = cand + int(c), max(biggest, int(b))
            srp_cand = int(con.execute(_srp_sql("SELECT count(*)", False))
                           .fetchone()[0])
            confirmed = int(con.execute(_srp_sql("SELECT count(*)"))
                            .fetchone()[0])
        return {"dedup.candidate_pairs": cand,
                "dedup.max_bucket_rows": biggest,
                "similarity.candidates": srp_cand,
                "similarity.confirmed": confirmed,
                "similarity.confirm_yield": confirmed / max(srp_cand, 1)}


def _srp_sql(select: str, confirm: bool = True) -> str:
    """DuckDB SRP near-dup over ``embeddings`` with this workload's
    plane tables; the same shape as the ``ann_srp_near_dup`` oracle."""
    from ldtab_clj_spark.operators.similarity import srp_plane_tables
    tables = srp_plane_tables(n_tables=SRP_TABLES, k_planes=SRP_PLANES)

    def bucket(planes):
        return " || ".join(
            "CASE WHEN list_dot_product(v, [" + ",".join(map(str, p))
            + "]) >= 0 THEN '1' ELSE '0' END" for p in planes)

    bands = " UNION ALL ".join(
        f"SELECT vec_id, v, nrm, {t} AS tbl, {bucket(p)} AS bucket FROM n"
        for t, p in enumerate(tables))
    where = (f" WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= "
             f"{SRP_THRESHOLD}") if confirm else ""
    return ("WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), "
            f"b AS ({bands}) {select} FROM b a JOIN b c "
            "ON a.tbl = c.tbl AND a.bucket = c.bucket "
            f"AND a.vec_id < c.vec_id{where}")


WORKLOADS = {w.name: w for w in (KgRoundtrip, NeardupHot)}
