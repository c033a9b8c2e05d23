"""Memory-bounded group streaming and the pandas-free Arrow columns
(operators/batching.py): unit tests for the carry-over logic and the
column conversions, plus an end-to-end equivalence check that stanza
assembly and thick→thin expansion produce IDENTICAL output when Arrow
batches are tiny (forcing groups to straddle batch boundaries)."""

import re

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from ldtab_clj_spark.operators.batching import (column, from_ndarray,
                                                grouped_batches, ndarray,
                                                pylist, record_batches)

_KV = pa.schema([("k", pa.string()), ("v", pa.int64())])


def _frames(rows, sizes):
    """Split a (k, v) row list into RecordBatches of the given sizes."""
    out, i = [], 0
    for n in sizes:
        out.append(pa.RecordBatch.from_arrays(
            [pa.array([r[0] for r in rows[i:i + n]], pa.string()),
             pa.array([r[1] for r in rows[i:i + n]], pa.int64())],
            schema=_KV))
        i += n
    assert i == len(rows)
    return out


def _batch_rows(batch):
    return list(zip(batch["k"].to_pylist(), batch["v"].to_pylist()))


ROWS = [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("b", 5), ("c", 6)]


@pytest.mark.parametrize("sizes", [
    [6], [1, 5], [2, 4], [3, 3], [4, 2], [5, 1],
    [1, 1, 1, 1, 1, 1], [2, 2, 2], [2, 0, 4],
])
def test_grouped_batches_complete_groups(sizes):
    got = list(grouped_batches(iter(_frames(ROWS, sizes)), "k"))
    # every yielded batch holds only complete groups...
    seen = []
    for batch in got:
        keys = batch["k"].to_pylist()
        for g in dict.fromkeys(keys):
            assert g not in seen, f"group {g} split across yields"
        seen.extend(dict.fromkeys(keys))
    # ...and the concatenation is the original row stream
    assert [r for b in got for r in _batch_rows(b)] == ROWS


def test_grouped_batches_empty():
    assert list(grouped_batches(iter([]), "k")) == []
    assert list(grouped_batches(iter(_frames([], [0])), "k")) == []


def test_single_giant_group():
    rows = [("x", i) for i in range(10)]
    got = list(grouped_batches(iter(_frames(rows, [3, 3, 3, 1])), "k"))
    assert len(got) == 1 and got[0].num_rows == 10


_STRUCT = pa.struct([("a", pa.string()), ("b", pa.int32())])


@pytest.mark.parametrize("values,type", [
    (["a", "ça", None, "", "日本語 ✓", None], pa.string()),
    ([None], pa.string()),
    ([], pa.string()),
    ([], pa.bool_()),
    ([True, False, None, True, True, False, False, True, None, True],
     pa.bool_()),
    ([True] * 13, pa.bool_()),
    ([0, -1, None, 2**31 - 1, -2**31], pa.int32()),
    ([2**40, None, -2**63, 2**63 - 1], pa.int64()),
    ([b"a", None, b"", b"\x00\xff", "ç".encode()], pa.binary()),
    ([1.5, None, -0.0, 2.0**-20, 2.0**100], pa.float32()),
    ([1e-300, None, float("inf"), -2.5, 0.1], pa.float64()),
    ([[1.0, 2.5], None, [], [None, 4.0], [0.25]], pa.list_(pa.float32())),
    ([], pa.list_(pa.float32())),
    ([{"a": "x", "b": 1}, None, {"a": None, "b": None},
      {"a": "", "b": -2}], _STRUCT),
    ([[{"a": "x", "b": 1}, None], None, [],
      [{"a": "y", "b": None}, {"a": "z", "b": 3}]], pa.list_(_STRUCT)),
], ids=["str", "str-null", "str-empty", "bool-empty", "bool-10",
        "bool-13", "int32", "int64", "binary", "float32", "float64",
        "list-float", "list-empty", "struct", "list-struct"])
def test_column_and_pylist_match_pyarrow(values, type):
    """The buffer-built column equals pyarrow's own conversion: values,
    validity, null count, and a valid layout; ``pylist`` reads it, and
    slices of pyarrow's, back as ``to_pylist`` does."""
    got = column(values, type)
    got.validate(full=True)
    want = pa.array(values, type)
    assert got.equals(want) and got.null_count == want.null_count
    assert pylist(got) == got.to_pylist() == values
    assert pylist(want.slice(1)) == values[1:]
    inner = want.slice(1, max(len(values) - 2, 0))
    assert pylist(inner) == inner.to_pylist() == values[1:-1]


@pytest.mark.parametrize("type", [pa.int32(), pa.int64(), pa.float32(),
                                  pa.float64()])
def test_ndarray_round_trip(type):
    """``ndarray`` reads a sliced numeric column, and a sliced list
    column's own flat values (not its parent's), as pyarrow's
    ``to_numpy`` does; ``from_ndarray`` builds the same columns back
    (a list column from the (rows, width) array). Nulls raise."""
    nums = pa.array([7, 8, 9, 10, 11], type).slice(1, 3)
    assert ndarray(nums).dtype == nums.to_numpy().dtype
    assert ndarray(nums).tolist() == nums.to_numpy().tolist()
    assert from_ndarray(ndarray(nums), type).equals(nums)
    vecs = pa.array([[1, 2], [3, 4], [5, 6], [7, 8]], pa.list_(type))
    part = vecs.slice(1, 2)
    flat = ndarray(part)
    assert flat.tolist() == part.flatten().to_numpy().tolist() == [3, 4, 5, 6]
    back = from_ndarray(flat.reshape(2, 2), part.type)
    back.validate(full=True)
    assert back.equals(part)
    with pytest.raises(ValueError, match="null"):
        ndarray(pa.array([1, None], type))


def test_record_batches_chunks_rows():
    """Rows become RecordBatches of the schema, cut at BATCH_ROWS."""
    from ldtab_clj_spark.operators.batching import BATCH_ROWS
    rows = [(f"k{i}", i) for i in range(BATCH_ROWS + 3)]
    got = list(record_batches(iter(rows), _KV))
    assert [b.num_rows for b in got] == [BATCH_ROWS, 3]
    assert all(b.schema.equals(_KV) for b in got)
    assert [r for b in got for r in _batch_rows(b)] == rows
    assert list(record_batches(iter([]), _KV)) == []


@pytest.fixture()
def tiny_arrow_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _stmt_key_rows(df):
    return sorted(tuple(r) for r in df.select(
        "graph", "subject", "predicate", "object", "datatype",
        "annotation").collect())


def test_pipeline_invariant_to_arrow_batch_size(spark, tiny_arrow_batches):
    """Docs straddle Arrow batches at maxRecordsPerBatch=37; output must
    equal the single-node oracle exactly (VERDICT r1 item 3)."""
    from ldtab_clj_spark.plans.pipeline import build_statements
    from ldtab_clj_spark.plans.single_node import single_node_statements
    from ldtab_clj_spark.synth import entity_dictionary, synth_docs
    got = _stmt_key_rows(build_statements(synth_docs(spark, 60, seed=7),
                                          entity_dictionary(spark)))
    want = sorted((r["graph"], r["subject"], r["predicate"], r["object"],
                   r["datatype"], r["annotation"])
                  for r in single_node_statements(60, seed=7))
    assert got == want


def test_expand_invariant_to_arrow_batch_size(spark, tiny_arrow_batches):
    """Round trip (expand → re-import) with tiny Arrow batches."""
    from ldtab_clj_spark.plans.pipeline import build_statements, reimport
    from ldtab_clj_spark.synth import entity_dictionary, synth_docs
    stmts = build_statements(synth_docs(spark, 40, seed=9),
                             entity_dictionary(spark))
    stmts = stmts.persist()
    try:
        assert _stmt_key_rows(reimport(stmts)) == _stmt_key_rows(stmts)
    finally:
        stmts.unpersist()


# whitespace-edge corpus: tabs / newlines / NBSP / NULL / empty /
# single word. No \x0b: Java's \s and the signatures count it as
# whitespace, DuckDB's RE2 \s does not.
EDGE_DOCS = [(1, "\tfoo bar"), (2, "foo\n"), (3, "a\u00a0b"), (4, None),
             (5, "x \t y\r\nz"), (6, "  padded  "), (7, ""), (8, "one")]


def _oracle(sql, docs):
    """Rows of DuckDB ``sql`` over a ``documents`` table holding the
    doc_id and text columns of ``docs`` (a Spark DataFrame or a list of
    (doc_id, text) rows)."""
    import duckdb
    frame = (pd.DataFrame(docs, columns=["doc_id", "text"])
             if isinstance(docs, list)
             else docs.select("doc_id", "text").toPandas())
    con = duckdb.connect()
    con.register("frame", frame)
    con.execute("CREATE TABLE documents AS SELECT "
                "CAST(doc_id AS BIGINT) AS doc_id, text FROM frame")
    return {tuple(r) for r in con.execute(sql).fetchall()}


def _edge_df(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def test_simhash_matches_duckdb_oracle(spark):
    """The numpy md5 bit-count SimHash equals the DuckDB oracle's
    nibble arithmetic (queries._SIMHASH over queries._SHINGLES) on the
    sf0.001 corpus and on the whitespace-edge corpus — same shingle
    set, same majority rule, same tokenization."""
    from ldtab_clj_spark.operators.dedup import simhash_signatures
    from ldtab_clj_spark.queries import _SHINGLES, _SIMHASH
    sql = _SIMHASH.format(shingles=_SHINGLES)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {tuple(r) for r in
           simhash_signatures(docs).select("doc_id", "simhash").collect()}
    assert got == _oracle(sql, docs) and got
    # empty and single-word docs produce no signature
    tiny = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words")], "doc_id long, text string")
    assert {r.doc_id for r in simhash_signatures(tiny).collect()} == {3}
    got_e = {tuple(r) for r in simhash_signatures(_edge_df(spark))
             .select("doc_id", "simhash").collect()}
    want_e = _oracle(sql, EDGE_DOCS)
    assert got_e == want_e, (sorted(got_e - want_e),
                             sorted(want_e - got_e))


def test_near_dup_clusters_known_graph(spark):
    """Pairs (1-2)(2-3)(5-6) → components {1,2,3} rep 1 and {5,6}
    rep 5; doc 4 (no pair) absent — singletons are their own cluster."""
    from ldtab_clj_spark.operators.dedup import near_dup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long")
    got = {(r.doc_id, r.cluster)
           for r in near_dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)}


def test_near_dup_clusters_of_minhash_pairs(spark):
    """The minhash_lsh_pairs output at sf0.001, in its stored layout,
    clusters as a Python union-find over the same collected pairs
    does: each doc's cluster is its component's minimum doc_id."""
    from ldtab_clj_spark.operators.dedup import (minhash_lsh_pairs,
                                                 near_dup_clusters)
    pairs = minhash_lsh_pairs(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs.collect():
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {(x, find(x)) for x in parent}
    got = {(r.doc_id, r.cluster)
           for r in near_dup_clusters(pairs).collect()}
    assert got == want and len({c for _, c in want}) > 1


def test_minhash_matches_duckdb_oracle(spark):
    """The hashlib min-digest MinHash equals the DuckDB oracle's
    min(md5('i:' || shingle)) (queries._SIG grouped over
    queries._SHINGLES) on the sf0.001 corpus and the whitespace-edge
    corpus — min over digest bytes == min over hex strings — and the
    banded pairs equal ORACLE_SQL["dedup_minhash_lsh"]."""
    from ldtab_clj_spark.operators.dedup import (minhash_lsh_pairs,
                                                 minhash_signatures)
    from ldtab_clj_spark.queries import _SHINGLES, _SIG, ORACLE_SQL
    sql = (f"WITH shingles AS ({_SHINGLES}) "
           f"SELECT doc_id, {_SIG} FROM shingles GROUP BY doc_id")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {tuple(r) for r in minhash_signatures(docs).collect()}
    assert got == _oracle(sql, docs) and got
    pairs = {tuple(r) for r in minhash_lsh_pairs(docs)
             .select("doc_a", "doc_b").collect()}
    assert pairs == _oracle(ORACLE_SQL["dedup_minhash_lsh"], docs) and pairs
    got_e = {tuple(r) for r in minhash_signatures(_edge_df(spark))
             .collect()}
    want_e = _oracle(sql, EDGE_DOCS)
    assert got_e == want_e, (sorted(got_e - want_e),
                             sorted(want_e - got_e))


HOT_COPIES = 40


def _pair_layout(spark, pairs, a, b):
    """The rows of ``pairs`` by output partition, and the final plan's
    nodes from the output down to the pair source (the band join, or
    the confirm MapInArrow)."""
    from ldtab_clj_spark.plans.executed import executed
    run = executed(spark, pairs.select(F.spark_partition_id(), a, b)
                   .collect)
    parts = {}
    for p, x, y in run.result:
        parts.setdefault(p, []).append((x, y))
    node, path = run.plans[-1], []
    while not (node.name.endswith("Join") or node.name == "MapInArrow"):
        path.append(node)
        (node,) = node.children
    return parts, path


@pytest.mark.parametrize("kind", ["minhash", "simhash", "srp"])
def test_near_dup_pair_layout(spark, kind):
    """Each near-dup pair set leaves through ``distinct_pairs``: one
    hash exchange on the first id, pinned at the core count, between
    the pair source and the output; each first id in one partition;
    rows sorted by (a, b) within each; no duplicate pair; the oracle's
    pair set. The documents carry ``HOT_COPIES`` identical copies of
    one doc, so one bucket per band is hot."""
    import duckdb

    from ldtab_clj_spark.operators.dedup import (minhash_lsh_pairs,
                                                 simhash_pairs)
    from ldtab_clj_spark.operators.similarity import (srp_banded_near_dup,
                                                      srp_plane_tables)
    from ldtab_clj_spark.queries import ORACLE_SQL
    sf = "/root/testdata/sf0.001"
    if kind == "srp":
        a, b = "vec_a", "vec_b"
        pairs = srp_banded_near_dup(
            spark.read.parquet(f"{sf}/embeddings.parquet"),
            srp_plane_tables(), threshold=0.4)
        with duckdb.connect() as con:
            con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                        f"'{sf}/embeddings.parquet'")
            want = set(con.execute(
                ORACLE_SQL["ann_srp_near_dup"]).fetchall())
    else:
        a, b = "doc_a", "doc_b"
        docs = spark.read.parquet(f"{sf}/documents.parquet") \
            .select("doc_id", "text")
        text = docs.filter(F.col("doc_id") == 7).first().text
        docs = docs.unionByName(spark.createDataFrame(
            [(1000 + i, text) for i in range(HOT_COPIES)],
            "doc_id long, text string"))
        op, key = {"minhash": (minhash_lsh_pairs, "dedup_minhash_lsh"),
                   "simhash": (simhash_pairs, "dedup_simhash_pairs")}[kind]
        pairs = op(docs)
        want = _oracle(ORACLE_SQL[key], docs)
    cores = spark.sparkContext.defaultParallelism
    parts, path = _pair_layout(spark, pairs, a, b)
    names = [n.name for n in path]
    exchanges = [n.desc for n in path if n.name == "Exchange"]
    assert len(exchanges) == 1 and "AQEShuffleRead" not in names, names
    assert re.match(rf"Exchange hashpartitioning\({a}#\d+L?, {cores}\)",
                    exchanges[0]), exchanges[0]
    assert sorted(parts) == list(range(cores))
    owner = {}
    for p, rows in parts.items():
        assert rows == sorted(rows), p
        for x, _ in rows:
            assert owner.setdefault(x, p) == p, x
    got = [r for rows in parts.values() for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == want and len(want) > HOT_COPIES


@pytest.mark.parametrize("rows,sizes", [
    # a run ("b") straddling three batches
    ([("a", 1)] + [("b", i) for i in range(2, 9)] + [("c", 9)],
     [3, 3, 3]),
    # a partition holding one key
    ([("x", i) for i in range(10)], [4, 0, 4, 2]),
    # empty batches around and between groups
    (ROWS, [0, 2, 0, 0, 4, 0]),
    ([], [0, 0]),
])
def test_grouped_batches_record_batches(rows, sizes):
    """Every yielded batch is a non-empty RecordBatch holding only
    complete groups, and together they are the input rows in order."""
    got = list(grouped_batches(iter(_frames(rows, sizes)), "k"))
    assert all(type(b) is pa.RecordBatch and b.num_rows for b in got)
    seen = []
    for batch in got:
        keys = list(dict.fromkeys(k for k, _ in _batch_rows(batch)))
        assert not set(keys) & set(seen), "group split across yields"
        seen += keys
    assert [r for b in got for r in _batch_rows(b)] == rows
