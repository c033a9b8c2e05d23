"""Similarity-search operators: brute-force vs SRP-LSH recall, and the
dedup family's pair semantics."""

import random

import pytest
from pyspark.sql import functions as F

from ldtab_clj_spark.operators.similarity import (cosine_near_dup_pairs,
                                                  cosine_topk,
                                                  lsh_cosine_topk,
                                                  srp_banded_near_dup,
                                                  srp_bucket,
                                                  srp_plane_tables)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint()


def test_lsh_is_subset_of_bruteforce_candidates(spark, emb):
    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=50)
    approx = lsh_cosine_topk(emb, queries, planes, k=50)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert ap  # buckets are non-degenerate
    # every LSH result is a true (query, neighbor) pair with rank<=50
    # recall need not be 1, but bucket-mates must be genuine neighbors
    # in the candidate sense: same bucket as the query
    buckets = {r.vec_id: r.bucket
               for r in srp_bucket(emb, planes).collect()}
    for q, n in ap:
        assert buckets[q] == buckets[n]
    # recall sanity: with 4 planes (16 buckets over 500 vecs), the
    # approx top-k overlaps the exact top-k meaningfully
    recall = len(ex & ap) / len(ex)
    assert recall > 0.02, recall


def test_srp_banded_near_dup_recall(spark, emb):
    """The SRP-LSH near-dup scale path vs the brute-force verifier:
    every SRP pair must be a true near-dup (precision 1.0 — the exact
    cosine confirm guarantees it) and recall with L=8/k=3 tables must
    clear 0.8 on the synthetic corpus."""
    exact = {(r.vec_a, r.vec_b)
             for r in cosine_near_dup_pairs(emb, threshold=0.4).collect()}
    approx = {(r.vec_a, r.vec_b)
              for r in srp_banded_near_dup(emb, srp_plane_tables(),
                                           threshold=0.4).collect()}
    assert approx <= exact          # precision 1.0
    assert exact, "degenerate corpus"
    assert len(approx) / len(exact) >= 0.8, (len(approx), len(exact))


def _oracle(sql):
    """Rows of DuckDB ``sql`` over the sf0.001 embeddings table."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{SF}/embeddings.parquet'")
    return {tuple(r) for r in con.execute(sql).fetchall()}


def test_srp_near_dup_matches_duckdb_oracle(spark, emb):
    """The in-stream numpy bucket confirm emits exactly the pair set of
    ORACLE_SQL["ann_srp_near_dup"] (same planes, same threshold)."""
    from ldtab_clj_spark.queries import ORACLE_SQL
    got = {(r.vec_a, r.vec_b)
           for r in srp_banded_near_dup(emb, srp_plane_tables(),
                                        0.4).collect()}
    assert got == _oracle(ORACLE_SQL["ann_srp_near_dup"]) and got


def test_srp_bad_mode_raises(spark, emb):
    with pytest.raises(ValueError, match="unknown srp mode"):
        srp_banded_near_dup(emb, srp_plane_tables(), 0.4, mode="numpy")


def test_ivf_matches_duckdb_oracle(spark, emb):
    """The numpy centroid assignment equals the ``assigned`` CTE of
    ORACLE_SQL["ann_ivf_topk"] (vec_id → cent_id, argmax cosine, lowest
    cent_id on ties), and the top-k equals the whole oracle: the
    fold-order sums keep near-tied argmax and ranks from flipping."""
    from ldtab_clj_spark.operators.similarity import (
        _assign_to_centroids, _minid_centroids, ivf_cosine_topk,
        with_norm)
    from ldtab_clj_spark.queries import ORACLE_SQL
    oracle = ORACLE_SQL["ann_ivf_topk"]
    cent = _minid_centroids(emb, 16)
    corpus = with_norm(emb).select("vec_id", "_v", "_norm")
    got = {(r.vec_id, r.cent_id)
           for r in _assign_to_centroids(corpus, cent).collect()}
    want = _oracle(oracle[:oracle.index(", q AS (")]
                   + " SELECT vec_id, cent_id FROM assigned")
    assert got == want and got
    assert len({c for _, c in got}) > 1, "degenerate assignment"
    topk = {tuple(r) for r in ivf_cosine_topk(
        emb, emb.filter(F.col("vec_id") < 10), 16, 2, 5).collect()}
    assert topk == _oracle(oracle) and topk


def test_ivf_topk_recall_vs_exact(spark, emb):
    """IVF-bucketed ANN: results must be true neighbors from the
    probed buckets with correct ranks, and recall vs exact top-k must
    be meaningful with n_probe=2 of 16 centroids."""
    from ldtab_clj_spark.operators.similarity import ivf_cosine_topk
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=5).collect()}
    approx = ivf_cosine_topk(emb, queries, n_centroids=16, n_probe=2,
                             k=5).collect()
    # ranks per query are 1..n without gaps
    by_q = {}
    for r in approx:
        by_q.setdefault(r.query_id, []).append(r.rnk)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    ap = {(r.query_id, r.neighbor_id) for r in approx}
    assert ap
    recall = len(exact & ap) / len(exact)
    assert recall >= 0.3, recall  # 2/16 buckets probed; exact is verifier


def test_srp_plane_tables_deterministic():
    a, b = srp_plane_tables(), srp_plane_tables()
    assert a == b
    assert all(-10 <= c <= 10 for t in a for p in t for c in p)
    # tables differ from each other (decorrelated LCG mixing)
    assert a[0] != a[1]


def test_lsh_rank_correct_within_bucket(spark, emb):
    rng = random.Random(1)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(3)]
    queries = emb.filter(F.col("vec_id") == 0)
    out = lsh_cosine_topk(emb, queries, planes, k=10).collect()
    ranks = sorted(r.rnk for r in out)
    assert ranks == list(range(1, len(ranks) + 1))


def test_brute_force_guards_trip(spark, emb):
    """Each quadratic verifier refuses corpus-scale input with a
    pointer to its bucketed twin; the default threshold passes test
    corpora untouched."""
    from ldtab_clj_spark.operators.dedup import word_jaccard_pairs
    from ldtab_clj_spark.operators.guards import BruteForceScaleError
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(BruteForceScaleError, match="srp_banded_near_dup"):
        cosine_near_dup_pairs(emb, max_rows=3).collect()
    with pytest.raises(BruteForceScaleError, match="minhash_lsh_pairs"):
        word_jaccard_pairs(docs, max_rows=3).collect()
    # at test scale both run fine under the default limit
    assert cosine_near_dup_pairs(emb, threshold=0.999).count() >= 0
    assert word_jaccard_pairs(docs.limit(20)).count() >= 0


def test_srp_bucket_confirm_chunked_matches_bruteforce(spark):
    """The bucket-stream confirm's slabbed pair generation (several
    slabs per bucket only for buckets with more than
    SLAB_BYTES // (16·dim) pairs — i.e. at bench scale, where no oracle
    runs) must emit exactly the brute-force pair set, and tiny slabs
    must agree with the default slabs."""
    import numpy as np

    from ldtab_clj_spark.operators.similarity import (
        _confirm_bucket_stream, srp_banded_near_dup, srp_plane_tables)

    rng = np.random.default_rng(11)
    n, dim = 600, 8
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>")
    tables = srp_plane_tables(n_tables=2, k_planes=1, dim=dim)
    thr = 0.3

    got = {(r.vec_a, r.vec_b) for r in srp_banded_near_dup(
        emb, tables, threshold=thr, mode="arrow").collect()}

    # brute force over the same bucketing (k=1 → 2 buckets per table)
    V = vecs.astype(np.float64)
    nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
    want = set()
    for planes in tables:
        P = np.array(planes, dtype=np.float64)
        buckets = ((V @ P.T) >= 0).astype(int)[:, 0]
        for b in (0, 1):
            idx = np.flatnonzero(buckets == b)
            for x in range(len(idx)):
                for y in range(x + 1, len(idx)):
                    i, j = int(idx[x]), int(idx[y])
                    sim = float(V[i] @ V[j] / (nrm[i] * nrm[j]))
                    if sim >= thr:
                        want.add((min(i, j), max(i, j)))
    assert got == want and got

    # tiny slabs (7 pairs each at dim 8) == default slabs
    from pyspark.sql import functions as F

    from ldtab_clj_spark.operators.similarity import \
        _srp_bands_with_vecs_arrow
    bands_v = _srp_bands_with_vecs_arrow(emb, tables)
    part = (bands_v
            .withColumn("_grp", F.concat_ws(":", "tbl", "bucket"))
            .repartition(4, "tbl", "bucket")
            .sortWithinPartitions("_grp")
            .select("_grp", "vec_id", "_raw", "_norm"))
    small = {(r.vec_a, r.vec_b) for r in part.mapInArrow(
        _confirm_bucket_stream(thr, slab_bytes=1000),
        "vec_a long, vec_b long").distinct().collect()}
    assert small == got


def _bucket_batches(groups, dim, sizes, seed):
    """Arrow batches of the confirm's input (_grp, vec_id, _raw, _norm)
    for ``groups`` = [(grp, rows)] in order, cut at ``sizes``; returns
    (batches, float32 vectors, group label per row)."""
    import numpy as np
    import pyarrow as pa
    rng = np.random.default_rng(seed)
    labels = [g for g, rows in groups for _ in range(rows)]
    n = len(labels)
    V = rng.normal(size=(n, dim)).astype(np.float32)
    v = V.astype(np.float64)
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
    table = pa.table({
        "_grp": pa.array(labels, pa.string()),
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "_raw": pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1) * dim, pa.int32()),
            pa.array(V.reshape(-1))),
        "_norm": pa.array(nrm)}).combine_chunks()
    assert sum(sizes) == n
    starts = np.cumsum([0] + sizes)
    return ([table.slice(s, k).to_batches()[0]
             for s, k in zip(starts, sizes)], V, labels)


def test_srp_confirm_hot_bucket_is_byte_bounded():
    """Bad shape: one hot LSH bucket (1,000 vectors at dim 128, i.e.
    499,500 candidate pairs) straddling Arrow batch boundaries, between
    two small buckets. The confirm emits exactly the brute-force pair
    set, and its traced peak stays within a small multiple of
    SLAB_BYTES: each slab's two float64 gathers are bounded in bytes,
    not in pairs (262,144-pair slabs took hundreds of MB here)."""
    import tracemalloc

    import numpy as np

    from ldtab_clj_spark.operators.similarity import (
        SLAB_BYTES, _confirm_bucket_stream)

    dim, thr = 128, 0.3
    batches, V, labels = _bucket_batches(
        [("0:0", 3), ("0:1", 1000), ("0:2", 2)], dim, [400, 400, 205],
        seed=14)
    v = V.astype(np.float64)
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
    sim = (v @ v.T) / np.outer(nrm, nrm)
    same = np.array(labels)[:, None] == np.array(labels)[None, :]
    iu = np.triu_indices(len(V), 1)
    # no pair within rounding distance of the threshold, so the
    # matmul brute force and the confirm's einsum agree on every pair
    assert np.abs(sim[iu] - thr).min() > 1e-9
    hit = (sim >= thr) & same
    want = {(int(i), int(j)) for i, j in zip(*iu) if hit[i, j]}

    tracemalloc.start()
    try:
        out = list(_confirm_bucket_stream(thr)(iter(batches)))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    got = {(a, b) for batch in out
           for a, b in zip(batch["vec_a"].to_pylist(),
                           batch["vec_b"].to_pylist())}
    assert got == want and got
    assert peak < 2 * SLAB_BYTES, peak


@pytest.mark.parametrize("vectors", [
    [[1.0, 2.0], None, [5.0, 6.0]],          # a null embedding
    [[1.0, 2.0, 3.0], [4.0], [5.0, 6.0]],    # 6 values = 3 rows × 2
])
def test_srp_bands_reject_malformed_vectors(vectors):
    """A null embedding, or lists of unequal length, raise ValueError
    naming the column, also when the lengths sum to rows × dim; a
    sliced batch reads its own rows, not its parent's."""
    import pyarrow as pa

    from ldtab_clj_spark.operators.similarity import _srp_bands_stream

    bands = _srp_bands_stream(srp_plane_tables(n_tables=2, k_planes=1,
                                               dim=2))
    batch = pa.RecordBatch.from_pydict({
        "vec_id": pa.array([0, 1, 2], pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32()))})
    with pytest.raises(ValueError, match="'embedding'"):
        list(bands(iter([batch])))
    # the row after the bad one is well-formed on its own
    (out,) = bands(iter([batch.slice(2)]))
    assert out["vec_id"].to_pylist() == [2, 2]
    assert out["_raw"].to_pylist() == [[5.0, 6.0]] * 2
