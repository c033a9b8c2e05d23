"""Similarity search over an embedding column (array<float>).

* ``cosine_topk`` — brute-force top-k: broadcast the (small) query set,
  JVM-side ``zip_with``/``aggregate`` dot products (no Python), window
  rank per query. The exact baseline.
* ``lsh_cosine_topk`` — sign-random-projection (SimHash-style) bucketed
  variant: candidates only from matching hyperplane-sign buckets; the
  100 TB path (shuffle on short bucket keys instead of all-pairs).

Doubles throughout (cast from float32 first) so the DuckDB oracle's
arithmetic matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .batching import from_ndarray, grouped_batches, ndarray
from .dedup import distinct_pairs
from .parallel import python_partitions

VEC_COL = "embedding"


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame) -> DataFrame:
    v = _as_double(F.col(VEC_COL))
    return df.withColumn("_v", v).withColumn(
        "_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))


def _query_cols() -> list:
    """(query_id, _q, _qnorm) of a ``with_norm`` frame: the query side
    of every top-k."""
    return [F.col("vec_id").alias("query_id"),
            F.col("_v").alias("_q"), F.col("_norm").alias("_qnorm")]


def _top_k(pairs: DataFrame, k: int, vec: str, norm: str,
           cand: str) -> DataFrame:
    """The ``k`` candidates ``cand`` most cosine-similar to each query
    of ``pairs`` (query columns from ``_query_cols``, candidate vector
    ``vec`` with norm ``norm``), ranked 1..k in ``rnk``; ties go to
    the lower ``cand``. The score is the ``_dot`` fold over the two
    norms, whose index-order sum the oracles reproduce exactly."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(cand))
    return (pairs.withColumn("sim", _dot(F.col(vec), F.col("_q"))
                             / (F.col(norm) * F.col("_qnorm")))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def cosine_topk(embeddings: DataFrame, queries: DataFrame,
                k: int = 5) -> DataFrame:
    """For each query vector: top-k nearest corpus vectors by cosine.

    Returns (query_id, neighbor_id, rnk). Ties broken by neighbor id;
    the similarity itself stays internal (floats don't hash stably
    across engines at the boundary, ranks do).
    """
    corpus = with_norm(python_partitions(
        embeddings.select("vec_id", VEC_COL))).select(
        F.col("vec_id").alias("neighbor_id"), "_v", "_norm")
    qs = with_norm(queries).select(*_query_cols())
    # the caller sizes the query set; broadcasting it keeps the
    # nested-loop join from building on the corpus
    pairs = corpus.join(F.broadcast(qs),
                        F.col("neighbor_id") != F.col("query_id"))
    return _top_k(pairs, k, "_v", "_norm", "neighbor_id") \
        .select("query_id", "neighbor_id", "rnk")


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          max_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b).

    Brute-force all-pairs at test scale (the exact baseline); the LSH
    path (``srp_banded_near_dup``) is the 100 TB candidate generator.
    Guarded: refuses corpus-scale input (BruteForceScaleError)."""
    from .guards import guard_brute_force
    guard_brute_force(embeddings, "cosine_near_dup_pairs",
                      "srp_banded_near_dup", max_rows)
    n = with_norm(embeddings).select("vec_id", "_v", "_norm")
    a = n.select(F.col("vec_id").alias("vec_a"),
                 F.col("_v").alias("_va"), F.col("_norm").alias("_na"))
    b = n.select(F.col("vec_id").alias("vec_b"),
                 F.col("_v").alias("_vb"), F.col("_norm").alias("_nb"))
    return (a.join(b, F.col("vec_a") < F.col("vec_b"))
            .withColumn("sim", _dot(F.col("_va"), F.col("_vb"))
                        / (F.col("_na") * F.col("_nb")))
            .filter(F.col("sim") >= threshold)
            .select("vec_a", "vec_b"))


_M64 = (1 << 64) - 1


def _coeff(t: int, k: int, d: int) -> int:
    """splitmix64-style avalanche over the (table, plane, dim) index —
    no linear stride, so NO parameter combination can alias one plane's
    coefficient subsequence into another's (a t*A+k*B+d scheme reuses
    subsequences as soon as k*B+dim crosses a stride)."""
    x = (t * 0x9E3779B97F4A7C15 + k * 0xBF58476D1CE4E5B9
         + d * 0x94D049BB133111EB + 0x2545F4914F6CDD1D) & _M64
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & _M64
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & _M64
    x ^= x >> 31
    return x % 21 - 10


def srp_plane_tables(n_tables: int = 8, k_planes: int = 3,
                     dim: int = 64) -> list[list[list[int]]]:
    """Deterministic integer hyperplanes for SRP-LSH (avalanche-mixed,
    range -10..10). Integer coefficients are exact in IEEE double, so
    bucket signs are bit-identical across engines — verified 0
    mismatches vs DuckDB over the synthetic corpus. ``k_planes`` per
    table controls selectivity (grow with corpus size ~ log N);
    ``n_tables`` OR-ed tables trade shuffle volume for recall."""
    return [[[_coeff(t, k, d) for d in range(dim)]
             for k in range(k_planes)]
            for t in range(n_tables)]


# Each confirm slab gathers both rows of each of its pairs as float64:
# 16·dim bytes per pair, so a slab holds SLAB_BYTES // (16·dim) pairs.
SLAB_BYTES = 4 << 20


def _vectors(batch, name: str):
    """The list column ``name`` of an Arrow batch as one (rows, dim)
    array over its flat child buffer (``batching.ndarray``), with no
    per-row objects. A null vector, or lists of unequal length, raise
    ValueError: a reshape alone would not notice lengths that differ
    but still sum to rows·dim."""
    import pyarrow.compute as pc
    col = batch[name]
    if col.null_count:
        raise ValueError(f"column {name!r} holds {col.null_count} "
                         "null vector(s)")
    span = pc.min_max(pc.list_value_length(col))
    dim = span["min"].as_py()
    if dim != span["max"].as_py():
        raise ValueError(f"column {name!r} holds vectors of unequal "
                         f"length ({dim} to {span['max'].as_py()})")
    return ndarray(col).reshape(len(col), dim)


def _srp_bands_stream(plane_tables):
    """The mapInArrow function of ``_srp_bands_with_vecs_arrow``: per
    Arrow batch, the embeddings as one (n, dim) float32 view, one
    numpy matmul for the bucket bits, and the fold-order norm; ``_raw``
    goes out as a ListArray over ``np.repeat(raw, L, axis=0)``."""
    import numpy as np
    import pyarrow as pa
    planes = np.array([p for t in plane_tables for p in t],
                      dtype=np.float64)                    # (L*k, dim)
    n_tables, k = len(plane_tables), len(plane_tables[0])
    weights = (1 << np.arange(k)).astype(np.int64)

    def bands(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            raw = _vectors(batch, VEC_COL)                 # n × dim
            v = raw.astype(np.float64)
            bits = (v @ planes.T) >= 0                     # n × (L*k)
            buckets = bits.reshape(n, n_tables, k) @ weights
            nrm = np.zeros(n)
            for d in range(v.shape[1]):    # fold-order accumulation
                nrm += v[:, d] * v[:, d]
            nrm = np.sqrt(nrm)
            ids = ndarray(batch["vec_id"])
            yield pa.RecordBatch.from_arrays([
                from_ndarray(np.repeat(ids, n_tables), pa.int64()),
                from_ndarray(np.tile(np.arange(n_tables), n), pa.int32()),
                from_ndarray(buckets.reshape(-1), pa.int64()),
                from_ndarray(np.repeat(raw, n_tables, axis=0),
                             batch[VEC_COL].type),
                from_ndarray(np.repeat(nrm, n_tables), pa.float64()),
            ], names=["vec_id", "tbl", "bucket", "_raw", "_norm"])

    return bands


def _srp_bands_with_vecs_arrow(embeddings: DataFrame,
                               plane_tables) -> DataFrame:
    """(vec_id, tbl, bucket, _raw float32, _norm) in one mapInArrow
    pass over flat buffers: one numpy matmul per Arrow batch assigns
    the bucket bits, and the RAW vector and its norm ride along so the
    per-bucket confirm needs no vector join at all. The norm
    accumulates dimension-by-dimension in index order — the exact IEEE
    sequence of the JVM ``with_norm`` fold (pair set pinned against the
    ``ann_srp_near_dup`` DuckDB oracle). Vector transport is L copies
    per vector on ONE (tbl, bucket) shuffle — linear in the corpus, vs
    the former per-candidate-pair attach which was quadratic (measured
    120 GB of confirm traffic at a 4× bench scale)."""
    src = python_partitions(embeddings.select("vec_id", VEC_COL))
    return src.mapInArrow(
        _srp_bands_stream(plane_tables),
        "vec_id long, tbl int, bucket long, "
        "_raw array<float>, _norm double")


def _confirm_bucket_stream(threshold: float,
                           slab_bytes: int = SLAB_BYTES):
    """Streaming per-(tbl, bucket) exact-cosine confirm for mapInArrow
    over a bucket-partitioned, bucket-sorted relation: grouped_batches
    re-chunks the Arrow stream into batches of complete ``_grp`` runs
    (one numpy slice per bucket — an applyInPandas variant paid ~1 ms
    of Arrow framing per group, which at L×2^k ≈ 2000 mostly-tiny
    buckets doubled the query at sf0.1), Arrow compute finds the runs,
    and every bucket confirms all its pairs (lower vec_id first)
    vectorized. The per-pair math is the SAME einsum/divide sequence as
    the former pair-level confirm (float32 → exact float64 cast, einsum
    'ij,ij->i' over row-gathered matrices, dot/(na*nb)), so sims are
    bit-identical; only the transport changed.

    A bucket's pairs, in row-major upper-triangle order, are cut into
    slabs of ``slab_bytes // (16·dim)`` pairs, so the two float64
    gathers of a slab together stay within ``slab_bytes`` (4 MiB by
    default) whatever the bucket size or dim: a hot bucket cannot blow
    up the worker. The quadratic TIME of a giant bucket is inherent to
    its candidate count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def confirm_run(ids, V, nrm, out_a, out_b):
        B, dim = V.shape
        pairs = max(1, slab_bytes // (16 * max(dim, 1)))
        # starts[i]: index of row i's first pair (i, i+1)
        starts = np.concatenate(([0], np.cumsum(np.arange(B - 1, 0, -1))))
        total = int(starts[-1])
        for p0 in range(0, total, pairs):
            p = np.arange(p0, min(p0 + pairs, total))
            ii = np.searchsorted(starts, p, side="right") - 1
            jj = p - starts[ii] + ii + 1
            sim = (np.einsum("ij,ij->i", V[ii], V[jj])
                   / (nrm[ii] * nrm[jj]))
            keep = sim >= threshold
            ia, jb = ids[ii[keep]], ids[jj[keep]]
            ne = ia != jb   # duplicate input ids never self-pair
            out_a.append(np.minimum(ia[ne], jb[ne]))
            out_b.append(np.maximum(ia[ne], jb[ne]))

    def confirm(batches):
        for batch in grouped_batches(batches, "_grp"):
            g, n = batch["_grp"], batch.num_rows
            change = ndarray(pc.indices_nonzero(pc.not_equal(
                g.slice(1), g.slice(0, n - 1))))
            bounds = np.concatenate(([0], change.astype(np.int64) + 1,
                                     [n]))
            ids_all = ndarray(batch["vec_id"])
            raw_all = _vectors(batch, "_raw")
            nrm_all = ndarray(batch["_norm"])
            out_a, out_b = [], []
            for s0, s1 in zip(bounds[:-1], bounds[1:]):
                if s1 - s0 < 2:
                    continue
                confirm_run(ids_all[s0:s1],
                            raw_all[s0:s1].astype(np.float64),
                            nrm_all[s0:s1], out_a, out_b)
            if out_a:
                yield pa.RecordBatch.from_arrays(
                    [from_ndarray(np.concatenate(out_a), pa.int64()),
                     from_ndarray(np.concatenate(out_b), pa.int64())],
                    names=["vec_a", "vec_b"])

    return confirm


def srp_banded_near_dup(embeddings: DataFrame,
                        plane_tables: list[list[list[float]]],
                        threshold: float = 0.95,
                        mode: str = "arrow") -> DataFrame:
    """Embedding near-dup pairs via multi-table SRP-LSH — the 100 TB
    path: candidates come only from same-(table, bucket) groups
    (shuffle on short keys, never all-pairs), then the exact cosine
    confirms. Recall < 1 by design (1-(1-p^k)^L); the brute-force
    ``cosine_near_dup_pairs`` is the test-scale verifier and the
    ``ann_srp_near_dup`` DuckDB oracle pins the pair set.

    Bucketing is one numpy matmul per Arrow batch. The raw float32
    vector and its fold-order norm ride the ONE (tbl, bucket) shuffle
    (L copies per vector — linear transport; re-attaching both vectors
    per candidate pair was quadratic in bucket occupancy, 7M pairs /
    3.6 GB at sf1.0 and ~120 GB at 4×), and each bucket confirms all
    its pairs inside one vectorized run of the grouped mapInArrow
    stream, so only surviving id pairs materialize as rows. Both Python
    stages are mapInArrow over flat buffers (no per-row vector
    objects), and the confirm cuts each bucket into byte-bounded slabs
    (``SLAB_BYTES``). ``dedup.distinct_pairs`` collapses multi-table
    hits and duplicate input ids and lays the pairs out by ``vec_a``.
    ``mode`` accepts only "arrow" (kept so existing callers that name
    it keep working)."""
    if mode != "arrow":
        raise ValueError(f"unknown srp mode {mode!r} (use 'arrow')")
    bands_v = _srp_bands_with_vecs_arrow(embeddings, plane_tables)
    grouped = bands_v.withColumn("_grp",
                                 F.concat_ws(":", "tbl", "bucket"))
    part = (python_partitions(grouped, "tbl", "bucket")
            .sortWithinPartitions("_grp")
            .select("_grp", "vec_id", "_raw", "_norm"))
    return distinct_pairs(
        part.mapInArrow(_confirm_bucket_stream(threshold),
                        "vec_a long, vec_b long"), "vec_a", "vec_b")


def _minid_centroids(embeddings: DataFrame,
                     n_centroids: int) -> DataFrame:
    """The ``n_centroids`` corpus vectors with the lowest vec_ids
    (orderBy + limit — id-dense or sparse alike): a deterministic
    stand-in for a k-means pass that any cross-engine oracle can
    reproduce exactly."""
    return (with_norm(embeddings.orderBy("vec_id").limit(n_centroids))
            .select(F.col("vec_id").alias("cent_id"),
                    F.col("_v").alias("_c"),
                    F.col("_norm").alias("_cnorm")))


def _assign_to_centroids(corpus: DataFrame,
                         cent: DataFrame) -> DataFrame:
    """(vec_id, _v, _norm) → nearest-centroid assignment as a PURE MAP:
    the centroid table is broadcast-sized by definition, so it is
    collected (like a prefix table) and every Arrow batch is scored
    against it in one vectorized pass — no join, no n_centroids-way
    row expansion, no aggregate, no shuffle, no sort.

    The dot products accumulate dimension-by-dimension in index order
    (``sims += V[:, d] ⊗ C[:, d]``), the left-to-right IEEE sequence of
    the ``_dot`` fold — a plain matmul's blocked summation could flip an argmax between two
    near-tied centroids. Ties take the lowest cent_id (centroids are
    ordered by cent_id and np.argmax takes the FIRST max), and a NaN
    row argmaxes to its first NaN."""
    import numpy as np
    import pyarrow as pa
    cent_rows = sorted(cent.collect(), key=lambda r: r["cent_id"])
    if not cent_rows:
        raise ValueError("empty centroid table")
    C = np.array([r["_c"] for r in cent_rows], dtype=np.float64)
    cnorm = np.array([float(r["_cnorm"]) for r in cent_rows])
    cent_ids = np.array([int(r["cent_id"]) for r in cent_rows],
                        dtype=np.int32)

    def assign(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            V = _vectors(batch, "_v")
            sims = np.zeros((len(V), len(C)))
            for d in range(C.shape[1]):  # fold-order accumulation
                sims += V[:, d, None] * C[None, :, d]
            sims /= (ndarray(batch["_norm"])[:, None] * cnorm[None, :])
            cid = cent_ids[np.argmax(sims, axis=1)]
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, from_ndarray(cid, pa.int32())],
                names=[*batch.schema.names, "cent_id"])

    return corpus.select("vec_id", "_v", "_norm").mapInArrow(
        assign, "vec_id long, _v array<double>, _norm double, "
                "cent_id int")


def ivf_cosine_topk(embeddings: DataFrame, queries: DataFrame,
                    n_centroids: int = 16, n_probe: int = 2,
                    k: int = 5) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest
    centroid (the inverted-file bucket), search only the query's
    ``n_probe`` nearest buckets — the other classic bucketed ANN shape
    next to SRP-LSH (shuffle on centroid ids, never all-pairs).

    The centroids are the deterministic lowest-id stand-in
    (``_minid_centroids``), which the cross-engine oracle reproduces.
    Returns (query_id, neighbor_id, rnk); recall < 1 by design,
    ``cosine_topk`` is the exact verifier."""
    cent = _minid_centroids(embeddings, n_centroids)
    corpus = with_norm(python_partitions(
        embeddings.select("vec_id", VEC_COL))) \
        .select("vec_id", "_v", "_norm")
    assigned = _assign_to_centroids(corpus, cent)
    # cent: n_centroids rows, set by the caller
    probes = _top_k(with_norm(queries).select(*_query_cols())
                    .join(F.broadcast(cent)), n_probe, "_c", "_cnorm",
                    "cent_id") \
        .select("query_id", "_q", "_qnorm", "cent_id")
    # probes: n_probe rows per query, the caller's sizes
    pairs = (assigned.join(F.broadcast(probes), "cent_id")
             .filter(F.col("vec_id") != F.col("query_id")))
    return _top_k(pairs, k, "_v", "_norm", "vec_id") \
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rnk")


def srp_bucket(df: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Sign-random-projection bucket id: one bit per hyperplane."""
    v = _as_double(F.col(VEC_COL))
    bits = []
    for p in planes:
        arr = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(_dot(v, arr) >= 0, F.lit("1"))
                    .otherwise(F.lit("0")))
    return df.withColumn("bucket", F.concat(*bits))


def lsh_cosine_topk(embeddings: DataFrame, queries: DataFrame,
                    planes: list[list[float]], k: int = 5) -> DataFrame:
    """Bucketed ANN: rank only candidates sharing the query's SRP
    bucket. Recall < 1 by design; at scale, multiple plane-sets (OR)
    trade shuffle for recall."""
    corpus = srp_bucket(with_norm(python_partitions(
        embeddings.select("vec_id", VEC_COL))), planes) \
        .select(F.col("vec_id").alias("neighbor_id"), "_v", "_norm",
                "bucket")
    qs = srp_bucket(with_norm(queries), planes).select(*_query_cols(),
                                                       "bucket")
    # the caller sizes the query set
    pairs = (corpus.join(F.broadcast(qs), "bucket")
             .filter(F.col("neighbor_id") != F.col("query_id")))
    return _top_k(pairs, k, "_v", "_norm", "neighbor_id") \
        .select("query_id", "neighbor_id", "rnk")
