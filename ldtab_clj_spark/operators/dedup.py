"""Deduplication operators over a documents table — the training-data
pipeline ops that complement the KG engine at 100 TB scale.

All hashing is md5-based so every operator has an exact cross-engine
SQL oracle (DuckDB) — no engine-specific hash functions in results.

Scale notes:
* exact dedup: one hash-aggregate, map-side combinable — the cheapest
  possible shuffle; at 100 TB, group on ``md5(text)`` not ``text`` so
  shuffle keys are 32 bytes.
* MinHash+LSH: signatures are per-row (narrow), candidate generation
  shuffles on band keys only — the O(N²) all-pairs join never happens.
  This is the scale path; ``word_jaccard_pairs`` (exact) is the
  verifier/baseline and is quadratic in documents per shared word.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .batching import map_rows, pylist
from .parallel import python_partitions
from .text import TEXT_COL


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: (h, keep_id, dupes)."""
    return (docs.groupBy(F.md5(F.col(TEXT_COL)).alias("h"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("dupes")))


def doc_words(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, word) — the shingle relation used by the
    similarity family."""
    return (docs.select("doc_id",
                        F.explode(F.split(F.trim(F.col(TEXT_COL)),
                                          r"\s+")).alias("word"))
            .filter(F.col("word") != "")
            .distinct())


def word_jaccard_pairs(docs: DataFrame, threshold: float = 0.8,
                       max_rows: int | None = None) -> DataFrame:
    """Exact word-set Jaccard near-dup pairs (doc_a < doc_b, jaccard).

    Candidate pairs via a self-join on shared words (SURVEY.md-style
    semi-join candidate generation); exact at test scale — quadratic
    per shared word — superseded by ``minhash_lsh_pairs`` at 100 TB.
    Guarded: refuses corpus-scale input (BruteForceScaleError).
    """
    from .guards import guard_brute_force
    guard_brute_force(docs, "word_jaccard_pairs", "minhash_lsh_pairs",
                      max_rows)
    # no cache(): both consumers (sizes, the self-join) reuse the same
    # shuffle output, and a pinned copy would leak storage memory in
    # long-lived sessions
    words = doc_words(docs)
    sizes = words.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = words.alias("a")
    b = words.alias("b")
    inter = (a.join(b, "word")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("inter")))
    na = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"))
    return (inter.join(na, "doc_a").join(nb, "doc_b")
            .withColumn("jaccard",
                        F.col("inter")
                        / (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


SEG_WORDS = 10
MIN_DOCS = 3


def repeated_segment_stats(docs: DataFrame) -> DataFrame:
    """C4-style boilerplate detection: fixed ``SEG_WORDS``-word
    segments that recur across ≥ ``MIN_DOCS`` DISTINCT documents are
    boilerplate; returns (doc_id, n_segments, n_boilerplate) so a
    cleaner can drop or down-weight them.

    Scale shape: one explode to (doc_id, segment-md5), one
    count-distinct aggregation on the 32-byte hash, one hash join
    back — shuffle keys are hashes, never text; at 100 TB the
    boilerplate relation is small (only segments passing the
    threshold) and broadcasts."""
    docs = python_partitions(docs.select("doc_id", TEXT_COL))
    words = F.split(F.trim(F.col(TEXT_COL)), r"\s+")
    nseg = F.ceil(F.size(words) / SEG_WORDS).cast("int")
    seg = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(
            F.slice(words, i * SEG_WORDS + 1, SEG_WORDS), " "))
    segs = (docs.select("doc_id", F.explode(seg).alias("segment"))
            .withColumn("h", F.md5("segment")).drop("segment"))
    boiler = (segs.groupBy("h")
              .agg(F.count_distinct("doc_id").alias("nd"))
              .filter(F.col("nd") >= MIN_DOCS)
              .select("h", F.lit(1).alias("is_b")))
    return (segs.join(boiler, "h", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_segments"),
                 F.count("is_b").alias("n_boilerplate")))


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → duplicate clusters: connected components over
    the (doc_a, doc_b) edge set via the min-label propagation loop of
    the blank-node closure (operators/components.propagate_min_labels).
    Returns (doc_id, cluster) where cluster = the component's minimum
    doc_id — i.e. the representative a dedup pass keeps; every other
    row in the cluster is a drop candidate. Only docs that appear in a
    pair are returned (singletons are trivially their own cluster).

    Scale shape: the candidate-pair relation is tiny next to the
    corpus (it's already banded), so each round's self-join shuffles
    narrow (id, label) rows; rounds = O(log component diameter). No
    per-partition contraction first: the pairs arrive hash-partitioned
    on their first id (``distinct_pairs``), so a cluster's pairs are
    spread over every partition its members' ids hash to, and on
    chain-shaped clusters contraction measured slower than the loop
    alone."""
    from .components import propagate_min_labels
    edges = pairs.select(F.col("doc_a").alias("a"),
                         F.col("doc_b").alias("b"))
    return (propagate_min_labels(edges)
            .select(F.col("a").alias("doc_id"),
                    F.col("component").alias("cluster")))


N_MINHASH = 8
BAND_SIZE = 2

# Shingle tokenization shared by the MinHash and SimHash signatures,
# matching the oracle's string_split_regex(trim(text), '\\s+'): strip
# U+0020 only, split on ASCII whitespace runs, and KEEP empty tokens
# (a leading tab yields a "" word, so the shingle " foo" exists).
# Unicode-aware splitting or an `if w` filter would emit different
# signatures for docs with tabs/newlines/NBSP (pinned by the
# whitespace-edge corpus in tests/test_batching.py). \x0b counts as
# whitespace here but not in DuckDB's RE2 \s; no corpus contains it.
_WS = re.compile("[ \t\n\x0b\f\r]+")


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Per-doc MinHash signature over word-bigram shingles:
    sig_i = min(md5(i || ':' || shingle)) as lowercase hex.

    A string-min MinHash — identical semantics to integer MinHash (any
    total order on a good hash works) and exactly reproducible in ANSI
    SQL, so the DuckDB oracle (queries._SIG over queries._SHINGLES)
    pins it. Computed in one hashlib pass per doc inside ``map_rows``:
    the min over DIGEST BYTES equals the min over hex strings (both are
    the md5 value's lexicographic byte order). Tokenization as in
    ``_WS``; docs with no bigram emit no row.
    """
    import hashlib

    prefixes = [f"{i}:".encode() for i in range(N_MINHASH)]

    def sig(batches):
        for batch in batches:
            for doc_id, text in zip(pylist(batch["doc_id"]),
                                    pylist(batch[TEXT_COL])):
                if text is None:
                    continue
                words = _WS.split(text.strip(" "))
                if len(words) < 2:
                    continue
                shingles = {f"{a} {b}".encode("utf-8")
                            for a, b in zip(words, words[1:])}
                mins = [None] * N_MINHASH
                for s in shingles:
                    for i, p in enumerate(prefixes):
                        d = hashlib.md5(p + s).digest()
                        if mins[i] is None or d < mins[i]:
                            mins[i] = d
                yield doc_id, *(m.hex() for m in mins)

    doc_type = dict(docs.dtypes)["doc_id"]
    schema = f"doc_id {doc_type}, " + ", ".join(
        f"sig{i} string" for i in range(N_MINHASH))
    return map_rows(python_partitions(docs.select("doc_id", TEXT_COL)),
                    sig, schema)


_HEX = "0123456789abcdef"
SIMHASH_NIBBLES = 16  # 64-bit signature as 16 hex nibbles


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over word-bigram shingles as a 16-hex-char string.

    Bit j of nibble p is the majority vote, over the doc's distinct
    shingles, of that bit of md5(shingle)'s p-th hex nibble — pure
    integer arithmetic, so the DuckDB oracle (queries._SIMHASH) pins
    it exactly and no engine hash function leaks into results.
    Computed in one md5 + numpy bit-count pass per doc inside
    ``map_rows``; tokenization as in ``_WS``.
    """
    import hashlib

    import numpy as np

    def sig(batches):
        for batch in batches:
            for doc_id, text in zip(pylist(batch["doc_id"]),
                                    pylist(batch[TEXT_COL])):
                if text is None:
                    continue   # null text → no shingles
                words = _WS.split(text.strip(" "))
                shingles = {f"{a} {b}"
                            for a, b in zip(words, words[1:])}
                if not shingles:
                    continue
                # set iteration order is irrelevant: bit SUMS commute
                d = np.frombuffer(
                    b"".join(hashlib.md5(s.encode("utf-8")).digest()
                             for s in shingles),
                    dtype=np.uint8).reshape(-1, 16)[:, :8]
                nib = np.empty((len(d), 16), np.uint8)
                nib[:, 0::2] = d >> 4          # hex string nibble order
                nib[:, 1::2] = d & 0xF
                bits = (nib[:, :, None] >> np.arange(4)) & 1
                maj = (2 * bits.sum(axis=0) >= len(d))   # 16 × 4 bools
                vals = (maj << np.arange(4)).sum(axis=1)
                yield doc_id, "".join(_HEX[v] for v in vals)

    doc_type = dict(docs.dtypes)["doc_id"]
    return map_rows(python_partitions(docs.select("doc_id", TEXT_COL)),
                    sig, f"doc_id {doc_type}, simhash string")


def _band_pairs(bands_df: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) → distinct candidate pairs (doc_a < doc_b)
    via a bucket-key self-join. SHUFFLE_HASH-hinted: the planner's
    broadcast choice computed the ENTIRE signature subplan (the
    Python signature pass) a second time for the build side and then
    collected it through a serial BroadcastExchange build — measured as the duplicated stanza in the r06 before-plans
    and a 8.6→5.0 s drop for simhash when hinted. With both sides
    shuffled on (band, bucket), the sides run as parallel shuffle
    stages (and being identical subplans, exchange reuse can dedupe
    them outright), and the hash join skips sort-merge sorts."""
    a, b = bands_df.alias("a"), bands_df.hint("shuffle_hash").alias("b")
    pairs = (a.join(b, ["band", "bucket"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b")))
    return distinct_pairs(pairs, "doc_a", "doc_b")


def distinct_pairs(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """The distinct ``(a, b)`` rows of a pair relation, laid out for
    storage: hash-partitioned on ``a`` at the Python-stage width
    (``python_partitions``, which AQE never coalesces) and sorted by
    ``(a, b)`` within each partition, so each id's partners are one
    contiguous run that zstd compresses: neardup_hot stores 0.62
    bytes per pair this way against 2.35 in hash-aggregate order
    (medians of 10 interleaved runs each, local[4]).

    The exchange on ``a`` satisfies the dedup's distribution, so the
    dedup is one HashAggregate after it and the layout costs one sort.
    Keyed on the first id it stays balanced on LSH output: a hot
    bucket is a clique whose pairs spread over all its members, and an
    id's pairs are bounded by its bucket co-members, which the band
    join already holds in one task. A plain distinct would run its
    partial aggregate single-threaded on the hot join partitions
    (measured 5.0 s vs 3.6 s at 7.9M candidate pairs, sf1.0)."""
    return (python_partitions(pairs, a).dropDuplicates([a, b])
            .sortWithinPartitions(a, b))


SIMHASH_BANDS = 4


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup candidates: docs whose SimHash matches on any of
    ``SIMHASH_BANDS`` contiguous nibble quarters (≈ small hamming
    distance).
    Same banded-LSH shuffle shape as minhash_lsh_pairs: one signature
    pass, one explode — not one pass per band."""
    sigs = simhash_signatures(docs)
    width = SIMHASH_NIBBLES // SIMHASH_BANDS
    band_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.substring("simhash", b * width + 1, width)
                 .alias("bucket"))
        for b in range(SIMHASH_BANDS)])
    all_bands = (sigs.select("doc_id", F.explode(band_arr).alias("bb"))
                 .select("doc_id", "bb.band", "bb.bucket"))
    return _band_pairs(all_bands)


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band
    (band = concat of ``BAND_SIZE`` adjacent signature slots).
    Shuffles on band keys only — never all-pairs. The per-band bucket
    ids are built as one array-of-structs on the signature row and
    exploded in a single Generate (one signature pass, not one per
    band)."""
    sigs = minhash_signatures(docs)
    band_arr = F.array(*[
        F.struct(F.lit(bi).alias("band"),
                 F.md5(F.concat_ws("|", *[
                     F.col(f"sig{bi * BAND_SIZE + j}")
                     for j in range(BAND_SIZE)])).alias("bucket"))
        for bi in range(N_MINHASH // BAND_SIZE)])
    all_bands = (sigs.select("doc_id", F.explode(band_arr).alias("bb"))
                 .select("doc_id", "bb.band", "bb.bucket"))
    return _band_pairs(all_bands)
