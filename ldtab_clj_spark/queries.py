"""Driver-contract query suite: each entry exercises one operator
family from SURVEY.md §2 as a (spark, sf_dir) → DataFrame callable,
with an exactly-equivalent DuckDB oracle in ``ORACLE_SQL``.

Cross-engine determinism rules used throughout:
* money aggregates go through DECIMAL(18,2) then cast to double
  (accumulation-order-proof);
* int/int division is float division in both engines;
* hashes are md5 (present in both);
* ranks are emitted instead of raw float scores.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.dedup import (exact_dedup_groups, minhash_lsh_pairs,
                              word_jaccard_pairs)
from .operators.diff import diff_statements
from .operators.similarity import cosine_topk
from .operators.text import fingerprint, lang_id, quality_score, token_count

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    """Exact money arithmetic: 2-dp doubles → integer cents. round() of
    a double that is never an exact .5 tie rounds identically in Spark
    and DuckDB; all downstream sums are exact integers."""
    return F.round(F.col(col) * 100, 0).cast("long")


def _money_sum(col, alias):
    return (F.sum(_cents(col)) / 100.0).alias(alias)


def _revenue_sum(alias="revenue"):
    """sum(extendedprice * (1 - discount)) in exact basis points."""
    return (F.sum(_cents("l_extendedprice")
                  * (100 - _cents("l_discount").cast("long")))
            / 10000.0).alias(alias)


# ---------------------------------------------------------------- scans

def s3_scan_filter_project(spark, sf):
    """S3/F1: filter + projection pushed into the parquet scan."""
    return (load(spark, sf, "lineitem")
            .filter(F.col("l_quantity") < 5)
            .select("l_orderkey", "l_linenumber", "l_quantity"))


# ----------------------------------------------------------- aggregations

def a1_group_collect(spark, sf):
    """A1/A3: per-subject bucketing (map-side combinable hash agg).
    l_orderkey-keyed widen: the 6-row-group lineitem scan capped the
    partial aggregate at 6 tasks; the keyed exchange both spreads it
    and satisfies the aggregate's distribution, so the single shuffle
    just moves below the scan (0.93 s -> 0.52 s; exact: quantities are
    small integral doubles, so the sum is order-insensitive)."""
    from .operators.parallel import widen_partitions
    return (widen_partitions(load(spark, sf, "lineitem")
                             .select("l_orderkey", "l_quantity"),
                             "l_orderkey")
            .groupBy("l_orderkey")
            .agg(F.count("*").alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty")))


def a4_max_transaction(spark, sf):
    return load(spark, sf, "events").agg(
        F.max("event_id").alias("max_assertion"))


def a5_distinct_sorted(spark, sf):
    return (load(spark, sf, "events").select("event_type").distinct()
            .orderBy("event_type"))


def a8_get_type(spark, sf):
    """A8: 1 type → that type, else 'ambiguous' (thin2thick.clj:65-72)."""
    g = (load(spark, sf, "events").groupBy("user_id")
         .agg(F.countDistinct("event_type").alias("n"),
              F.min("event_type").alias("t")))
    return g.select("user_id",
                    F.when(F.col("n") == 1, F.col("t"))
                    .otherwise(F.lit("ambiguous")).alias("rdf_type"))


# ----------------------------------------------------------------- joins

def j3_semi_join(spark, sf):
    """J3: annotation↔statement semi-join shape."""
    c = load(spark, sf, "customer").filter(F.col("c_nationkey") == 1)
    return (load(spark, sf, "orders")
            .join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
            .select("o_orderkey", "o_totalprice"))


def j4_anti_join(spark, sf):
    """J4: backlog-purge anti-join shape."""
    o = load(spark, sf, "orders")
    return (load(spark, sf, "customer")
            .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .select("c_custkey", "c_name"))


PREFIXES = [("s", "src"), ("s1", "src1"), ("s18", "src18")]


def j5_prefix_longest_match(spark, sf):
    """J5/W4/C2: longest-prefix CURIE-ification of documents.source
    against a broadcast prefix dict (thin2thick.clj:35-42)."""
    docs = load(spark, sf, "documents").select("doc_id", "source")
    pfx = spark.createDataFrame(PREFIXES, "prefix string, base string")
    joined = docs.join(F.broadcast(pfx),
                       F.col("source").startswith(F.col("base")), "left")
    w = Window.partitionBy("doc_id").orderBy(
        F.length("base").desc(), F.col("prefix"))
    return (joined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id",
                    F.coalesce(F.col("prefix"),
                               F.concat(F.lit("<"), F.col("source"),
                                        F.lit(">"))).alias("curie_prefix")))


def j8_entity_link_join(spark, sf):
    """J8: mention→candidate linking shape on driver tables: orders
    (mentions) joined to a broadcast head dict (top customers) and
    shuffle-joined to the tail."""
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    head = F.broadcast(c.filter(F.col("c_custkey") % 10 == 0)
                       .select("c_custkey", "c_name"))
    tail = c.filter(F.col("c_custkey") % 10 != 0) \
            .select("c_custkey", "c_name")
    h = o.join(head, F.col("o_custkey") == F.col("c_custkey"), "inner")
    t = o.join(tail, F.col("o_custkey") == F.col("c_custkey"), "inner")
    return (h.unionByName(t)
            .select("o_orderkey", F.col("c_name").alias("entity")))


# ------------------------------------------------------------------ sets

def so1_union_dedup(spark, sf):
    e = load(spark, sf, "events")
    return (e.filter(F.col("event_type") == "click").select("user_id")
            .union(e.filter(F.col("value") > 10).select("user_id"))
            .distinct())


def so4_symmetric_diff(spark, sf):
    """SO4/J7: diff of two statement sets via exceptAll both ways.
    (A single counted-union pass was A/B'd in r06 and measured
    SLOWER here — the two independent exceptAll subtrees schedule
    concurrently over the narrow key, diff.py keeps the counted form
    for wide content rows where the aggregate dominates.)"""
    o = load(spark, sf, "orders").select("o_orderkey")
    v1 = o.filter(F.col("o_orderkey") % 3 < 2)
    v2 = o.filter(F.col("o_orderkey") % 3 > 0)
    added = v2.exceptAll(v1).withColumn("side", F.lit("added"))
    deleted = v1.exceptAll(v2).withColumn("side", F.lit("deleted"))
    return added.unionByName(deleted)


# --------------------------------------------------------------- windows

def w4_rank_window(spark, sf):
    from .operators.parallel import widen_partitions
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    # o_custkey-keyed widen: the 2-task orders scan ran the
    # WindowGroupLimit partial top-1 on 2 cores; the keyed exchange
    # spreads it AND satisfies the window's distribution (no extra
    # exchange). Measured 1.51 s -> 0.81 s at sf1.0; no-op on wide
    # inputs.
    return (widen_partitions(load(spark, sf, "orders"), "o_custkey")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey", "o_totalprice"))


# -------------------------------------------- statement-row construction

def f7_statement_rows(spark, sf):
    """F7/K1: encode-json row projection (import.clj:19-31) over a
    broadcast dim join."""
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (n.join(F.broadcast(r),
                   F.col("n_regionkey") == F.col("r_regionkey"))
            .select(F.lit(1).cast("long").alias("assertion"),
                    F.lit(0).cast("long").alias("retraction"),
                    F.lit("graph").alias("graph"),
                    F.concat(F.lit("ex:nation/"), F.col("n_name"))
                    .alias("subject"),
                    F.lit("ex:inRegion").alias("predicate"),
                    F.concat(F.lit("ex:region/"), F.col("r_name"))
                    .alias("object"),
                    F.lit("_IRI").alias("datatype"),
                    F.lit(None).cast("string").alias("annotation")))


# ------------------------------------------------------------ TPC-H trio

def tpch_q1(spark, sf):
    li = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 _money_sum("l_extendedprice", "sum_base_price"),
                 _revenue_sum("sum_disc_price"),
                 F.avg("l_quantity").alias("avg_qty"),
                 F.count("*").alias("count_order")))


def tpch_q3(spark, sf):
    """Lineitem is PRE-AGGREGATED to per-orderkey revenue cents before
    any join: the group key (o_orderkey, o_orderdate) is one row per
    orderkey anyway (o_orderdate is functionally dependent), so
    summing the exact integer cents first is value-identical while the
    join then moves 1 aggregated row per order instead of every
    lineitem row (map-side combinable, guide §2.3 'aggregate before
    you shuffle'). DuckDB-verified row-identical at sf0.1."""
    c = load(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < "1998-03-15")
    li_rev = (load(spark, sf, "lineitem")
              .groupBy("l_orderkey")
              .agg(F.sum(_cents("l_extendedprice")
                         * (100 - _cents("l_discount").cast("long")))
                   .alias("_cents")))
    return (c.join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li_rev, F.col("o_orderkey") == F.col("l_orderkey"))
            .select("o_orderkey", "o_orderdate",
                    (F.col("_cents") / 10000.0).alias("revenue")))


def tpch_q5(spark, sf):
    """Region predicate pushed to BOTH dims up front (guide §3.2):
    only ASIA nations (5 of 25) can survive the final region join, so
    supplier and customer are pre-filtered to those nationkeys before
    any fact join — inner joins commute, result identical (DuckDB-
    verified). The ~80% dead lineitem rows then drop at the broadcast
    supplier join BEFORE the l_orderkey/o_orderkey shuffle instead of
    after it."""
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf, "nation")
    asia_n = (n.join(F.broadcast(r),
                     F.col("n_regionkey") == F.col("r_regionkey"))
              .select("n_nationkey", "n_name"))
    s = (load(spark, sf, "supplier")
         .join(F.broadcast(asia_n),
               F.col("s_nationkey") == F.col("n_nationkey"))
         .select("s_suppkey", "s_nationkey", "n_name"))
    c = (load(spark, sf, "customer")
         .join(F.broadcast(asia_n.select("n_nationkey")),
               F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
         .select("c_custkey", "c_nationkey"))
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem")
    return (li.join(F.broadcast(s),
                    F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, (F.col("o_custkey") == F.col("c_custkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .groupBy("n_name")
            .agg(_revenue_sum()))


def tpch_q6(spark, sf):
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return li.agg((F.sum(_cents("l_extendedprice")
                         * _cents("l_discount")) / 10000.0)
                  .alias("revenue"))


def tpch_q12(spark, sf):
    """Shipmode-style case-count aggregation (q12 shape over the
    columns this schema has: order priority classes per status)."""
    o = load(spark, sf, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (o.groupBy("o_orderstatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line")))


def tpch_q14(spark, sf):
    """Promo revenue share (q14 shape: brand-class share of revenue)."""
    li = load(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1997-06-01"))
    p = load(spark, sf, "part")
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    promo = F.when(F.col("p_brand") == "Brand#1", rev).otherwise(0)
    return (li.join(F.broadcast(p),
                    F.col("l_partkey") == F.col("p_partkey"))
            .agg((F.sum(promo) * 100.0 / F.sum(rev))
                 .alias("promo_share")))


def events_sessionize(spark, sf):
    """Gap-based sessionization (the canonical event-pipeline op):
    a >30-minute silence starts a new session per user; one window
    pass for the lag/flag/cumsum chain, one aggregation for the
    session stats. Shuffles once on user_id."""
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    flagged = e.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start")))


def events_hourly_window(spark, sf):
    """Tumbling-window aggregation over the events stream table.
    Delegates to the SAME function the streaming test drives
    (streaming/windows.py) — one implementation, batch and stream."""
    from .streaming.windows import hourly_event_counts
    return hourly_event_counts(load(spark, sf, "events"))


# ----------------------------------------------------- dedup/text/simsearch

def dedup_exact(spark, sf):
    return exact_dedup_groups(load(spark, sf, "documents"))


def dedup_word_jaccard(spark, sf):
    return word_jaccard_pairs(load(spark, sf, "documents"), threshold=0.95)


def dedup_minhash_lsh(spark, sf):
    """MinHash-LSH candidate pairs (hashlib signatures in one Arrow
    pass per doc, banded on md5 bucket keys)."""
    return minhash_lsh_pairs(load(spark, sf, "documents"))


def dedup_simhash(spark, sf):
    from .operators.dedup import simhash_signatures
    return simhash_signatures(load(spark, sf, "documents"))


def dedup_simhash_pairs(spark, sf):
    """SimHash near-dup candidate pairs (numpy signatures in one Arrow
    pass per doc, banded on nibble quarters)."""
    from .operators.dedup import simhash_pairs
    return simhash_pairs(load(spark, sf, "documents"))


def text_token_count(spark, sf):
    return token_count(load(spark, sf, "documents"))


def text_quality(spark, sf):
    return quality_score(load(spark, sf, "documents"))


def text_langid(spark, sf):
    return lang_id(load(spark, sf, "documents"))


def text_fingerprint(spark, sf):
    return fingerprint(load(spark, sf, "documents"))


def text_token_bpe(spark, sf):
    from .operators.text import token_count_bpe
    return token_count_bpe(load(spark, sf, "documents"))


def text_winnow(spark, sf):
    from .operators.text import winnow_fingerprints
    return winnow_fingerprints(load(spark, sf, "documents"))


def text_term_stats(spark, sf):
    """TF/DF term statistics (the exact-integer core of TF-IDF):
    two aggregations + one term join, all counts integers."""
    from .operators.text import term_stats
    return term_stats(load(spark, sf, "documents"))


def tpch_q4(spark, sf):
    """Order-priority count with an EXISTS semi-join (q4 shape over
    the columns this schema has: orders with a returned lineitem)."""
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01"))
    returned = load(spark, sf, "lineitem").filter(
        F.col("l_returnflag") == "R")
    return (o.join(returned, F.col("o_orderkey") == F.col("l_orderkey"),
                   "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count"))
            .orderBy("o_orderpriority"))


def tpch_q7(spark, sf):
    """Nation-pair trade volume (q7 shape): lineitem joined through
    supplier's and customer's nations, two directed pairs kept, grouped
    by (supp_nation, cust_nation, ship year). Both nation dims
    broadcast; one agg shuffle."""
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    # pre-filter each nation dim to the two names so only pair-relevant
    # rows survive the joins (the disjunctive pair predicate itself
    # can't be pushed below the join)
    both = ["NATION_1", "NATION_2"]
    n1 = (load(spark, sf, "nation")
          .filter(F.col("n_name").isin(both))
          .select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation")))
    n2 = (load(spark, sf, "nation")
          .filter(F.col("n_name").isin(both))
          .select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation")))
    pair = (((F.col("supp_nation") == "NATION_1")
             & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2")
               & (F.col("cust_nation") == "NATION_1")))
    return (li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
            .filter(pair)
            .groupBy("supp_nation", "cust_nation",
                     F.year(F.col("l_shipdate").cast("date"))
                     .alias("l_year"))
            .agg(_revenue_sum("volume")))


def tpch_q10(spark, sf):
    """Returned-item revenue per customer (q10 shape): one-quarter
    orders, R-flag lineitems, top 20 by exact-cents revenue with a
    c_custkey tie-break (deterministic across engines)."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01"))
    li = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf, "nation")
    return (c.join(o, F.col("c_custkey") == F.col("o_custkey"))
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(F.broadcast(n),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
            .agg(_revenue_sum())
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


def tpch_q19(spark, sf):
    """Discounted revenue under OR-bracket predicates (q19 shape):
    lineitem × part equi-join with three (brand, size, quantity)
    brackets — the classic pushdown/CNF-conversion stressor."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part")

    def bracket(brand, size_hi, q_lo, q_hi):
        return ((F.col("p_brand") == brand)
                & F.col("p_size").between(1, size_hi)
                & F.col("l_quantity").between(q_lo, q_hi))

    return (li.join(p, F.col("l_partkey") == F.col("p_partkey"))
            .filter(bracket("Brand#1", 5, 1, 11)
                    | bracket("Brand#2", 10, 10, 20)
                    | bracket("Brand#3", 15, 20, 30))
            .agg(_revenue_sum()))


def tpch_q2(spark, sf):
    """Min-cost supplier (q2 shape): written as SQL with a genuinely
    CORRELATED scalar subquery so Catalyst's decorrelation rewrite is
    exercised (the schema has no partsupp table, so per-(part, supp)
    min lineitem price in exact cents stands in for ps_supplycost).
    Ties on the per-part minimum keep ALL matching suppliers (TPC-H
    semantics); the ORDER BY ends in the unique (p_partkey, s_suppkey)
    pair so the LIMIT cut is deterministic across engines."""
    for t in ("lineitem", "part", "supplier", "nation"):
        load(spark, sf, t).createOrReplaceTempView(f"q2_{t}")
    # The correlated scalar subquery is rewritten as an explicit
    # per-part min join: Catalyst's decorrelation planned TWO full
    # lineitem aggregations (outer cost + subquery re-aggregation);
    # deriving `best` FROM cost makes the second a cheap rollup of the
    # first, and identical subplans share one exchange. The part
    # predicate (p_type/p_size — 2.7% of parts survive) is applied to
    # lineitem BEFORE the cost aggregation via a broadcast join on the
    # filtered partkeys: per-partkey min commutes with a partkey
    # filter, so cost/best over the surviving partkeys are identical
    # to cost/best over all partkeys joined to the filtered part dim —
    # but the aggregation input shrinks ~37x (guide §3.2 "reduce the
    # big side before shuffling it"). The oracle keeps the correlated
    # unfiltered form; DuckDB-verified row-identical at sf0.1 (ties
    # keep ALL matching suppliers either way, and the ORDER BY ends in
    # the unique (p_partkey, s_suppkey) pair so the LIMIT cut is
    # deterministic).
    return spark.sql("""
        WITH fp AS (
          SELECT p_partkey, p_name
          FROM q2_part WHERE p_type = 'SMALL' AND p_size < 10),
        cost AS (
          SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                 min(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
                   AS cost_cents
          FROM q2_lineitem JOIN fp ON l_partkey = p_partkey
          GROUP BY l_partkey, l_suppkey),
        best AS (
          SELECT partkey, min(cost_cents) AS best_cents
          FROM cost GROUP BY partkey)
        -- BROADCAST(b): `best` is one (partkey, cents) pair per part —
        -- dim-table sized — but its size ESTIMATE derives from the
        -- cost aggregate and lands above the auto threshold, which
        -- planned a sort-merge join sorting all of cost (measured
        -- 2.5 s -> 4.8 s when the 16 MB cap landed); the hint keeps
        -- the cost side unshuffled
        SELECT /*+ BROADCAST(b) */
               s_acctbal, s_name, n_name, p_partkey, p_name,
               -- 100.0 would parse as DECIMAL in Spark SQL (decimal
               -- division -> pandas object dtype); force double
               c.cost_cents / CAST(100 AS DOUBLE) AS supply_cost
        FROM fp p
        JOIN cost c ON p.p_partkey = c.partkey
        JOIN best b ON c.partkey = b.partkey
                   AND c.cost_cents = b.best_cents
        JOIN q2_supplier s ON c.suppkey = s.s_suppkey
        JOIN q2_nation n ON s.s_nationkey = n.n_nationkey
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        LIMIT 100""")


def tpch_q9(spark, sf):
    """Product-type profit (q9 shape): multi-way join with a LIKE
    filter on part name, profit = revenue - retail-cost*qty in exact
    basis points (p_retailprice stands in for ps_supplycost), grouped
    by supplier nation and order year. The filtered part dim (~12% of
    2k rows) and nation are broadcast; one agg shuffle."""
    li = load(spark, sf, "lineitem")
    p = load(spark, sf, "part").filter(F.col("p_name").like("%bolt%"))
    s = load(spark, sf, "supplier")
    o = load(spark, sf, "orders")
    n = load(spark, sf, "nation")
    profit_bp = (_cents("l_extendedprice") * (100 - _cents("l_discount"))
                 - _cents("p_retailprice")
                 * F.col("l_quantity").cast("long") * 100)
    return (li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
            .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(n),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .groupBy(F.col("n_name").alias("nation"),
                     F.year(F.col("o_orderdate").cast("date"))
                     .alias("o_year"))
            .agg((F.sum(profit_bp) / 10000.0).alias("sum_profit")))


def tpch_q18(spark, sf):
    """Large-volume customers (q18 shape): a grouped HAVING over
    lineitem feeds a join back to orders/customer — the semi-join-on-
    aggregate idiom. Quantities are integral doubles, summed as BIGINT
    so the HAVING threshold is exact; the final ORDER BY ends in the
    unique o_orderkey so LIMIT 100 is deterministic."""
    li = load(spark, sf, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
           .filter(F.col("total_qty") > 250))
    o = load(spark, sf, "orders")
    c = load(spark, sf, "customer")
    return (big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(c, F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    (_cents("o_totalprice") / 100.0).alias("total_price"),
                    "total_qty")
            .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
            .limit(100))


def tpch_q13(spark, sf):
    """Customer order-count distribution (q13 shape): LEFT OUTER join
    customer → filtered orders, per-customer count (nulls → 0), then
    the distribution of counts — the double-aggregation-over-outer-join
    idiom. One broadcast-or-shuffle join + two agg exchanges."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, F.col("c_custkey") == F.col("o_custkey"),
                       "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


def tpch_q16(spark, sf):
    """Supplier-count per part attribute (q16 shape): distinct-count
    aggregation over a NOT-IN-filtered join (no partsupp table in this
    schema, so the (part, supplier) relation is the distinct pairs
    observed in lineitem). Excluded suppliers (negative balance) via
    anti-join."""
    pairs = (load(spark, sf, "lineitem")
             .select("l_partkey", "l_suppkey").distinct())
    p = load(spark, sf, "part").filter(F.col("p_brand") != "Brand#1")
    bad = load(spark, sf, "supplier").filter(F.col("s_acctbal") < 0) \
        .select("s_suppkey")
    return (pairs.join(F.broadcast(bad),
                       F.col("l_suppkey") == F.col("s_suppkey"),
                       "left_anti")
            .join(p, F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type",
                     "p_size"))


def tpch_q21(spark, sf):
    """Double-correlated EXISTS / NOT EXISTS (q21 shape, adapted: no
    commit/receipt dates in this schema): suppliers with a returned
    ('R') lineitem in a multi-supplier order where NO other supplier's
    line in that order was returned — written as SQL so Catalyst's
    decorrelation turns the two correlated subqueries into a semi- and
    an anti-join."""
    for t in ("lineitem", "supplier", "orders"):
        load(spark, sf, t).createOrReplaceTempView(f"q21_{t}")
    # The two correlated subqueries (semi + anti join of lineitem with
    # itself — two full shuffles of the fact table) are rewritten as
    # ONE per-order min/max aggregate: given l1 is an 'R' line of its
    # order, EXISTS(other-supplier line) ⟺ the order has ≥2 distinct
    # suppliers ⟺ min(supp) <> max(supp), and NOT EXISTS(
    # other-supplier 'R' line) ⟺ every 'R' line shares one supplier ⟺
    # min(R-supp) = max(R-supp). And because in a qualifying order
    # EVERY 'R' line's suppkey equals that shared min(R-supp), the
    # per-supplier row count folds into the SAME aggregate
    # (count of 'R' lines, attributed to mnr): lineitem is scanned
    # ONCE and the only fact join left is po⋈orders on per-order
    # aggregates — no 'R'-line fact rows ride any join (guide §2.3
    # "aggregate before you shuffle"). sum(count) ≡ count(*) per
    # group since the 'R' lines of a qualifying order all carry the
    # same s_name; BIGINT either way in both engines. The oracle
    # keeps the EXISTS form; DuckDB-verified row-identical at sf0.1.
    return spark.sql("""
        WITH po AS (
          SELECT l_orderkey AS po_orderkey,
                 min(l_suppkey) AS mn, max(l_suppkey) AS mx,
                 min(CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
                   AS mnr,
                 max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
                   AS mxr,
                 count(CASE WHEN l_returnflag = 'R' THEN 1 END)
                   AS cntr
          FROM q21_lineitem GROUP BY l_orderkey)
        SELECT s_name, sum(cntr) AS numwait
        FROM po
        JOIN q21_orders ON po_orderkey = o_orderkey
        JOIN q21_supplier ON mnr = s_suppkey
        WHERE o_orderstatus = 'F' AND mn <> mx AND mnr = mxr
        GROUP BY s_name
        ORDER BY numwait DESC, s_name""")


def tpch_q22(spark, sf):
    """Global-average scalar subquery + anti-join (q22 shape):
    customers above the global positive-balance average with no
    URGENT order (every synth customer has SOME order, so the classic
    no-order predicate would be vacuous), grouped by nation. The
    average of exact cents is a single double division — deterministic
    across engines."""
    c = load(spark, sf, "customer")
    avg_bal = (c.filter(F.col("c_acctbal") > 0)
               .agg(F.avg(_cents("c_acctbal")).alias("avg_cents")))
    o = (load(spark, sf, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey"))
    return (c.join(F.broadcast(avg_bal))
            .filter(_cents("c_acctbal") > F.col("avg_cents"))
            .join(o, F.col("c_custkey") == F.col("o_custkey"),
                  "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("numcust"),
                 _money_sum("c_acctbal", "totacctbal"))
            .orderBy("c_nationkey"))


def events_session_window(spark, sf):
    """NATIVE session windows (F.session_window, 30-minute gap) — the
    streaming-capable session aggregation; events_sessionize is the
    manual lag/cumsum twin. Session end = last event + gap (Spark's
    half-open [start, last+gap) semantics, reproduced exactly in the
    oracle's gap-and-island SQL). Delegates to the SAME function the
    streaming test drives (streaming/windows.py) — one implementation,
    batch and stream."""
    from .operators.parallel import widen_partitions
    from .streaming.windows import session_event_counts
    # user_id-keyed widen (batch wrapper only — the shared streaming
    # function stays untouched): the single-row-group events scan ran
    # the partial sessionization on one task; hashing by user_id both
    # spreads it AND satisfies the session aggregation's distribution,
    # so the exchange count is unchanged (measured 1.30 s -> 0.68 s)
    return session_event_counts(
        widen_partitions(load(spark, sf, "events"), "user_id"))


def dedup_minhash_clusters(spark, sf):
    """The full dedup loop closed: MinHash-LSH candidate pairs →
    connected-component duplicate clusters → (doc_id, cluster) with
    cluster = kept representative (min doc_id). Oracle: recursive-CTE
    min-label flood over the same pair SQL."""
    from .operators.dedup import minhash_lsh_pairs, near_dup_clusters
    return near_dup_clusters(minhash_lsh_pairs(
        load(spark, sf, "documents")))


def dedup_boilerplate(spark, sf):
    """C4-style boilerplate detection: 10-word segments recurring
    across ≥3 distinct docs; per-doc (n_segments, n_boilerplate)."""
    from .operators.dedup import repeated_segment_stats
    return repeated_segment_stats(load(spark, sf, "documents"))


def ann_cosine_topk(spark, sf):
    emb = load(spark, sf, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def kg_mention_extract(spark, sf):
    """Mention detection over the flat documents table: closed
    vocabulary containment scan (broadcast nested-loop — intentional
    for a 4-word vocabulary; kg_mention_extract_join is the
    real-vocabulary scale path)."""
    vocab = spark.createDataFrame(
        [("spark",), ("join",), ("filter",), ("window",)], "word string")
    d = load(spark, sf, "documents")
    from .operators.guards import guard_brute_force
    # looser bound than the true-quadratic verifiers: the containment
    # BNLJ is |vocab| × N contains() calls (linear in docs for this
    # fixed 4-word vocabulary), so the guard only has to stop
    # corpus-scale runs, not every SF > 1 bench input
    guard_brute_force(d, "kg_mention_extract", "kg_mention_extract_join",
                      max_rows=5_000_000)
    return (d.join(F.broadcast(vocab), F.col("text").contains(F.col("word")))
            .select("doc_id", F.col("word").alias("entity"),
                    F.lit("ex:mentions").alias("predicate")))


def kg_mention_extract_join(spark, sf):
    """Tokenize-and-join mention detection — the scale path for a real
    vocabulary: explode to (doc_id, token), equi-join the vocab
    (broadcast here; shuffle hash join when the dictionary outgrows the
    broadcast threshold). Word-boundary semantics, unlike the
    containment scan."""
    from .operators.parallel import widen_partitions
    vocab = spark.createDataFrame(
        [("spark",), ("join",), ("filter",), ("window",)], "word string")
    d = widen_partitions(
        load(spark, sf, "documents").select("doc_id", "text"))
    words = (d.select("doc_id",
                      F.explode(F.split(F.lower(F.col("text")),
                                        r"[^a-z0-9]+")).alias("word"))
             .filter(F.col("word") != ""))
    # no broadcast hint: the optimizer broadcasts under the threshold
    # and degrades to a shuffle join when the dictionary outgrows it —
    # a forced hint would collect a multi-GB vocabulary to the driver.
    # The vocab join runs BEFORE the distinct: semantically identical
    # (distinct-then-join == join-then-distinct for an inner equi-join
    # on a distinct-keyed dim), but the distinct exchange then carries
    # only dictionary hits instead of the whole tokenized corpus
    return (words.join(vocab, "word").distinct()
            .select("doc_id", F.col("word").alias("entity"),
                    F.lit("ex:mentions").alias("predicate")))


def diff_transactions(spark, sf):
    """R12: statement-set diff with transaction ids."""
    o = load(spark, sf, "orders").select("o_orderkey")

    def stmts(df):
        return df.select(
            F.lit("graph").alias("graph"),
            F.concat(F.lit("ex:o"), F.col("o_orderkey")).alias("subject"),
            F.lit("ex:status").alias("predicate"),
            F.lit("open").alias("object"),
            F.lit("xsd:string").alias("datatype"),
            F.lit(None).cast("string").alias("annotation"))

    old = stmts(o.filter(F.col("o_orderkey") % 3 < 2))
    new = stmts(o.filter(F.col("o_orderkey") % 3 > 0))
    return diff_statements(old, new, transaction_id=2)


_CURIFY_PREFIXES = [("exn", "http://example.com/nation/"),
                    ("ex", "http://example.com/")]
_EXPAND_PREFIXES = [("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
                    ("owl", "http://www.w3.org/2002/07/owl#"),
                    ("ex", "http://example.com/")]


def c2_curify(spark, sf):
    """C2/J5: longest-prefix CURIE-ification as a codegen CASE chain
    (thin2thick.clj:35-42) incl. the <iri> fallback."""
    from .functions.prefixes import curify_col
    n = load(spark, sf, "nation").select(
        "n_name",
        F.concat(F.lit("http://example.com/nation/"), F.col("n_name"))
        .alias("iri"))
    r = load(spark, sf, "region").select(
        F.col("r_name").alias("n_name"),
        F.concat(F.lit("urn:x/"), F.col("r_name")).alias("iri"))
    return n.unionByName(r).select(
        "n_name", curify_col(F.col("iri"), _CURIFY_PREFIXES).alias("curie"))


def j6_curie_expand(spark, sf):
    """C3/J6: CURIE → IRI expansion incl. <>-stripping
    (thick_rdf.clj:32-43)."""
    from .functions.prefixes import curie_to_iri_col
    n = load(spark, sf, "nation")
    curies = (n.select(F.concat(F.lit("ex:nation/"), F.col("n_name"))
                       .alias("curie"))
              .union(spark.createDataFrame(
                  [("rdf:type",), ("owl:Class",), ("<http://raw/x>",)],
                  "curie string")))
    return curies.select(
        "curie",
        curie_to_iri_col(F.col("curie"), _EXPAND_PREFIXES).alias("iri"))


def so5_state_replay(spark, sf):
    """SO5/A5: state-at-transaction replay (diff.clj:151-164)."""
    from .operators.diff import current_state
    o = load(spark, sf, "orders")
    hist = o.select(
        (F.col("o_orderkey") % 5 + 1).cast("long").alias("assertion"),
        F.when(F.col("o_orderkey") % 7 == 0,
               (F.col("o_orderkey") % 5 + 3))
        .otherwise(F.lit(0)).cast("long").alias("retraction"),
        F.lit("graph").alias("graph"),
        F.concat(F.lit("ex:o"), F.col("o_orderkey")).alias("subject"),
        F.lit("ex:status").alias("predicate"),
        F.col("o_orderstatus").alias("object"),
        F.lit("xsd:string").alias("datatype"),
        F.lit(None).cast("string").alias("annotation"))
    return current_state(hist, at_transaction=3)


def order_history(spark, sf):
    """Synthetic 5-transaction statement history over orders: every row
    asserted at tid 1-5 (o_orderkey%5+1); every third row with an early
    assertion is retracted 1-2 transactions later — so each replay T
    sees a distinct live set. Shared by so5_state_at_t and the
    all-T pytest sweep."""
    o = load(spark, sf, "orders")
    a = (F.col("o_orderkey") % 5 + 1).cast("long")
    r = (F.when((F.col("o_orderkey") % 3 == 0) & (a <= 3),
                a + 1 + F.col("o_orderkey") % 2)
         .otherwise(F.lit(0)).cast("long"))
    return o.select(
        a.alias("assertion"), r.alias("retraction"),
        F.lit("graph").alias("graph"),
        F.concat(F.lit("ex:o"), F.col("o_orderkey")).alias("subject"),
        F.lit("ex:status").alias("predicate"),
        F.col("o_orderstatus").alias("object"),
        F.lit("xsd:string").alias("datatype"),
        F.lit(None).cast("string").alias("annotation"))


STATE_AT_T_ORACLE = (
    "SELECT graph, subject, predicate, object, datatype, annotation "
    "FROM (SELECT CAST(o_orderkey % 5 + 1 AS BIGINT) AS assertion, "
    "CAST(CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 5 + 1 <= 3 "
    "THEN o_orderkey % 5 + 2 + o_orderkey % 2 ELSE 0 END AS BIGINT) "
    "AS retraction, "
    "'graph' AS graph, 'ex:o' || o_orderkey AS subject, "
    "'ex:status' AS predicate, o_orderstatus AS object, "
    "'xsd:string' AS datatype, CAST(NULL AS VARCHAR) AS annotation "
    "FROM orders) WHERE assertion <= {t} "
    "AND (retraction = 0 OR retraction > {t})")


def so5_state_at_t(spark, sf):
    """R12/SO5: state-at-arbitrary-transaction replay
    (diff.clj:151-164) at a mid-history tid over a history that has
    both later assertions AND retractions straddling the replay point.
    tests/test_thick.py sweeps the same replay at every tid 1-5."""
    from .operators.diff import current_state
    return current_state(order_history(spark, sf), at_transaction=2)


def c4_tsv_escape(spark, sf):
    """C4/K2: newline/tab TSV escaping (export.clj:17-29)."""
    from .operators.export import escape_tsv
    n = load(spark, sf, "nation")
    raw = F.concat(F.lit("a\n"), F.col("n_name"), F.lit("\tb\r"))
    return n.select("n_nationkey", escape_tsv(raw).alias("escaped"))


def ann_near_dup(spark, sf):
    """Embedding-cosine near-duplicate pairs, brute-force all-pairs —
    the TEST-SCALE VERIFIER for ann_srp_near_dup (which is the audited
    100 TB path; this one is O(N²) by construction)."""
    from .operators.similarity import cosine_near_dup_pairs
    return cosine_near_dup_pairs(load(spark, sf, "embeddings"),
                                 threshold=0.4)


def ann_srp_near_dup(spark, sf):
    """Embedding near-dup via multi-table SRP-LSH candidates + exact
    cosine confirm — the scale path (bucket-key shuffle, never
    all-pairs). Deterministic integer planes so DuckDB reproduces the
    bucketing bit-for-bit. No reference analog (north-star op,
    SURVEY.md §2.10)."""
    from .operators.similarity import srp_banded_near_dup, srp_plane_tables
    return srp_banded_near_dup(load(spark, sf, "embeddings"),
                               srp_plane_tables(), threshold=0.4)


def ann_ivf_topk(spark, sf):
    """IVF-bucketed ANN top-k (inverted file over deterministic
    centroids, n_probe=2) — the other classic bucketed scale path next
    to SRP-LSH. Assignment and probe scoring sum in index order, so
    near-tied ranks match the oracle. No reference analog (north-star
    op, SURVEY.md §2.10)."""
    from .operators.similarity import ivf_cosine_topk
    emb = load(spark, sf, "embeddings")
    return ivf_cosine_topk(emb, emb.filter(F.col("vec_id") < 10),
                           n_centroids=16, n_probe=2, k=5)


def ann_lsh_topk(spark, sf):
    """Bucketed ANN top-k (srp_bucket + rank inside bucket) — audits
    the lsh_cosine_topk scale path; recall < 1 vs ann_cosine_topk by
    design."""
    from .operators.similarity import lsh_cosine_topk, srp_plane_tables
    emb = load(spark, sf, "embeddings")
    planes = srp_plane_tables(n_tables=1, k_planes=3)[0]
    return lsh_cosine_topk(emb, emb.filter(F.col("vec_id") < 10),
                           planes, k=5)


from .operators.multimodal import _FORMATS as _MM_FORMATS  # noqa: E402


def _mm_media(spark, sf):
    """Deterministic media table derived from the documents table so
    the multimodal operators get a DuckDB-reproducible input: payload =
    ASCII bytes of repeat(md5(text), 8) (256 bytes — ASCII so DuckDB's
    VARCHAR slicing equals byte slicing), metadata from sha256 hex
    nibbles of the media_ref."""
    d = load(spark, sf, "documents")
    ref = F.concat(F.lit("media://doc/"), F.col("doc_id").cast("string"))
    sha = F.sha2(ref, 256)
    byte0 = F.conv(F.substring(sha, 1, 2), 16, 10).cast("int")
    byte4 = F.conv(F.substring(sha, 9, 2), 16, 10).cast("int")
    fmt = F.element_at(F.array(*[F.lit(x) for x in _MM_FORMATS]),
                       byte0 % 4 + 1)
    payload = F.encode(F.repeat(F.md5(F.col("text")), 8), "UTF-8")
    meta = F.struct(fmt.alias("format"),
                    (byte0 % 64 + 16).alias("width"),
                    (byte4 % 64 + 16).alias("height"),
                    (byte4 % 8 + 1).alias("n_frames"))
    return d.select(ref.alias("media_ref"), payload.alias("content"),
                    meta.alias("meta"))


def mm_decode_features(spark, sf):
    """Multimodal decode plumbing, oracle-checked: the Arrow-batched
    decode_media operator (deterministic fake decoder = first 16 bytes
    of sha256(payload)) over the derived media table; features are
    re-projected to their integer byte values so the hash is
    float-free. No reference analog (north-star op, SURVEY.md §2.10)."""
    from .operators.multimodal import decode_media
    feats = decode_media(_mm_media(spark, sf))
    sig = F.array_join(
        F.transform("feature",
                    lambda x: F.round(x * 255).cast("int").cast("string")),
        "-")
    return feats.select("media_ref", "format", sig.alias("feature_sig"))


def mm_frame_sample(spark, sf):
    """Frame-sampling plumbing, oracle-checked: sample_frames slices
    the 256-byte ASCII payload into n_frames strides and keeps every
    2nd frame; frames re-decoded to strings for a byte-exact oracle."""
    from .operators.multimodal import sample_frames
    frames = sample_frames(_mm_media(spark, sf), every=2)
    return frames.select("media_ref", "frame_idx",
                         F.decode("frame", "UTF-8").alias("frame_str"))


def kg_pipeline_statements(spark, sf):
    """Flagship end-to-end KG construction on the deterministic synth
    interleaved-docs corpus. Oracle: the single-node reference path
    (plans/single_node.py) materialized as a parquet fixture by
    tools/make_kg_fixture.py — DuckDB reads it via read_parquet(), so
    the driver checks rows+schema+hash, not just row count."""
    from .plans.pipeline import run_pipeline
    return run_pipeline(spark, n_docs=300, seed=42)


def kg_roundtrip_reimport(spark, sf):
    """Export→re-import round trip of the flagship output; must equal
    the same single-node oracle fixture (round trip is lossless)."""
    from .plans.pipeline import reimport, run_pipeline
    return reimport(run_pipeline(spark, n_docs=300, seed=42))


def kg_pipeline_media(spark, sf):
    """Flagship with the multimodal stage enabled (include_media=True):
    decode/feature the synth media table and union the ex:featureHash
    statements into the graph. Oracle: the media-variant single-node
    fixture (tools/make_kg_fixture.py)."""
    from .plans.pipeline import run_pipeline
    return run_pipeline(spark, n_docs=300, seed=42, include_media=True)


# Driver registry: exactly DRIVER_CAP entries so every one gets a
# CORRECTNESS row each round (the driver caps the file at 50 rows —
# a 57-entry registry in round 3 rotated 7 entries out of the check).
# Guarded brute-force verifiers and redundant operator twins live in
# EXTRA_QUERIES below; they run through the SAME oracle harness via
# tools/check_oracles.py and tests/test_oracle_registry.py.
#
# ROTATION (r4 verdict #5): entries displaced by the cap get a driver
# CORRECTNESS row at least every other round by swapping cap slots
# with stable multi-round-green twins. Round 5 swaps IN tpch_q13/q16/
# q21/q22, text_winnow, so5_state_replay and OUT tpch_q6/q7/q10/q12/
# q14, text_token_count (each green in CORRECTNESS_r02-r04 and
# shape-covered by a sibling still in the registry: q6/q14⊂q19 scan+
# agg pushdown, q7/q10⊂q5/q9 dim-join chains, q12⊂q4, token_count⊂
# term_stats/token_bpe). Swap back (or rotate further) next round.
DRIVER_CAP = 50

QUERIES = {
    "kg_pipeline_statements": kg_pipeline_statements,
    "kg_roundtrip_reimport": kg_roundtrip_reimport,
    "kg_pipeline_media": kg_pipeline_media,
    "c2_curify": c2_curify,
    "j6_curie_expand": j6_curie_expand,
    "so5_state_at_t": so5_state_at_t,
    "c4_tsv_escape": c4_tsv_escape,
    "ann_srp_near_dup": ann_srp_near_dup,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "mm_decode_features": mm_decode_features,
    "mm_frame_sample": mm_frame_sample,
    "s3_scan_filter_project": s3_scan_filter_project,
    "a1_group_collect": a1_group_collect,
    "a8_get_type": a8_get_type,
    "j3_semi_join": j3_semi_join,
    "j4_anti_join": j4_anti_join,
    "j8_entity_link_join": j8_entity_link_join,
    "so1_union_dedup": so1_union_dedup,
    "so4_symmetric_diff": so4_symmetric_diff,
    "w4_rank_window": w4_rank_window,
    "f7_statement_rows": f7_statement_rows,
    "tpch_q1": tpch_q1,
    "tpch_q2": tpch_q2,
    "tpch_q3": tpch_q3,
    "tpch_q4": tpch_q4,
    "tpch_q5": tpch_q5,
    "tpch_q9": tpch_q9,
    "tpch_q13": tpch_q13,
    "tpch_q16": tpch_q16,
    "tpch_q18": tpch_q18,
    "tpch_q19": tpch_q19,
    "tpch_q21": tpch_q21,
    "tpch_q22": tpch_q22,
    "events_hourly_window": events_hourly_window,
    "events_session_window": events_session_window,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_boilerplate": dedup_boilerplate,
    "dedup_minhash_clusters": dedup_minhash_clusters,
    "text_winnow": text_winnow,
    "so5_state_replay": so5_state_replay,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_token_bpe": text_token_bpe,
    "text_term_stats": text_term_stats,
    "kg_mention_extract_join": kg_mention_extract_join,
    "diff_transactions": diff_transactions,
}

# Oracle-checked but NOT driver-submitted: the quadratic guarded
# verifiers (ann_near_dup, dedup_word_jaccard, kg_mention_extract,
# ann_cosine_topk) and twins whose operator is already driver-covered
# by a sibling (dedup_simhash ⊂ dedup_simhash_pairs, events_sessionize
# ~ events_session_window, j5 window form ~ c2_curify CASE form + w4
# windows, a4/a5 trivial aggregates, plus the round-5 rotation's
# swapped-out set — see the ROTATION note above DRIVER_CAP).
EXTRA_QUERIES = {
    "tpch_q6": tpch_q6,
    "tpch_q7": tpch_q7,
    "tpch_q10": tpch_q10,
    "tpch_q12": tpch_q12,
    "tpch_q14": tpch_q14,
    "text_token_count": text_token_count,
    "ann_near_dup": ann_near_dup,
    "ann_cosine_topk": ann_cosine_topk,
    "dedup_word_jaccard": dedup_word_jaccard,
    "dedup_simhash": dedup_simhash,
    "kg_mention_extract": kg_mention_extract,
    "events_sessionize": events_sessionize,
    "j5_prefix_longest_match": j5_prefix_longest_match,
    "a4_max_transaction": a4_max_transaction,
    "a5_distinct_sorted": a5_distinct_sorted,
}

# single source of truth for tools that need both registries
# (bench.py, tools/check_oracles.py, tools/explain_audit.py) — keep
# the two-registry resolution in ONE place
ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}

_CENTS_PRICE = "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
_CENTS_REVENUE = (f"{_CENTS_PRICE} * "
                  "(100 - CAST(round(l_discount * 100, 0) AS BIGINT))")

_WORDS = ("SELECT DISTINCT doc_id, w AS word FROM documents, "
          "unnest(string_split_regex(trim(text),'\\s+')) AS t(w) "
          "WHERE w <> ''")

_SHINGLES = (
    "SELECT DISTINCT doc_id, shingle FROM "
    "(SELECT doc_id, w[i] || ' ' || w[i+1] AS shingle FROM "
    "(SELECT doc_id, string_split_regex(trim(text),'\\s+') AS w "
    "FROM documents), "
    "unnest(generate_series(1, greatest(len(w)-1, 1))) t(i)) "
    "WHERE shingle IS NOT NULL")

_SIG = ", ".join(
    f"min(md5('{i}:' || shingle)) AS sig{i}" for i in range(8))


def _simhash_sql() -> str:
    """Generate the portable SimHash SQL: the nibble arithmetic that
    operators/dedup.py:simhash_signatures computes in numpy."""
    sums = ["count(*) AS cnt"]
    for p in range(1, 17):
        v = f"(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
        for j in range(4):
            sums.append(f"sum(({v} // {2 ** j}) % 2) AS s{p}_{j}")
    chars = []
    for p in range(1, 17):
        nib = " + ".join(
            f"(CASE WHEN 2 * s{p}_{j} >= cnt THEN 1 ELSE 0 END) * {2 ** j}"
            for j in range(4))
        chars.append(f"substr('0123456789abcdef', ({nib}) + 1, 1)")
    return (f"WITH shingles AS ({{shingles}}), "
            "hs AS (SELECT doc_id, md5(shingle) AS h FROM shingles), "
            f"agg AS (SELECT doc_id, {', '.join(sums)} "
            "FROM hs GROUP BY doc_id) "
            f"SELECT doc_id, {' || '.join(chars)} AS simhash FROM agg")


_SIMHASH = _simhash_sql()

_BANDS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(sig{2*b} || '|' || sig{2*b+1}) AS bucket FROM sigs"
    for b in range(4))

ORACLE_SQL = {
    "c2_curify":
        "SELECT n_name, CASE "
        "WHEN iri LIKE 'http://example.com/nation/%' "
        "THEN 'exn:' || substr(iri, 27) "
        "WHEN iri LIKE 'http://example.com/%' "
        "THEN 'ex:' || substr(iri, 20) "
        "ELSE '<' || iri || '>' END AS curie FROM ("
        "SELECT n_name, 'http://example.com/nation/' || n_name AS iri "
        "FROM nation UNION ALL "
        "SELECT r_name AS n_name, 'urn:x/' || r_name AS iri FROM region)",
    "j6_curie_expand":
        "SELECT curie, CASE "
        "WHEN curie LIKE 'ex:%' "
        "THEN 'http://example.com/' || substr(curie, 4) "
        "WHEN curie LIKE 'owl:%' "
        "THEN 'http://www.w3.org/2002/07/owl#' || substr(curie, 5) "
        "WHEN curie LIKE 'rdf:%' "
        "THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#' "
        "|| substr(curie, 5) "
        "ELSE regexp_replace(curie, '^<(.*)>$', '\\1') END AS iri FROM ("
        "SELECT 'ex:nation/' || n_name AS curie FROM nation "
        "UNION ALL SELECT 'rdf:type' UNION ALL SELECT 'owl:Class' "
        "UNION ALL SELECT '<http://raw/x>')",
    "so5_state_replay":
        "SELECT graph, subject, predicate, object, datatype, annotation "
        "FROM (SELECT CAST(o_orderkey % 5 + 1 AS BIGINT) AS assertion, "
        "CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_orderkey % 5 + 3 "
        "ELSE 0 END AS BIGINT) AS retraction, "
        "'graph' AS graph, 'ex:o' || o_orderkey AS subject, "
        "'ex:status' AS predicate, o_orderstatus AS object, "
        "'xsd:string' AS datatype, CAST(NULL AS VARCHAR) AS annotation "
        "FROM orders) WHERE assertion <= 3 "
        "AND (retraction = 0 OR retraction > 3)",
    "c4_tsv_escape":
        "SELECT n_nationkey, "
        "replace(replace(replace('a' || chr(10) || n_name || chr(9) "
        "|| 'b' || chr(13), chr(10), '\\n'), chr(13), '\\r'), "
        "chr(9), '\\t') AS escaped FROM nation",
    "ann_near_dup":
        "WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings) "
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b "
        "FROM n a JOIN n b ON a.vec_id < b.vec_id "
        "WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4",
    "s3_scan_filter_project":
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
        "WHERE l_quantity < 5",
    "a1_group_collect":
        "SELECT l_orderkey, count(*) AS n_items, "
        "sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_orderkey",
    "a4_max_transaction":
        "SELECT max(event_id) AS max_assertion FROM events",
    "a5_distinct_sorted":
        "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "a8_get_type":
        "SELECT user_id, CASE WHEN count(DISTINCT event_type) = 1 "
        "THEN min(event_type) ELSE 'ambiguous' END AS rdf_type "
        "FROM events GROUP BY user_id",
    "j3_semi_join":
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer WHERE c_nationkey = 1)",
    "j4_anti_join":
        "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    "j5_prefix_longest_match":
        "SELECT d.doc_id, coalesce((SELECT v.prefix FROM (VALUES "
        "('s','src'),('s1','src1'),('s18','src18')) v(prefix, base) "
        "WHERE d.source LIKE v.base || '%' "
        "ORDER BY length(v.base) DESC, v.prefix LIMIT 1), "
        "'<' || d.source || '>') AS curie_prefix FROM documents d",
    "j8_entity_link_join":
        "SELECT o_orderkey, c_name AS entity FROM orders "
        "JOIN customer ON o_custkey = c_custkey",
    "so1_union_dedup":
        "SELECT user_id FROM events WHERE event_type = 'click' "
        "UNION SELECT user_id FROM events WHERE value > 10",
    "so4_symmetric_diff":
        "SELECT o_orderkey, 'added' AS side FROM "
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 3 > 0 "
        "EXCEPT ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 3 < 2)"
        " UNION ALL "
        "SELECT o_orderkey, 'deleted' AS side FROM "
        "(SELECT o_orderkey FROM orders WHERE o_orderkey % 3 < 2 "
        "EXCEPT ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 3 > 0)",
    "w4_rank_window":
        "SELECT o_custkey, o_orderkey, o_totalprice FROM "
        "(SELECT *, row_number() OVER (PARTITION BY o_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) "
        "WHERE rn = 1",
    "f7_statement_rows":
        "SELECT CAST(1 AS BIGINT) AS assertion, "
        "CAST(0 AS BIGINT) AS retraction, 'graph' AS graph, "
        "'ex:nation/' || n_name AS subject, "
        "'ex:inRegion' AS predicate, "
        "'ex:region/' || r_name AS object, '_IRI' AS datatype, "
        "CAST(NULL AS VARCHAR) AS annotation "
        "FROM nation JOIN region ON n_regionkey = r_regionkey",
    "tpch_q1":
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        f"sum({_CENTS_PRICE}) / 100.0 AS sum_base_price, "
        f"sum({_CENTS_REVENUE}) / 10000.0 AS sum_disc_price, "
        "avg(l_quantity) AS avg_qty, count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus",
    "tpch_q3":
        "SELECT o_orderkey, o_orderdate, "
        f"sum({_CENTS_REVENUE}) / 10000.0 AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-03-15' "
        "GROUP BY o_orderkey, o_orderdate",
    "tpch_q5":
        "SELECT n_name, "
        f"sum({_CENTS_REVENUE}) / 10000.0 AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' GROUP BY n_name",
    "tpch_q6":
        f"SELECT sum({_CENTS_PRICE} * "
        "CAST(round(l_discount * 100, 0) AS BIGINT)) / 10000.0 "
        "AS revenue FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-01-01' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 "
        "AND l_quantity < 24",
    "tpch_q12":
        # CAST: DuckDB's sum(int) is HUGEINT → float64 in pandas; Spark
        # returns bigint — identical values, different value-hash
        "SELECT o_orderstatus, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line "
        "FROM orders GROUP BY o_orderstatus",
    "tpch_q14":
        f"SELECT sum(CASE WHEN p_brand = 'Brand#1' THEN {_CENTS_REVENUE} "
        "ELSE 0 END) * 100.0 "
        f"/ sum({_CENTS_REVENUE}) AS promo_share "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1997-06-01'",
    "events_sessionize":
        "WITH flagged AS (SELECT user_id, event_id, ts, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 "
        "THEN 1 ELSE 0 END AS new_sess FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS (SELECT user_id, ts, "
        "sum(new_sess) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS session_id FROM flagged) "
        "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, "
        "CAST(count(*) AS BIGINT) AS n_events, "
        "min(ts) AS session_start "
        "FROM sess GROUP BY user_id, session_id",
    "events_hourly_window":
        "SELECT date_trunc('hour', ts) AS hour, event_type, "
        "count(*) AS n, "
        "sum(CAST(round(value * 10000, 0) AS BIGINT)) / 10000.0 "
        "AS sum_value FROM events GROUP BY 1, 2",
    "dedup_exact":
        "SELECT md5(text) AS h, min(doc_id) AS keep_id, "
        "count(*) AS dupes FROM documents GROUP BY md5(text)",
    "dedup_word_jaccard":
        f"WITH words AS ({_WORDS}), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM words "
        "GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "count(*) AS i FROM words a JOIN words b USING(word) "
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, i / (na.n + nb.n - i) AS jaccard "
        "FROM inter JOIN sizes na ON doc_a = na.doc_id "
        "JOIN sizes nb ON doc_b = nb.doc_id "
        "WHERE i / (na.n + nb.n - i) >= 0.95",
    "dedup_minhash_lsh":
        f"WITH shingles AS ({_SHINGLES}), "
        f"sigs AS (SELECT doc_id, {_SIG} FROM shingles GROUP BY doc_id), "
        f"bands AS ({_BANDS}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b USING(band, bucket) "
        "WHERE a.doc_id < b.doc_id",
    "dedup_simhash": _SIMHASH.format(shingles=_SHINGLES),
    "dedup_simhash_pairs":
        f"WITH sh AS ({_SIMHASH.format(shingles=_SHINGLES)}), "
        "bands AS (" + " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"substr(simhash, {b * 4 + 1}, 4) AS bucket FROM sh"
            for b in range(4)) + ") "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b USING(band, bucket) "
        "WHERE a.doc_id < b.doc_id",
    "text_token_count":
        "SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE "
        "length(string_split_regex(trim(text),'\\s+')) END "
        "AS n_tokens FROM documents",
    "text_quality":
        "SELECT doc_id, length(text) AS n_chars2, "
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) "
        "/ greatest(length(text), 1) AS punct_ratio, "
        + " + ".join(
            f"(length(text) - length(replace(text, ' {w} ', ''))) "
            f"// {len(w) + 2}" for w in
            ("the", "a", "of", "and", "to", "in")) +
        " AS stopword_hits, "
        "(length(text) >= 50 AND (" + " + ".join(
            f"(length(text) - length(replace(text, ' {w} ', ''))) "
            f"// {len(w) + 2}" for w in
            ("the", "a", "of", "and", "to", "in")) +
        ") > 0) AS quality FROM documents",
    "text_langid":
        "SELECT doc_id, CASE "
        "WHEN contains(text,'datos') OR contains(text,'consulta') "
        "OR contains(text,'fila') THEN 'es' "
        "WHEN contains(text,'表') OR contains(text,'行') "
        "OR contains(text,'数据') THEN 'zh' "
        "WHEN contains(text,'der') OR contains(text,'und') "
        "OR contains(text,'zeile') THEN 'de' "
        "ELSE 'en' END AS lang_pred FROM documents",
    "text_fingerprint":
        "SELECT doc_id, md5(regexp_replace(lower(trim(text)), "
        "'\\s+', ' ', 'g')) AS fp FROM documents",
    "text_token_bpe":
        "SELECT doc_id, length(regexp_extract_all(text, "
        "'[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens "
        "FROM documents",
    "text_term_stats":
        "WITH words AS (SELECT doc_id, w AS word FROM documents, "
        "unnest(string_split_regex(lower(trim(text)), '[^a-z0-9]+')) "
        "t(w) WHERE w <> ''), "
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM words "
        "GROUP BY doc_id, word HAVING count(*) >= 2), "
        "df AS (SELECT word, count(*) AS df FROM "
        "(SELECT DISTINCT doc_id, word FROM words) GROUP BY word) "
        "SELECT doc_id, tf.word AS word, CAST(tf AS BIGINT) AS tf, "
        "CAST(df AS BIGINT) AS df "
        "FROM tf JOIN df ON tf.word = df.word",
    "tpch_q4":
        "SELECT o_orderpriority, "
        "CAST(count(*) AS BIGINT) AS order_count FROM orders o "
        "WHERE o_orderdate >= TIMESTAMP '1996-07-01' "
        "AND o_orderdate < TIMESTAMP '1996-10-01' "
        "AND EXISTS (SELECT 1 FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R') "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
    "dedup_minhash_clusters":
        # min-label flood as a recursive CTE: seed every endpoint with
        # its own id, propagate a label along an edge only when it is
        # smaller than the target (downhill) — the component minimum
        # floods the whole component, min(label) per node extracts it
        f"WITH RECURSIVE shingles AS ({_SHINGLES}), "
        f"sigs AS (SELECT doc_id, {_SIG} FROM shingles GROUP BY doc_id), "
        f"bands AS ({_BANDS}), "
        "pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands a JOIN bands b USING(band, bucket) "
        "WHERE a.doc_id < b.doc_id), "
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "walk(node, label) AS ("
        "SELECT a, a FROM edges "
        "UNION SELECT e.b, w.label FROM walk w "
        "JOIN edges e ON e.a = w.node WHERE w.label < e.b) "
        "SELECT node AS doc_id, min(label) AS cluster "
        "FROM walk GROUP BY node",
    "dedup_boilerplate":
        "WITH w AS (SELECT doc_id, "
        "string_split_regex(trim(text), '\\s+') AS ws FROM documents), "
        "segs AS (SELECT doc_id, "
        "md5(array_to_string(ws[(i-1)*10+1:i*10], ' ')) AS h "
        "FROM w, unnest(range(1, CAST(ceil(len(ws)/10.0) AS INT) + 1)) "
        "AS t(i)), "
        "boiler AS (SELECT h FROM segs GROUP BY h "
        "HAVING count(DISTINCT doc_id) >= 3) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments, "
        "CAST(sum(CASE WHEN h IN (SELECT h FROM boiler) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate "
        "FROM segs GROUP BY doc_id",
    "tpch_q7":
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS l_year, "
        f"sum({_CENTS_REVENUE}) / 10000.0 AS volume "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
        "OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1') "
        "GROUP BY supp_nation, cust_nation, l_year",
    "tpch_q10":
        "SELECT c_custkey, c_name, c_acctbal, n_name, "
        f"sum({_CENTS_REVENUE}) / 10000.0 AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_orderdate >= TIMESTAMP '1996-07-01' "
        "AND o_orderdate < TIMESTAMP '1996-10-01' "
        "AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey LIMIT 20",
    "tpch_q19":
        f"SELECT sum({_CENTS_REVENUE}) / 10000.0 AS revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 "
        "AND l_quantity BETWEEN 1 AND 11) "
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 "
        "AND l_quantity BETWEEN 10 AND 20) "
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 "
        "AND l_quantity BETWEEN 20 AND 30)",
    "tpch_q2":
        "WITH cost AS (SELECT l_partkey AS partkey, "
        "l_suppkey AS suppkey, "
        "min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) "
        "AS cost_cents FROM lineitem GROUP BY l_partkey, l_suppkey) "
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, "
        "c.cost_cents / 100.0 AS supply_cost "
        "FROM part p JOIN cost c ON p.p_partkey = c.partkey "
        "JOIN supplier s ON c.suppkey = s.s_suppkey "
        "JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "WHERE p.p_type = 'SMALL' AND p.p_size < 10 "
        "AND c.cost_cents = (SELECT min(c2.cost_cents) FROM cost c2 "
        "WHERE c2.partkey = p.p_partkey) "
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey "
        "LIMIT 100",
    "tpch_q9":
        "SELECT n_name AS nation, "
        "CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year, "
        f"sum({_CENTS_REVENUE} "
        "- CAST(round(p_retailprice * 100, 0) AS BIGINT) "
        "* CAST(l_quantity AS BIGINT) * 100) / 10000.0 AS sum_profit "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        # GROUP BY the base columns: the alias `nation` would bind to
        # the joined nation TABLE in DuckDB, not the output column
        "WHERE p_name LIKE '%bolt%' GROUP BY n_name, o_year",
    "tpch_q18":
        "WITH big AS (SELECT l_orderkey, "
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty "
        "FROM lineitem GROUP BY l_orderkey "
        "HAVING sum(CAST(l_quantity AS BIGINT)) > 250) "
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, "
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) / 100.0 "
        "AS total_price, total_qty "
        "FROM big JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY total_price DESC, o_orderkey LIMIT 100",
    "so5_state_at_t": STATE_AT_T_ORACLE.format(t=2),
    "tpch_q13":
        "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM ("
        "SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count "
        "FROM customer LEFT JOIN ("
        "SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o "
        "ON c_custkey = o_custkey GROUP BY c_custkey) "
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC",
    "tpch_q16":
        "SELECT p_brand, p_type, p_size, "
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt "
        "FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) "
        "JOIN part ON l_partkey = p_partkey "
        "WHERE p_brand <> 'Brand#1' "
        "AND l_suppkey NOT IN "
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
        "GROUP BY p_brand, p_type, p_size "
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size",
    "tpch_q21":
        "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait "
        "FROM lineitem l1 "
        "JOIN supplier ON l1.l_suppkey = s_suppkey "
        "JOIN orders ON l1.l_orderkey = o_orderkey "
        "WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F' "
        "AND EXISTS (SELECT 1 FROM lineitem l2 "
        "WHERE l2.l_orderkey = l1.l_orderkey "
        "AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
        "WHERE l3.l_orderkey = l1.l_orderkey "
        "AND l3.l_suppkey <> l1.l_suppkey "
        "AND l3.l_returnflag = 'R') "
        "GROUP BY s_name ORDER BY numwait DESC, s_name",
    "tpch_q22":
        "WITH avg_bal AS (SELECT avg(CAST(round(c_acctbal * 100, 0) "
        "AS BIGINT)) AS avg_cents FROM customer WHERE c_acctbal > 0) "
        "SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust, "
        "sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) / 100.0 "
        "AS totacctbal "
        "FROM customer, avg_bal "
        "WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) > avg_cents "
        "AND NOT EXISTS (SELECT 1 FROM orders "
        "WHERE o_custkey = c_custkey "
        "AND o_orderpriority = '1-URGENT') "
        "GROUP BY c_nationkey ORDER BY c_nationkey",
    "events_session_window":
        # Spark session_window semantics: an event at exactly
        # prev + 30min starts a NEW session (half-open [start,
        # last+gap)), so the island break is >= not >; end = last
        # event + gap
        "WITH flagged AS (SELECT user_id, ts, event_id, CASE WHEN "
        "lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w >= "
        "INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess FROM events "
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS (SELECT user_id, ts, sum(new_sess) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) "
        "SELECT user_id, min(ts) AS session_start, "
        "max(ts) + INTERVAL 30 MINUTE AS session_end, "
        "CAST(count(*) AS BIGINT) AS n_events "
        "FROM sess GROUP BY user_id, sid",
    "text_winnow":
        "WITH kg AS (SELECT doc_id, i - 1 AS pos, "
        "md5(w[i] || ' ' || w[i+1]) AS h FROM "
        "(SELECT doc_id, string_split_regex(trim(text),'\\s+') AS w "
        "FROM documents), "
        "unnest(generate_series(1, greatest(len(w)-1, 1))) t(i) "
        "WHERE w[i+1] IS NOT NULL) "
        "SELECT DISTINCT doc_id, min(h) OVER "
        "(PARTITION BY doc_id ORDER BY pos "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp FROM kg",
    "ann_cosine_topk":
        "WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), "
        "q AS (SELECT * FROM n WHERE vec_id < 10) "
        "SELECT query_id, neighbor_id, rnk FROM ("
        "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "list_dot_product(n.v, q.v) / (n.nrm * q.nrm) DESC, n.vec_id) "
        "AS rnk FROM n, q WHERE n.vec_id <> q.vec_id) WHERE rnk <= 5",
    "kg_mention_extract":
        "SELECT doc_id, word AS entity, 'ex:mentions' AS predicate "
        "FROM documents JOIN (VALUES ('spark'),('join'),('filter'),"
        "('window')) v(word) ON contains(text, word)",
    "kg_mention_extract_join":
        "SELECT DISTINCT doc_id, w AS entity, "
        "'ex:mentions' AS predicate FROM documents, "
        "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) t(w) "
        "WHERE w IN ('spark','join','filter','window')",
    "diff_transactions":
        "WITH old AS (SELECT 'graph' AS graph, "
        "'ex:o' || o_orderkey AS subject, 'ex:status' AS predicate, "
        "'open' AS object, 'xsd:string' AS datatype, "
        "CAST(NULL AS VARCHAR) AS annotation FROM orders "
        "WHERE o_orderkey % 3 < 2), "
        "new AS (SELECT 'graph' AS graph, "
        "'ex:o' || o_orderkey AS subject, 'ex:status' AS predicate, "
        "'open' AS object, 'xsd:string' AS datatype, "
        "CAST(NULL AS VARCHAR) AS annotation FROM orders "
        "WHERE o_orderkey % 3 > 0) "
        "SELECT CAST(2 AS BIGINT) AS assertion, "
        "CAST(0 AS BIGINT) AS retraction, * FROM "
        "(SELECT * FROM new EXCEPT ALL SELECT * FROM old) "
        "UNION ALL "
        "SELECT CAST(0 AS BIGINT) AS assertion, "
        "CAST(2 AS BIGINT) AS retraction, * FROM "
        "(SELECT * FROM old EXCEPT ALL SELECT * FROM new)",
}

# Flagship KG-pipeline oracle: the single-node reference path
# (plans/single_node.py) frozen as a parquet fixture
# (tools/make_kg_fixture.py, n_docs=300 seed=42) — DuckDB reads it
# directly, giving the two non-SQL-expressible entries a real
# rows+schema+hash check. The round trip is lossless, so both queries
# share the fixture.
_KG_FIXTURE = Path(__file__).resolve().parent.parent / "tests" / \
    "fixtures" / "kg_oracle_statements.parquet"
_KG_ORACLE = ("SELECT assertion, retraction, graph, subject, predicate, "
              "object, datatype, annotation "
              f"FROM read_parquet('{_KG_FIXTURE}')")
ORACLE_SQL["kg_pipeline_statements"] = _KG_ORACLE
ORACLE_SQL["kg_roundtrip_reimport"] = _KG_ORACLE
_KG_FIXTURE_MEDIA = Path(__file__).resolve().parent.parent / "tests" / \
    "fixtures" / "kg_oracle_statements_media.parquet"
ORACLE_SQL["kg_pipeline_media"] = (
    "SELECT assertion, retraction, graph, subject, predicate, "
    "object, datatype, annotation "
    f"FROM read_parquet('{_KG_FIXTURE_MEDIA}')")


def _srp_bucket_sql(planes) -> str:
    """SQL bucket expression mirroring similarity.srp_bucket: one sign
    bit per hyperplane (integer planes → bit-identical doubles)."""
    bits = []
    for p in planes:
        lit = "[" + ",".join(str(c) for c in p) + "]"
        bits.append(f"CASE WHEN list_dot_product(v, {lit}) >= 0 "
                    "THEN '1' ELSE '0' END")
    return " || ".join(bits)


def _srp_oracles() -> dict[str, str]:
    from .operators.similarity import srp_plane_tables
    tables = srp_plane_tables()
    norm = ("SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
            "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings")
    bands = " UNION ALL ".join(
        f"SELECT vec_id, v, nrm, {t} AS tbl, "
        f"{_srp_bucket_sql(planes)} AS bucket FROM n"
        for t, planes in enumerate(tables))
    near_dup = (
        f"WITH n AS ({norm}), b AS ({bands}) "
        "SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b "
        "FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket "
        "AND a.vec_id < c.vec_id "
        "WHERE list_dot_product(a.v, c.v) / (a.nrm * c.nrm) >= 0.4")
    topk = (
        f"WITH n AS (SELECT *, {_srp_bucket_sql(tables[0])} AS bucket "
        f"FROM ({norm})), "
        "q AS (SELECT * FROM n WHERE vec_id < 10) "
        "SELECT query_id, neighbor_id, rnk FROM ("
        "SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "list_dot_product(n.v, q.v) / (n.nrm * q.nrm) DESC, n.vec_id) "
        "AS rnk FROM n JOIN q ON n.bucket = q.bucket "
        "WHERE n.vec_id <> q.vec_id) WHERE rnk <= 5")
    return {"ann_srp_near_dup": near_dup, "ann_lsh_topk": topk}


ORACLE_SQL.update(_srp_oracles())

_IVF_COS = "list_dot_product({a}.v, {b}.{bv}) / ({a}.nrm * {b}.{bn})"
ORACLE_SQL["ann_ivf_topk"] = (
    "WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
    "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[]))) AS nrm FROM embeddings), "
    "c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm "
    "FROM n ORDER BY vec_id LIMIT 16), "
    "assigned AS (SELECT vec_id, v, nrm, cent_id FROM ("
    "SELECT n.vec_id, n.v, n.nrm, c.cent_id, "
    "row_number() OVER (PARTITION BY n.vec_id ORDER BY "
    + _IVF_COS.format(a="n", b="c", bv="cv", bn="cnrm")
    + " DESC, c.cent_id) AS crnk FROM n, c) WHERE crnk = 1), "
    "q AS (SELECT * FROM n WHERE vec_id < 10), "
    "probes AS (SELECT query_id, qv, qnrm, cent_id FROM ("
    "SELECT q.vec_id AS query_id, q.v AS qv, q.nrm AS qnrm, c.cent_id, "
    "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
    + _IVF_COS.format(a="q", b="c", bv="cv", bn="cnrm")
    + " DESC, c.cent_id) AS crnk FROM q, c) WHERE crnk <= 2) "
    "SELECT query_id, neighbor_id, rnk FROM ("
    "SELECT p.query_id, a.vec_id AS neighbor_id, "
    "row_number() OVER (PARTITION BY p.query_id ORDER BY "
    "list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm) "
    "DESC, a.vec_id) AS rnk "
    "FROM assigned a JOIN probes p ON a.cent_id = p.cent_id "
    "WHERE a.vec_id <> p.query_id) WHERE rnk <= 5")


def _hex_byte(h: str, k: int) -> str:
    """SQL int value of byte k of hex string expr ``h`` (nibble strpos
    arithmetic — same trick as the SimHash oracle)."""
    return (f"(16*(strpos('0123456789abcdef', substr({h},{2*k+1},1))-1)"
            f" + strpos('0123456789abcdef', substr({h},{2*k+2},1))-1)")


def _mm_oracles() -> dict[str, str]:
    media = ("SELECT 'media://doc/' || doc_id AS media_ref, "
             "repeat(md5(text), 8) AS payload, "
             "sha256('media://doc/' || doc_id) AS refsha "
             "FROM documents")
    fmts = "', '".join(_MM_FORMATS)
    fmt = (f"['{fmts}'][({_hex_byte('refsha', 0)}) % 4 + 1]")
    feature_sig = " || '-' || ".join(
        _hex_byte("sha256(payload)", k) for k in range(16))
    decode = (f"WITH m AS ({media}) "
              f"SELECT media_ref, {fmt} AS format, "
              f"{feature_sig} AS feature_sig FROM m")
    frames = (f"WITH m AS ({media}), "
              f"n AS (SELECT media_ref, payload, "
              f"({_hex_byte('refsha', 4)}) % 8 + 1 AS nf FROM m) "
              "SELECT media_ref, CAST(i AS INT) AS frame_idx, "
              "substr(payload, CAST(i AS INT)*(256//nf) + 1, 256//nf) "
              "AS frame_str "
              "FROM n, unnest(generate_series(0, nf-1, 2)) t(i)")
    return {"mm_decode_features": decode, "mm_frame_sample": frames}


ORACLE_SQL.update(_mm_oracles())
