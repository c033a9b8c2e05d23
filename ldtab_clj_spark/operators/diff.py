"""Transaction diff / history (SURVEY.md R12, J7, SO4-SO5).

Reference: /root/reference/src/ldtab/diff.clj — sorted symmetric diff
of current state vs a new statement set; additions get the new
transaction id, deletions become retraction rows; state-at-T replay.

Spark realization: one counted union + aggregate computes both
directions of the multiset diff (``diff_statements``) — no driver-side
loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CONTENT_COLS = ["graph", "subject", "predicate", "object", "datatype",
                "annotation"]


def current_state(statements: DataFrame,
                  at_transaction: int | None = None) -> DataFrame:
    """Replay to the live set (diff.clj:151-164): rows asserted at or
    before T and not retracted at or before T (retraction=0 = never)."""
    df = statements
    if at_transaction is not None:
        df = df.filter(F.col("assertion") <= at_transaction)
        return df.filter((F.col("retraction") == 0)
                         | (F.col("retraction") > at_transaction)) \
                 .select(*CONTENT_COLS)
    return df.filter(F.col("retraction") == 0).select(*CONTENT_COLS)


def diff_statements(old: DataFrame, new: DataFrame,
                    transaction_id: int) -> DataFrame:
    """Symmetric diff → history rows (diff.clj:18-47,82-93):
    additions carry assertion=T, retractions keep content with
    retraction=T. Input: content-column DataFrames.

    One counted pass instead of two ``exceptAll``s: Spark expands each
    exceptAll into its own union + count aggregate + replicate-
    generate, so the former shape scanned both inputs twice and
    shuffled twice. Tagging new rows +1 / old rows −1 and summing per
    content row computes both directions of the multiset diff in a
    single union + aggregate: a positive delta is that many additions
    (new EXCEPT ALL old keeps max(n_new − n_old, 0) copies), a
    negative delta that many retractions. Equivalence incl. duplicate
    and null-annotation rows is pinned by
    tests/test_thick.py::test_diff_statements_matches_exceptall."""
    tagged = (new.select(*CONTENT_COLS).withColumn("_w", F.lit(1))
              .unionByName(old.select(*CONTENT_COLS)
                           .withColumn("_w", F.lit(-1))))
    delta = (tagged.groupBy(*CONTENT_COLS)
             .agg(F.sum("_w").alias("_d"))
             .filter(F.col("_d") != 0))
    rep = delta.select(
        *CONTENT_COLS, "_d",
        F.explode(F.sequence(F.lit(1), F.abs(F.col("_d")))).alias("_i"))
    tid = F.lit(transaction_id).cast("long")
    zero = F.lit(0).cast("long")
    cols = ["assertion", "retraction", *CONTENT_COLS]
    return (rep.withColumn("assertion",
                           F.when(F.col("_d") > 0, tid).otherwise(zero))
            .withColumn("retraction",
                        F.when(F.col("_d") > 0, zero).otherwise(tid))
            .select(*cols))


def _null_safe_on(left: DataFrame, right: DataFrame, cols: list[str]):
    """Join condition with null-safe equality — `annotation` is
    nullable, and plain column equality would silently never match
    bare rows (NULL != NULL in SQL)."""
    cond = None
    for c in cols:
        e = left[c].eqNullSafe(right[c])
        cond = e if cond is None else cond & e
    return cond


def apply_diff(statements: DataFrame, old: DataFrame, new: DataFrame,
               transaction_id: int) -> DataFrame:
    """Append-only history update (diff.clj:211-224): mark retracted
    rows, append additions."""
    d = diff_statements(old, new, transaction_id)
    retracted_keys = (d.filter(F.col("retraction") > 0)
                      .select(*CONTENT_COLS).alias("rk"))
    # only LIVE rows can be retracted — historical rows (retraction>0)
    # must keep their original retraction ids or state replay at past
    # transactions reports wrong sets
    historical = statements.filter(F.col("retraction") > 0)
    live = statements.filter(F.col("retraction") == 0).alias("st")
    cond = _null_safe_on(live, retracted_keys, CONTENT_COLS)
    still_live = live.join(retracted_keys, cond, "left_anti")
    marked = (live.join(retracted_keys, cond, "left_semi")
              .withColumn("retraction",
                          F.lit(transaction_id).cast("long")))
    still_live = still_live.unionByName(
        historical.select(*still_live.columns))
    additions = d.filter(F.col("assertion") == transaction_id)
    cols = ["assertion", "retraction", *CONTENT_COLS]
    return (still_live.select(*cols)
            .unionByName(marked.select(*cols))
            .unionByName(additions.select(*cols)))
