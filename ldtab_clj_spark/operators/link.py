"""Stage 2 — entity linking (SURVEY.md J8; north-star requirement, no
reference analog).

Resolves ``surface:<form>`` placeholders in the thin-triple subject and
object columns against a candidate dictionary:

* candidate *scoring*: argmax score per surface (``max_by``, one
  map-side-combinable aggregation);
* while the tail dictionary fits (`BROADCAST_TAIL_MAX_ROWS`), head ∪
  tail resolve in ONE broadcast probe per column — zero shuffle;
* above that cap, **head** surfaces (hot, Zipf-favored) resolve via a
  broadcast hash join — zero shuffle for the skewed mass — and
  **tail** surfaces via a salted shuffle join: the mention side
  carries a deterministic salt, the dictionary side is exploded
  ×SALT, so residual hot keys split across SALT reducers (plus AQE
  skew-join as backstop), and non-mention rows carry a wide-range
  salt so null keys never pile on one reducer.

Single-pass plan shape: every resolution is a LEFT join on the whole
DataFrame (null join keys for non-mentions simply don't match), never a
filter/union split — the upstream extraction is consumed exactly once,
which matters enormously when upstream is a 100 TB scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT = 16

# Tail dictionaries at or below this row count (pre-salt) resolve via
# an explicit broadcast join instead of the salted shuffle join. A
# curated entity dictionary is typically 1e5-1e7 surfaces — a few
# hundred MB broadcast at most — while the fact side is the 100 TB
# scan; broadcasting the dict removes a full shuffle of EVERY thin
# row per resolved column. Above the cap (web-extracted dictionaries
# can exceed 1e8) the salted shuffle join takes over. The explicit
# guard exists because leaving the choice to AQE's runtime replan
# proved nondeterministic at the threshold boundary: at 2M docs the
# 1-core leg converted to broadcast while the 4-core leg kept the
# shuffle, a ~94 s/leg plan asymmetry that polluted the scaling ratio
# (BENCH/stage_decompose.jsonl, round 5).
BROADCAST_TAIL_MAX_ROWS = 2_000_000


def unlinked(surface_col):
    """Unresolvable mentions keep their surface form in a typed IRI —
    collapsing them to one constant node would merge distinct unknown
    entities and fabricate edges between them."""
    return F.concat(F.lit("<unlinked:"), surface_col, F.lit(">"))


def score_candidates(entity_dict: DataFrame) -> DataFrame:
    """Candidate table → one winning entity per surface (+head flag)."""
    # tiebreak on entity id: max_by over bare score is nondeterministic
    # under ties (partitioning-dependent), which would break run-to-run
    # reproducibility of every downstream content hash
    return entity_dict.groupBy("surface").agg(
        F.max_by("entity", F.struct("score", "entity")).alias("entity"),
        F.max("is_head").alias("is_head"),
    )


def _resolve_column(df: DataFrame, col: str, head: DataFrame,
                    tail: DataFrame, guard,
                    broadcast_tail: bool = False) -> DataFrame:
    """Resolve surface placeholders in one column: one broadcast left
    join over head ∪ tail when ``broadcast_tail``, else a broadcast
    head join then a salted shuffle tail join; non-mention rows ride
    along with null keys."""
    is_mention = guard & F.col(col).startswith("surface:")
    df = df.withColumn(
        "_surf", F.when(is_mention, F.substring(F.col(col), 9, 100000)))

    if broadcast_tail:
        # small dict: ONE broadcast join over head ∪ tail (disjoint by
        # surface, so the combined probe resolves exactly what the two
        # separate probes did). The head/tail split only pays for
        # itself when the tail must shuffle — with both sides
        # broadcast, two hash probes per column were pure overhead
        # (measured: two of the pipeline's four link joins removed).
        # No salt needed (skew is a shuffle phenomenon), and the fact
        # side never leaves its stage.
        all_k = head.unionByName(tail).select(
            F.col("surface").alias("_surf"),
            F.col("entity").alias("_head_ent"))
        df = df.join(F.broadcast(all_k), on="_surf", how="left")
        return _finish_column(df, col)

    head_k = head.select(F.col("surface").alias("_surf"),
                         F.col("entity").alias("_head_ent"))
    df = df.join(F.broadcast(head_k), on="_surf", how="left")

    tail_k = tail.select(F.col("surface").alias("_surf"),
                         F.col("entity").alias("_tail_ent"))

    # big dict: salted shuffle join. Mention rows get a salt in
    # [0, SALT) matching the exploded dictionary; NON-mention rows get
    # a wide-range salt too — with a constant (null, null) key the
    # ~90% of rows that are not tail mentions would all hash to ONE
    # reducer of the (_surf, _salt) exchange, a guaranteed straggler
    # at scale. A wide arbitrary salt spreads them evenly; they still
    # match nothing (tail_k has non-null surfaces only).
    df = df.withColumn(
        "_salt",
        F.when(F.col("_surf").isNotNull() & F.col("_head_ent").isNull(),
               F.pmod(F.xxhash64("doc_id", "span_order", col),
                      F.lit(SALT)).cast("int"))
        .otherwise(F.pmod(F.xxhash64("doc_id", "span_order"),
                          F.lit(1 << 16)).cast("int")))
    tail_salted = tail_k.withColumn("_salt", F.explode(
        F.array(*[F.lit(i) for i in range(SALT)])))
    df = df.join(tail_salted, on=["_surf", "_salt"], how="left")
    return _finish_column(df, col)


def _finish_column(df: DataFrame, col: str) -> DataFrame:
    """Fold the join results back into ``col`` and drop the work
    columns (``_salt``/``_tail_ent`` are absent on the broadcast path;
    drop ignores missing names)."""
    ents = [F.col(c) for c in ("_head_ent", "_tail_ent")
            if c in df.columns]
    resolved = F.when(F.col("_surf").isNull(), F.col(col)) \
        .otherwise(F.coalesce(*ents, unlinked(F.col("_surf"))))
    return (df.withColumn(col, resolved)
            .drop("_surf", "_salt", "_head_ent", "_tail_ent"))


def link_entities(thin: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Resolve subject and object mention placeholders to entity IRIs."""
    # materialize the (tiny) scored dictionary once — it feeds four
    # join builds, and recomputing the driver-side createDataFrame +
    # scoring shuffle per build is pure serial time
    winners = score_candidates(entity_dict).localCheckpoint()
    head = winners.filter("is_head").select("surface", "entity")
    tail = winners.filter("NOT is_head").select("surface", "entity")
    # the count is ~free (winners is already materialized) and buys a
    # DETERMINISTIC plan: both scaling legs take the same join
    # strategy instead of straddling AQE's runtime-replan threshold
    bcast = tail.count() <= BROADCAST_TAIL_MAX_ROWS
    out = _resolve_column(thin, "subject", head, tail, F.lit(True),
                          broadcast_tail=bcast)
    # objects: only IRI-slot mentions (literal lexical forms that happen
    # to look like surfaces must stay literal)
    out = _resolve_column(out, "object", head, tail,
                          F.col("datatype") == "_IRI",
                          broadcast_tail=bcast)
    return out
