"""Stage 2 — entity linking (SURVEY.md J8; north-star requirement, no
reference analog).

Resolves ``surface:<form>`` placeholders in the thin-triple subject and
object columns against a candidate dictionary:

* candidate *scoring*: argmax score per surface (``max_by``, one
  map-side-combinable aggregation);
* while the tail dictionary fits (`BROADCAST_TAIL_MAX_ROWS`), the
  whole scored dictionary resolves in ONE broadcast probe per
  column — zero shuffle;
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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

SALT = 16

# Tail dictionaries at or below this row count (pre-salt) resolve via
# an explicit broadcast join instead of the salted shuffle join. A
# curated entity dictionary (1e5-1e7 surfaces) broadcasts in a few
# hundred MB at most, which saves a shuffle of EVERY thin row per
# resolved column; above the cap (web-extracted dictionaries can
# exceed 1e8) the salted join takes over. The guard is explicit
# because AQE's runtime replan was nondeterministic at the boundary:
# at 2M docs the 1-core leg broadcast while the 4-core leg shuffled,
# ~94 s/leg apart (BENCH/BASELINE.md).
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


def _keys(winners: DataFrame, ent) -> DataFrame:
    return winners.select(F.col("surface").alias("_surf"), ent)


def _resolve_column(df: DataFrame, col: str, winners: DataFrame, guard,
                    broadcast_tail: bool) -> DataFrame:
    """Resolve surface placeholders in one column: one broadcast left
    join over ``winners`` when ``broadcast_tail``, else a broadcast
    head join then a salted shuffle tail join; non-mention rows ride
    along with null keys."""
    is_mention = guard & F.col(col).startswith("surface:")
    df = df.withColumn(
        "_surf", F.when(is_mention, F.substring(F.col(col), 9, 100000)))

    if broadcast_tail:
        # small dict: ONE broadcast probe of all winners (a head/tail
        # split pays only when the tail shuffles); no salt, and the
        # fact side never leaves its stage. A surface whose is_head is
        # null is neither head nor tail: it stays unlinked. The hint is
        # sized by the observed tail (link_entities' gate).
        ent = F.when(F.col("is_head").isNotNull(), F.col("entity"))
        df = df.join(F.broadcast(_keys(winners, ent.alias("_ent"))),
                     on="_surf", how="left")
        return _finish_column(df, col, "_ent")

    # the head is the hot fraction of the dictionary: broadcast it
    # whatever the tail size the gate observed
    head_k = _keys(winners.filter("is_head"),
                   F.col("entity").alias("_head_ent"))
    df = df.join(F.broadcast(head_k), on="_surf", how="left")

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
    tail_salted = _keys(winners.filter("NOT is_head"),
                        F.col("entity").alias("_tail_ent")).withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(SALT)])))
    df = df.join(tail_salted, on=["_surf", "_salt"], how="left") \
        .drop("_salt")
    return _finish_column(df, col, "_head_ent", "_tail_ent")


def _finish_column(df: DataFrame, col: str, *ents: str) -> DataFrame:
    """Fold the join results ``ents`` back into ``col`` and drop the
    work columns."""
    resolved = F.when(F.col("_surf").isNull(), F.col(col)).otherwise(
        F.coalesce(*map(F.col, ents), unlinked(F.col("_surf"))))
    return df.withColumn(col, resolved).drop("_surf", *ents)


def link_entities(thin: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Resolve subject and object mention placeholders to entity IRIs.

    Building the plan runs only the checkpoint of the (tiny) scored
    dictionary that feeds every join build. Its tail size, observed on
    that checkpoint, picks the join strategy: a deterministic plan."""
    obs = Observation()
    winners = (score_candidates(entity_dict)
               .observe(obs, F.count_if(~F.col("is_head")).alias("tail"))
               .localCheckpoint())
    bcast = obs.get["tail"] <= BROADCAST_TAIL_MAX_ROWS
    out = _resolve_column(thin, "subject", winners, F.lit(True), bcast)
    # objects: only IRI-slot mentions (literal lexical forms that happen
    # to look like surfaces must stay literal)
    return _resolve_column(out, "object", winners,
                           F.col("datatype") == "_IRI", bcast)
