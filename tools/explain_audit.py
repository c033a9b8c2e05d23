"""Physical-plan audit → PLANS.md.

For the headline queries and the flagship pipeline at sf0.01, and a few
stages in isolation: operator counts in AQE's final plans (read through
``ldtab_clj_spark.plans.executed``) and the pushdown into parquet scans.
"""

from __future__ import annotations

import re
import sys
import tempfile
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ldtab_clj_spark import queries as q  # noqa: E402
from ldtab_clj_spark.plans.executed import executed  # noqa: E402
from ldtab_clj_spark.session import get_spark  # noqa: E402

AUDIT = ["s3_scan_filter_project", "tpch_q1", "tpch_q3", "tpch_q4",
         "tpch_q5", "j3_semi_join", "j4_anti_join", "j5_prefix_longest_match",
         "j8_entity_link_join", "f7_statement_rows",
         "a1_group_collect", "w4_rank_window", "dedup_exact",
         "dedup_minhash_lsh", "dedup_simhash", "dedup_simhash_pairs",
         "tpch_q7", "tpch_q10", "tpch_q14", "tpch_q19",
         "tpch_q2", "tpch_q9", "tpch_q18",
         "tpch_q13", "tpch_q16", "tpch_q21", "tpch_q22",
         "ann_cosine_topk", "ann_srp_near_dup", "ann_ivf_topk",
         "kg_mention_extract", "kg_mention_extract_join",
         "mm_decode_features",
         "so4_symmetric_diff", "events_sessionize",
         "events_session_window", "text_term_stats",
         "dedup_boilerplate",
         "kg_pipeline_statements", "kg_pipeline_media"]

MARKS = ["BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
         "BroadcastNestedLoopJoin", "HashAggregate", "ObjectHashAggregate",
         "SortAggregate", "Exchange", "AQEShuffleRead", "ArrowEvalPython",
         "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "Window",
         "Generate"]


def op_counts(run) -> dict[str, int]:
    """Operator counts over the final plans an action ran (node names,
    a reused exchange once per reader, as a plan string lists it)."""
    counts = Counter(n.name for n in run.nodes())
    return {m: counts[m] for m in MARKS if counts[m]}


def entry(title: str, counts: dict[str, int], notes: list[str]) -> str:
    return (f"## {title}\noperators: "
            + ", ".join(f"{k}×{v}" for k, v in sorted(counts.items()))
            + "\n" + "".join(f"- {n}\n" for n in notes) + "\n")


def ivf_assignment_stage(spark, sf: str) -> str:
    """IVF assignment in isolation: a round-2 finding was a 16×-expanded
    Window+Sort here. The collected centroids are scored per Arrow
    batch in one MapInArrow, so assignment is a pure map over the
    corpus scan (the full ann_ivf_topk plan keeps Windows for its
    probe/top-k ranking)."""
    from ldtab_clj_spark.operators.similarity import (_assign_to_centroids,
                                                      _minid_centroids,
                                                      with_norm)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    corpus = with_norm(emb).select("vec_id", "_v", "_norm")
    assigned = _assign_to_centroids(corpus, _minid_centroids(emb, 16))
    counts = op_counts(executed(spark, assigned.collect))
    for m in ("Window", "SortAggregate", "HashAggregate", "Exchange"):
        assert m not in counts, \
            f"IVF assignment regressed: {m} in the assignment stage"
    return entry("ivf_assignment_stage (isolated)", counts, [
        "pure map: collected centroids scored per Arrow batch in one "
        "MapInArrow over the scan; no join/aggregate/shuffle/sort in "
        "the assignment stage"])


def kg_python_stages(spark) -> list[str]:
    """kg stanza and export stages in isolation, executed on 200 docs.
    Each is ONE MapInArrow (one Python worker per task) behind ONE
    exchange, and no AQEShuffleRead coalesces its pinned shuffle in the
    final plan (``tests/test_export.py`` asserts it over a checkpoint
    input). The export runs as the CLI runs it: dedup-on-read over a
    written table, whose ``subject`` exchange the export reuses (a
    checkpoint would forget that layout and plan a second one)."""
    from ldtab_clj_spark.operators import export, extract, link, stanza
    from ldtab_clj_spark.operators.materialize import (dedup_statements,
                                                       write_statements)
    from ldtab_clj_spark.plans.pipeline import build_statements
    from ldtab_clj_spark.synth import entity_dictionary, synth_docs
    docs, ents = synth_docs(spark, 200, seed=5), entity_dictionary(spark)
    linked = link.link_entities(extract.extract_thin_triples(docs), ents)
    prefix = spark.createDataFrame([("ex", "http://example.com/")],
                                   "prefix string, base string")
    with tempfile.TemporaryDirectory() as tmp:
        table = f"{tmp}/statement"
        write_statements(build_statements(docs, ents), table)
        stmts = dedup_statements(spark.read.parquet(table))
        return [entry(f"kg_{name}_stage (isolated, executed)",
                      op_counts(executed(spark, df.collect)),
                      [f"{df.rdd.getNumPartitions()} tasks"])
                for name, df in [
                    ("stanza",
                     stanza.thin_to_thick_df(linked.localCheckpoint())),
                    ("export_ntriples",
                     export.to_ntriples_lines(stmts, prefix)),
                    ("export_turtle", export.to_turtle_lines(stmts, prefix))]]


def main() -> None:
    spark = get_spark("explain-audit", master="local[4]",
                      shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    sf = "/root/testdata/sf0.01"
    out = ["# PLANS — physical-plan audit\n",
           "Generated by tools/explain_audit.py. For each headline "
           "query: operator counts from the executed plan plus pushdown "
           "evidence. `Exchange` = shuffle boundary.\n"]
    for name in AUDIT:
        run = executed(spark, q.ALL_QUERIES[name](spark, sf).collect)
        plan = "\n".join(n.desc for n in run.nodes())
        # single-line match: Spark truncates long filter lists mid-line
        # (no closing bracket)
        pushed = re.findall(r"PushedFilters: \[[^\]\n]*\]?", plan)
        schemas = re.findall(r"ReadSchema: struct<[^>]{0,90}", plan)
        out.append(entry(name, op_counts(run),
                         [f"`{pf}`" for pf in sorted(set(pushed))[:3]]
                         + [f"`{rs}...`" for rs in sorted(set(schemas))[:3]]))
    out.append(ivf_assignment_stage(spark, sf))
    out += kg_python_stages(spark)
    Path("PLANS.md").write_text("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
