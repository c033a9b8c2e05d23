"""End-to-end KG-construction pipeline (the north-star dataflow):

docs → extract (mapInPandas) → link (broadcast + salted join) →
thin→thick (applyInPandas per doc) → dedup → materialize.

Each stage is DataFrame→DataFrame; `run_pipeline` optionally
checkpoints stage boundaries to parquet with lineage sidecars so any
stage resumes idempotently (BASELINE.json north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_thin_triples
from ..operators.link import link_entities
from ..operators.materialize import dedup_statements, write_statements
from ..operators.stanza import thin_to_thick_df
from ..synth import entity_dictionary, synth_docs


def build_statements(docs: DataFrame, entity_dict: DataFrame,
                     include_media: bool = False,
                     media: DataFrame | None = None,
                     partitions: int | None = None) -> DataFrame:
    """The lazy end-to-end plan (no action triggered).

    ``include_media=True`` adds the multimodal stage: decode/feature
    the media table (``media``, or the deterministic synth stand-in
    derived from the docs' media spans) and union the resulting
    ex:featureHash statements into the graph before dedup — media
    nodes become first-class KG subjects. The media table shuffles on
    media_ref only (blobs never ride through the statement joins).

    ``partitions`` pins the doc_id shuffle width of the stanza stage
    (REPARTITION_BY_NUM — exempt from AQE coalescing). Without it,
    AQE's byte-size coalescing (min(64MB advisory, total/parallelism))
    shrinks the dominant Python stage to a handful of tasks as volume
    grows — at 2M docs the 270MB shuffle coalesces to 5 tasks, and 5
    tasks on 4 cores is a two-round makespan (measured: the whole
    0.73-vs-0.82 volume-scaling erosion; round-5 stage decomposition
    in BENCH/BASELINE.md).
    Callers that know their parallelism should always pass it."""
    thin = extract_thin_triples(docs)
    linked = link_entities(thin, entity_dict)
    thick = thin_to_thick_df(linked, partitions=partitions)
    if include_media:
        from ..operators.multimodal import (decode_media,
                                            media_feature_statements,
                                            synth_media)
        if media is None:
            media = synth_media(docs.sparkSession, docs)
        thick = thick.unionByName(
            media_feature_statements(decode_media(media)))
    return dedup_statements(thick)


def reimport(statements: DataFrame) -> DataFrame:
    """Round trip: statement table → thin expansion → re-import.

    The distributed analog of the reference's export→import round trip
    (its correctness oracle, Makefile test target): output must match
    the input statement set at P/R ≥ 0.95."""
    from ..operators.export import expand_df
    from ..operators.materialize import dedup_statements
    from ..operators.stanza import thin_to_thick_df
    return dedup_statements(thin_to_thick_df(expand_df(statements)))


def run_pipeline(spark: SparkSession, n_docs: int = 1000, seed: int = 42,
                 out_path: str | None = None,
                 partitions: int | None = None,
                 include_media: bool = False) -> DataFrame:
    """Synthesize docs, run the full pipeline; write+lineage if
    ``out_path`` given."""
    docs = synth_docs(spark, n_docs, seed=seed, partitions=partitions)
    statements = build_statements(docs, entity_dictionary(spark),
                                  include_media=include_media,
                                  partitions=partitions)
    if out_path:
        write_statements(statements, out_path, partitions=partitions)
        return spark.read.parquet(out_path)
    return statements
