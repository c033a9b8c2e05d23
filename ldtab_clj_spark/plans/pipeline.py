"""End-to-end KG-construction pipeline (the north-star dataflow):

docs → extract (mapInArrow) → link (broadcast + salted join) →
thin→thick (mapInArrow over doc runs) → dedup → materialize.

Every RDF reader ends in `rdf_statements`: closure → thin→thick → dedup.

Each stage is DataFrame→DataFrame. Building `build_statements` runs
only link's checkpoint of the scored dictionary; the rest stays lazy.
Writing the result with its lineage sidecar is the caller's step
(`operators.materialize.write_statements`, as the CLI's import does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.components import assign_components
from ..operators.extract import extract_thin_triples
from ..operators.link import link_entities
from ..operators.materialize import dedup_statements
from ..operators.stanza import thin_to_thick_df
from ..synth import entity_dictionary, synth_docs


def build_statements(docs: DataFrame, entity_dict: DataFrame,
                     include_media: bool = False) -> DataFrame:
    """The end-to-end plan. Building it runs only link's checkpoint of
    the scored dictionary; the statements themselves stay lazy.

    ``include_media=True`` adds the multimodal stage: decode/feature
    the deterministic synth media table derived from the docs' media
    spans and union the resulting ex:featureHash statements into the
    graph before dedup — media nodes become first-class KG subjects.
    The media table shuffles on media_ref only (blobs never ride
    through the statement joins)."""
    thin = extract_thin_triples(docs)
    linked = link_entities(thin, entity_dict)
    thick = thin_to_thick_df(linked)
    if include_media:
        from ..operators.multimodal import (decode_media,
                                            media_feature_statements,
                                            synth_media)
        media = synth_media(docs.sparkSession, docs)
        thick = thick.unionByName(
            media_feature_statements(decode_media(media)))
    return dedup_statements(thick)


def rdf_statements(thin: DataFrame) -> DataFrame:
    """Parsed RDF thin triples (doc_id empty) → the statement table:
    blank-node closure, stanza assembly, dedup. Every RDF reader ends
    here; building it runs the closure's jobs (operators/components)."""
    return dedup_statements(thin_to_thick_df(assign_components(thin)))


def reimport(statements: DataFrame) -> DataFrame:
    """Round trip: statement table → thin expansion → re-import.

    The distributed analog of the reference's export→import round trip
    (its correctness oracle, Makefile test target): output must match
    the input statement set at P/R ≥ 0.95."""
    from ..operators.export import expand_df
    return dedup_statements(thin_to_thick_df(expand_df(statements)))


def run_pipeline(spark: SparkSession, n_docs: int = 1000, seed: int = 42,
                 include_media: bool = False) -> DataFrame:
    """Synthesize docs and return the lazy statement plan over them."""
    docs = synth_docs(spark, n_docs, seed=seed)
    return build_statements(docs, entity_dictionary(spark),
                            include_media=include_media)
