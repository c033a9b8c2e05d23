"""The Python-stage width rule (operators/parallel.py): every Python
stage runs one task per core, and AQE cannot coalesce a pinned stage
back to one task."""

import pytest

from ldtab_clj_spark.operators import parallel
from ldtab_clj_spark.operators.export import (expand_df, to_ntriples_lines,
                                              to_turtle_lines)
from ldtab_clj_spark.operators.extract import extract_thin_triples
from ldtab_clj_spark.operators.link import link_entities
from ldtab_clj_spark.operators.stanza import thin_to_thick_df
from ldtab_clj_spark.plans.executed import executed
from ldtab_clj_spark.plans.pipeline import build_statements
from ldtab_clj_spark.synth import entity_dictionary, synth_docs


@pytest.fixture(scope="module")
def tiny(spark):
    """A few docs: AQE's byte-size coalescing alone makes every
    shuffle over them one task."""
    docs = synth_docs(spark, 12, seed=5)
    linked = link_entities(extract_thin_triples(docs),
                           entity_dictionary(spark)).localCheckpoint()
    statements = build_statements(docs, entity_dictionary(spark)) \
        .localCheckpoint()
    prefix = spark.createDataFrame([("ex", "http://example.com/")],
                                   "prefix string, base string")
    return linked, statements, prefix


def test_stanza_and_export_run_one_task_per_core(spark, tiny):
    linked, statements, prefix = tiny
    cores = spark.sparkContext.defaultParallelism
    stages = {
        "stanza": thin_to_thick_df(linked),
        "expand": expand_df(statements),
        "ntriples": to_ntriples_lines(statements, prefix),
        "turtle": to_turtle_lines(statements, prefix),
    }
    # .rdd runs the stages below and returns the post-AQE partitions
    assert {k: df.rdd.getNumPartitions() for k, df in stages.items()} \
        == {k: cores for k in stages}


def test_unkeyed_width_leaves_a_wide_scan_alone(spark):
    cores = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, numPartitions=1)
    wide = spark.range(0, 100, numPartitions=cores + 3)
    assert parallel.python_partitions(narrow).rdd.getNumPartitions() \
        == cores
    assert parallel.python_partitions(wide) is wide


def test_unkeyed_width_runs_nothing_over_a_shuffle(spark):
    # counting a shuffled plan's partitions under AQE would run the
    # stages below it: such a plan is widened without counting
    shuffled = spark.range(0, 100, numPartitions=1).repartition(9, "id")
    run = executed(spark, lambda: parallel.python_partitions(shuffled))
    assert run.jobs == []
    assert run.result.rdd.getNumPartitions() == spark.sparkContext \
        .defaultParallelism
