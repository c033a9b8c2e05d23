"""Streaming import (§2.9): micro-batched docs → statement table, with
cross-batch superfluous-annotation semantics applied on read, compared
against the batch pipeline on the same corpus."""

from pyspark.sql import Window, functions as F

from kg_helpers import prefix_table
from ldtab_clj_spark.plans.pipeline import build_statements
from ldtab_clj_spark.streaming.pipeline import (read_stream_result,
                                                run_streaming_import)
from ldtab_clj_spark.synth import entity_dictionary, synth_docs

N_DOCS = 90


def key_set(df):
    return {(r.graph, r.subject, r.predicate, r.object, r.datatype,
             r.annotation) for r in df.collect()}


def test_streaming_import_equals_batch(spark, tmp_path):
    docs = synth_docs(spark, N_DOCS, seed=11).localCheckpoint()
    in_dir = str(tmp_path / "docs_in")
    # three windows (files) — micro-batch boundaries cut doc set in 3
    for i in range(3):
        (docs.filter(F.crc32(F.col("doc_id")) % 3 == i)
         .coalesce(1).write.mode("append").parquet(in_dir))

    table = str(tmp_path / "statement_stream")
    ckpt = str(tmp_path / "ckpt")
    q = run_streaming_import(spark, in_dir, table, ckpt,
                             entity_dictionary(spark))
    q.awaitTermination(300)

    got = key_set(read_stream_result(spark, table))
    want = key_set(build_statements(docs, entity_dictionary(spark)))
    assert got == want, (len(got), len(want),
                         list(got - want)[:3], list(want - got)[:3])


def test_streaming_import_is_idempotent_on_replay(spark, tmp_path):
    """Resumability: re-running the whole stream into the same table
    (fresh checkpoint = worst-case full replay) must not change the
    dedup-on-read result."""
    docs = synth_docs(spark, 30, seed=5).localCheckpoint()
    in_dir = str(tmp_path / "docs_in2")
    docs.coalesce(1).write.mode("append").parquet(in_dir)
    table = str(tmp_path / "stmt2")

    for attempt in range(2):
        ckpt = str(tmp_path / f"ckpt2_{attempt}")
        q = run_streaming_import(spark, in_dir, table, ckpt,
                                 entity_dictionary(spark))
        q.awaitTermination(300)
    result = read_stream_result(spark, table)
    want = build_statements(docs, entity_dictionary(spark))
    assert key_set(result) == key_set(want)


def test_streaming_superfluous_bare_rows_dropped_on_read(spark, tmp_path):
    """The cross-batch superfluous-annotation rule (import.clj:199-201)
    is applied by dedup-on-read, in either arrival order. Pinned by
    driving ``_start_streaming`` directly with an identity
    statements_fn over three ordered statement files."""
    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.streaming.pipeline import _start_streaming

    ann = '{"ex:cur":[{"datatype":"_IRI","meta":"owl:Axiom","object":"a"}]}'
    k1 = (1, 0, "graph", "ex:a", "ex:p", "ex:b", "_IRI")
    k2 = (1, 0, "graph", "ex:x", "ex:q", "lit", "xsd:string")
    batches = [
        [k1 + (None,), k2 + (None,)],   # bare K1, bare K2
        [k1 + (ann,)],                  # annotated twin of K1 arrives
        [k1 + (None,)],                 # bare K1 again → dropped on read
    ]
    in_dir = str(tmp_path / "bk_in")
    for rows in batches:
        spark.createDataFrame(rows, STATEMENT).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    table = str(tmp_path / "bk_table")
    stream = (spark.readStream.schema(STATEMENT)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = _start_streaming(stream, lambda df: df, table,
                         str(tmp_path / "bk_ckpt"))
    q.awaitTermination(300)

    # dedup-on-read: K1 survives only annotated, K2 only bare
    got = key_set(read_stream_result(spark, table))
    assert got == {k1[2:] + (ann,), k2[2:] + (None,)}


def test_streaming_import_keeps_no_annotation_state(spark, tmp_path):
    """The stream appends each micro-batch's statements and nothing
    else: after bare K1, annotated K1, bare K1 there is no annotation
    side table next to the statement table, and the read still returns
    K1 only as annotated."""
    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.streaming.pipeline import _start_streaming

    ann = '{"ex:cur":[{"datatype":"_IRI","meta":"owl:Axiom","object":"a"}]}'
    k1 = (1, 0, "graph", "ex:a", "ex:p", "ex:b", "_IRI")
    in_dir = str(tmp_path / "ns_in")
    for a in (None, ann, None):
        spark.createDataFrame([k1 + (a,)], STATEMENT).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    table = tmp_path / "ns_table"
    stream = (spark.readStream.schema(STATEMENT)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = _start_streaming(stream, lambda df: df, str(table),
                         str(tmp_path / "ns_ckpt"))
    q.awaitTermination(300)

    assert sorted(p.name for p in tmp_path.iterdir()) == \
        ["ns_ckpt", "ns_in", "ns_table"]
    assert key_set(read_stream_result(spark, str(table))) == \
        {k1[2:] + (ann,)}


def test_watermarked_window_agg_stream_equals_batch(spark, tmp_path):
    """Watermark + tumbling window over a file stream of events ==
    the same aggregation run in batch."""
    from ldtab_clj_spark.streaming.windows import hourly_event_counts
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ev_in")
    # stream in event-time order so no window's data arrives after its
    # watermark expires (three ordered chunks)
    e = events.withColumn("_bucket",
                          F.ntile(3).over(Window.orderBy("ts")))
    for i in range(1, 4):
        (e.filter(F.col("_bucket") == i).drop("_bucket")
         .coalesce(1).write.mode("append").parquet(in_dir))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out_dir = str(tmp_path / "ev_out")
    q = (hourly_event_counts(stream).writeStream
         .format("parquet").option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r.hour, r.event_type): (r.n, r.sum_value)
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r.hour, r.event_type): (r.n, r.sum_value)
            for r in hourly_event_counts(events).collect()}
    # append mode only emits windows the watermark has CLOSED; every
    # emitted window must match batch exactly, and most windows close
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    assert len(got) >= len(want) * 0.5, (len(got), len(want))


def test_streaming_nt_import_equals_batch(spark, tmp_path):
    """Incremental N-Triples import (the reference's --streaming
    surface): one file per micro-batch, blank components resolved per
    file, cross-batch annotation backlog — final table equals the
    batch import of the same files."""
    from ldtab_clj_spark.operators.export import write_ntriples
    from ldtab_clj_spark.sources.ntriples import import_ntriples
    from ldtab_clj_spark.streaming.pipeline import run_streaming_import_nt
    prefix_df = prefix_table(spark)
    # three .nt files with self-contained stanzas (incl. blanks +
    # annotations) from the synth pipeline's NT export
    docs = synth_docs(spark, 45, seed=17)
    statements = build_statements(docs, entity_dictionary(spark)) \
        .localCheckpoint()
    nt_dir = str(tmp_path / "nt_in")
    write_ntriples(statements.repartition(3), prefix_df, nt_dir)

    table = str(tmp_path / "stream_table")
    q = run_streaming_import_nt(spark, nt_dir, table,
                                str(tmp_path / "ckpt"), prefix_df)
    q.awaitTermination()
    streamed = key_set(read_stream_result(spark, table))
    batch = key_set(import_ntriples(spark, nt_dir, prefix_df))
    assert streamed == batch and streamed


def test_streaming_backlog_bootstraps_from_existing_table(spark, tmp_path):
    """Streaming into a table populated BEFORE this run: a late bare
    twin of an already-annotated key is dropped when the table is
    read, exactly as for twins that arrive within the stream."""
    from ldtab_clj_spark.schemas import STATEMENT
    from ldtab_clj_spark.streaming.pipeline import _start_streaming

    ann = '{"ex:cur":[{"datatype":"_IRI","meta":"owl:Axiom","object":"a"}]}'
    k1 = (1, 0, "graph", "ex:a", "ex:p", "ex:b", "_IRI")
    table = str(tmp_path / "pre_table")
    # pre-existing table with an annotated row, written outside streaming
    spark.createDataFrame([k1 + (ann,)], STATEMENT).coalesce(1) \
        .write.parquet(table)

    in_dir = str(tmp_path / "pre_in")
    spark.createDataFrame([k1 + (None,)], STATEMENT).coalesce(1) \
        .write.parquet(in_dir)  # late bare twin arrives via the stream
    stream = (spark.readStream.schema(STATEMENT)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = _start_streaming(stream, lambda df: df, table,
                         str(tmp_path / "pre_ckpt"))
    q.awaitTermination(300)

    got = key_set(read_stream_result(spark, table))
    assert got == {k1[2:] + (ann,)}          # bare twin suppressed


def test_session_window_stream_equals_batch(spark, tmp_path):
    """Native session_window over a watermarked file stream == the
    same aggregation in batch (finalized sessions only, append mode)."""
    from ldtab_clj_spark.streaming.windows import session_event_counts
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "sw_in")
    e = events.withColumn("_bucket",
                          F.ntile(3).over(Window.orderBy("ts")))
    for i in range(1, 4):
        (e.filter(F.col("_bucket") == i).drop("_bucket")
         .coalesce(1).write.mode("append").parquet(in_dir))

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out_dir = str(tmp_path / "sw_out")
    q = (session_event_counts(stream).writeStream
         .format("parquet").option("path", out_dir)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r.user_id, r.session_start, r.session_end, r.n_events)
           for r in spark.read.parquet(out_dir).collect()}
    want = {(r.user_id, r.session_start, r.session_end, r.n_events)
            for r in session_event_counts(events).collect()}
    # append mode emits only watermark-finalized sessions; each one
    # must match batch exactly, and most sessions should finalize
    assert got and got <= want
    assert len(got) >= len(want) * 0.5, (len(got), len(want))
