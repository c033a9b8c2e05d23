"""The executed-plan reader reads AQE's final plan, not the initial one,
of what an action ran, a write included, and only that action's jobs."""

from ldtab_clj_spark.plans.executed import executed


def test_collect_reads_the_final_plan(spark):
    df = spark.range(0, 1000, numPartitions=4) \
        .selectExpr("id % 7 AS k").groupBy("k").count()
    df = df.join(df.withColumnRenamed("count", "c"), "k")
    initial = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" in initial and "AQEShuffleRead" not in initial
    run = executed(spark, df.collect)
    assert len(run.result) == 7
    (plan,) = run.plans
    assert plan.desc == "AdaptiveSparkPlan isFinalPlan=true"
    names = [n.name for n in plan.walk()]
    assert "AQEShuffleRead" in names
    # the self-join's second side reuses the first side's exchange
    assert names.count("Exchange") == 2 and names.count("Range") == 1


def test_a_write_has_a_plan(spark, tmp_path):
    df = spark.range(0, 100).repartition(3, "id")
    run = executed(spark, lambda: df.write.parquet(str(tmp_path / "t")))
    assert run.result is None
    (plan,) = run.plans
    assert {"WriteFiles", "Exchange"} <= {n.name for n in plan.walk()}


def test_jobs_outside_the_action_do_not_count(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller", "the caller's group")
    try:
        spark.range(10).collect()
        idle = executed(spark, lambda: None)
        one = executed(spark, spark.range(5).collect)
        spark.range(10).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (idle.jobs, idle.plans) == ([], [])
    assert len(one.jobs) == len(one.plans) == 1
    assert not set(one.jobs) & set(sc.statusTracker()
                                   .getJobIdsForGroup("caller"))
