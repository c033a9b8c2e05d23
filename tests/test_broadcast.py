"""No broadcast hint on a growing input.

With auto-broadcast off, an executed plan broadcasts exactly the sides
its query hints. The TPC-H shapes below join supplier, part, customer
and lineitem aggregates, all of which grow with the scale factor; only
the fixed nation and region dims may be hinted, so only they may sit
under a ``BroadcastExchangeExec`` here."""

from pathlib import Path

import pytest
from test_oracle_registry import SF as SF_SMALLEST

from ldtab_clj_spark import queries as Q

SF = str(Path(SF_SMALLEST).with_name("sf0.01"))
FIXED_DIMS = {"nation", "region"}


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _unwrap(node):
    """The physical node behind AQE's wrappers: the final plan of an
    ``AdaptiveSparkPlanExec``, a query stage's plan, a reused
    exchange's child."""
    while True:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif name.endswith("QueryStageExec"):
            node = node.plan()
        elif name == "ReusedExchangeExec":
            node = node.child()
        else:
            return node


def _scanned_tables(node) -> set[str]:
    node = _unwrap(node)
    if node.getClass().getSimpleName() == "FileSourceScanExec":
        paths = node.relation().location().rootPaths()
        return {paths.apply(i).getName().removesuffix(".parquet")
                for i in range(paths.size())}
    return set().union(*map(_scanned_tables, _children(node)))


def broadcast_tables(plan) -> list[set[str]]:
    """The parquet tables scanned under each broadcast exchange of an
    executed plan, AQE stages and reused exchanges included."""
    out, stack = [], [plan]
    while stack:
        node = _unwrap(stack.pop())
        if node.getClass().getSimpleName() == "BroadcastExchangeExec":
            out.append(_scanned_tables(node.child()))
        stack.extend(_children(node))
    return out


@pytest.fixture
def no_auto_broadcast(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield spark
    spark.conf.set(key, old)


@pytest.mark.parametrize("name", ["tpch_q5", "tpch_q14",
                                  "j8_entity_link_join", "tpch_q9",
                                  "tpch_q16", "tpch_q2"])
def test_only_fixed_dims_are_hinted(no_auto_broadcast, name):
    df = getattr(Q, name)(no_auto_broadcast, SF)
    df.collect()
    sides = broadcast_tables(df._jdf.queryExecution().executedPlan())
    grown = [t for t in sides if not t <= FIXED_DIMS]
    assert not grown, f"{name} broadcasts growing inputs: {grown}"
    if name == "tpch_q5":
        assert sides, "q5's region and ASIA-nation hints broadcast"
