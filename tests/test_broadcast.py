"""No broadcast hint on a growing input.

With auto-broadcast off, an executed plan broadcasts exactly the sides
its query hints. The TPC-H shapes below join supplier, part, customer
and lineitem aggregates, all of which grow with the scale factor; only
the fixed nation and region dims may be hinted, so only they may sit
under a ``BroadcastExchangeExec`` here."""

import re
from pathlib import Path

import pytest
from test_oracle_registry import SF as SF_SMALLEST

from ldtab_clj_spark import queries as Q
from ldtab_clj_spark.plans.executed import executed

SF = str(Path(SF_SMALLEST).with_name("sf0.01"))
FIXED_DIMS = {"nation", "region"}


def broadcast_tables(run) -> list[set[str]]:
    """The parquet tables scanned under each broadcast exchange of an
    executed plan, a reused exchange once per reader."""
    return [set(re.findall(r"Location: [^\]\n]*/(\w+)\.parquet",
                           "\n".join(n.desc for n in node.walk())))
            for node in run.nodes() if node.name == "BroadcastExchange"]


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
    sides = broadcast_tables(executed(no_auto_broadcast, df.collect))
    grown = [t for t in sides if not t <= FIXED_DIMS]
    assert not grown, f"{name} broadcasts growing inputs: {grown}"
    if name == "tpch_q5":
        assert sides, "q5's region and ASIA-nation hints broadcast"
