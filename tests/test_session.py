"""Session settings and env parsing. The core count is a positive
integer, and a bad value fails before any JVM starts. The session sets
only what changes a Spark default, and the defaults it relies on are
pinned here."""

import ast
import os
import runpy
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from ldtab_clj_spark import session
from ldtab_clj_spark.session import env_int, get_spark

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


@pytest.mark.parametrize("raw,want", [
    ("3", 3), (" 3 ", 3), ("1", 1), ("32", 32),
    ("", os.cpu_count()),
])
def test_env_int_parses(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    assert env_int("SPARK_GRAFT_CPUS", os.cpu_count()) == want


def test_env_int_unset_uses_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert env_int("SPARK_GRAFT_CPUS", os.cpu_count()) == os.cpu_count()


@pytest.mark.parametrize("raw", ["0", "-1", "four", "2.5"])
def test_bad_cpus_raises_before_session_start(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        env_int("SPARK_GRAFT_CPUS", 4)
    # get_spark parses the core count first, before getOrCreate
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        get_spark("bad-env")
    # bench.py reads it at import, before main() starts a session
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        runpy.run_path(str(BENCH))


def test_get_spark_keeps_stock_daemon_module(spark):
    # a renamed daemon would hide the workers from samplers that find
    # them by `pyspark.daemon` in their command line
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") is None


def test_relied_on_defaults_hold(spark):
    # the north rule's AQE, coalescing and skew-join splitting, and the
    # Arrow batch size every mapInArrow stage reads, come from Spark
    conf = spark.conf
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.adaptive.skewJoin.enabled"):
        assert conf.get(key) == "true", key
    assert conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") \
        == "10000"


def _sql_keys_set():
    tree = ast.parse(Path(session.__file__).read_text())
    return {n.args[0].value for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "config"
            and n.args and isinstance(n.args[0], ast.Constant)
            and n.args[0].value.startswith("spark.sql.")}


# its default is the JVM's zone, which varies by host; the setting makes
# the value host-independent, whatever this host's zone is
HOST_DEFAULTS = {"spark.sql.session.timeZone"}


def test_every_sql_setting_changes_its_default(spark):
    keys = _sql_keys_set()
    assert "spark.sql.shuffle.partitions" in keys
    restates = []
    for key in sorted(keys - HOST_DEFAULTS):
        value = spark.conf.get(key)
        try:
            spark.conf.unset(key)
            if spark.conf.get(key) == value:
                restates.append(key)
        finally:
            spark.conf.set(key, value)
    assert restates == []


class _Built(Exception):
    pass


def _options_passed(monkeypatch):
    """The settings get_spark hands the builder, without a JVM. (A
    started context's ``extraJavaOptions`` always holds Spark's own
    module flags, so only the builder shows what get_spark passed.)"""
    def capture(builder):
        raise _Built(dict(builder._options))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    with pytest.raises(_Built) as built:
        get_spark("options")
    return built.value.args[0]


def test_driver_java_options_only_when_set(monkeypatch):
    key = "spark.driver.extraJavaOptions"
    monkeypatch.delenv("SPARK_DRIVER_JAVA_OPTS", raising=False)
    assert key not in _options_passed(monkeypatch)
    monkeypatch.setenv("SPARK_DRIVER_JAVA_OPTS", "-Xms1g -XX:+AlwaysPreTouch")
    assert _options_passed(monkeypatch)[key] == \
        "-Xms1g -XX:+AlwaysPreTouch"
