"""Session env parsing: the core count is a positive integer, and a bad
value fails before any JVM starts."""

import os
import runpy
from pathlib import Path

import pytest

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
