"""Session env parsing: boolean env vars reach Spark confs as
"true"/"false", the core count is a positive integer, and a bad value
fails before any JVM starts."""

import os
import runpy
from pathlib import Path

import pytest

from ldtab_clj_spark.session import env_bool, env_int, get_spark

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


@pytest.mark.parametrize("raw,want", [
    ("1", "true"), ("true", "true"), ("YES", "true"), (" On ", "true"),
    ("0", "false"), ("False", "false"), ("no", "false"), ("OFF", "false"),
    ("", "false"),
])
def test_env_bool_normalizes(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_PREFER_SMJ", raw)
    assert env_bool("SPARK_PREFER_SMJ", False) == want


def test_env_bool_unset_uses_default(monkeypatch):
    monkeypatch.delenv("SPARK_PREFER_SMJ", raising=False)
    assert env_bool("SPARK_PREFER_SMJ", False) == "false"
    assert env_bool("SPARK_PREFER_SMJ", True) == "true"


@pytest.mark.parametrize("raw", ["2", "maybe", "tru", "y es"])
def test_bad_prefer_smj_raises_before_session_start(monkeypatch, raw):
    monkeypatch.setenv("SPARK_PREFER_SMJ", raw)
    with pytest.raises(ValueError, match="SPARK_PREFER_SMJ"):
        env_bool("SPARK_PREFER_SMJ", False)
    # get_spark raises while building its conf, before getOrCreate
    with pytest.raises(ValueError, match="SPARK_PREFER_SMJ"):
        get_spark("bad-env")


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
