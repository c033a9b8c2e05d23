"""Session env parsing: boolean env vars reach Spark confs as
"true"/"false", and a bad value fails before any JVM starts."""

import pytest

from ldtab_clj_spark.session import env_bool, get_spark


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
