"""BENCHMARK.json names exactly the workloads and metrics run.py emits."""

import json

from perfbench import run
from perfbench.workloads import WORKLOADS


def test_benchmark_json_matches_the_runner():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.per_layer_units()


def test_held_out_seed_is_named():
    assert run.parse_seed("heldout") == run.HELD_OUT_SEED
    assert run.parse_seed("17") == 17
