"""No package stage loads pandas: every Python stage reads and writes
Arrow through ``operators.batching``, so no package module and no
Python worker imports it."""

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

from kg_helpers import PREFIXES
from test_oracle_registry import SF

ROOT = Path(__file__).resolve().parent.parent
QUERIES = ("dedup_minhash_lsh", "dedup_simhash_pairs", "ann_srp_near_dup",
           "ann_ivf_topk", "mm_decode_features", "mm_frame_sample",
           "kg_pipeline_media")

# A fresh session, so no earlier test has loaded pandas into a reused
# worker.
SCRIPT = r"""
import json, sys
from ldtab_clj_spark.operators.export import write_ntriples, write_turtle
from ldtab_clj_spark.plans.pipeline import build_statements, reimport
from ldtab_clj_spark.queries import ALL_QUERIES
from ldtab_clj_spark.session import get_spark
from ldtab_clj_spark.sources.ntriples import import_ntriples
from ldtab_clj_spark.sources.turtle import import_turtle
from ldtab_clj_spark.synth import entity_dictionary, synth_docs

out, prefixes, sf, queries = sys.argv[1], *map(json.loads, sys.argv[2:5])
spark = get_spark("pandas-free", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
docs = synth_docs(spark, 40, seed=5)
prefix = spark.createDataFrame([tuple(p) for p in prefixes],
                               "prefix string, base string")
keys = ["subject", "predicate", "object", "datatype", "annotation"]
stmts = build_statements(docs, entity_dictionary(spark)).localCheckpoint()
write_ntriples(stmts, prefix, f"{out}/nt")
write_turtle(stmts, prefix, f"{out}/ttl")
want = {tuple(r) for r in stmts.select(keys).collect()}
again = [imp(spark, f"{out}/{ext}", prefix)
         for imp, ext in ((import_ntriples, "nt"), (import_turtle, "ttl"))]
same = [{tuple(r) for r in df.select(keys).collect()} == want
        for df in [*again, reimport(stmts)]]
counts = {q: ALL_QUERIES[q](spark, sf).count() for q in queries}


def probe(batches):
    import os
    import sys
    from array import array
    loaded = "pandas" in sys.modules
    import pyarrow as pa
    for _ in batches:
        pass
    # from_buffers: pa.array itself would import pandas
    yield pa.RecordBatch.from_arrays(
        [pa.Array.from_buffers(pa.int64(), 1,
                               [None, pa.py_buffer(array("q", [v]))])
         for v in (os.getpid(), loaded)], names=["pid", "pandas"])


# 16 one-at-a-time rounds over 2 slots take every reused worker in turn
rows = (spark.range(0, 16, numPartitions=16)
        .mapInArrow(probe, "pid long, pandas long").collect())
print(json.dumps({"rows": len(want), "same": same, "counts": counts,
                  "workers": sorted({r.pid for r in rows}),
                  "with_pandas": sorted({r.pid for r in rows if r.pandas})}))
spark.stop()
"""


def test_kg_round_trip_workers_never_import_pandas(tmp_path):
    """A kg round trip (import docs from ``synth_docs``, export
    N-Triples and Turtle, re-import both, round-trip ``expand_df``),
    then the MinHash, SimHash, SRP, IVF, media and media-pipeline
    queries: every round trip equals the import, every query returns
    rows, and no Python worker of the session has pandas in
    ``sys.modules``."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    done = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path),
         *map(json.dumps, (PREFIXES, SF, QUERIES))],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
    assert done.returncode == 0, done.stderr[-3000:]
    got = json.loads(done.stdout.strip().splitlines()[-1])
    assert got["rows"] > 100 and got["same"] == [True] * 3, got
    assert all(got["counts"][q] > 0 for q in QUERIES), got
    assert got["workers"] and not got["with_pandas"], got


IMPORT_ALL = r"""
import importlib, pkgutil, sys
import ldtab_clj_spark as pkg
for m in pkgutil.walk_packages(pkg.__path__, "ldtab_clj_spark."):
    if not m.name.endswith("__main__"):
        importlib.import_module(m.name)
print("pandas" in sys.modules)
"""


def test_no_package_module_imports_pandas():
    """No module under ``ldtab_clj_spark/`` imports pandas or names a
    pandas UDF entry point, and importing every one of them leaves
    pandas unloaded."""
    banned = {"mapInPandas", "applyInPandas", "pandas_udf"}
    found = []
    for path in sorted((ROOT / "ldtab_clj_spark").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            else:
                names = []
            name = getattr(node, "attr", getattr(node, "id", None))
            found += [f"{path.name}:{node.lineno} {n}"
                      for n in [*names, name]
                      if n in banned or str(n).split(".")[0] == "pandas"]
    assert not found, found
    done = subprocess.run([sys.executable, "-c", IMPORT_ALL], cwd=ROOT,
                          capture_output=True, text=True, timeout=120)
    assert done.stdout.split() == ["False"], done.stdout + done.stderr
