"""The kg Python stages keep pandas out of the Python workers: extract,
stanza, the export pass, the N-Triples and Turtle parses and the
component contraction all run ``mapInArrow`` over Arrow columns built
without pandas (``operators.batching``)."""

import json
import os
import subprocess
import sys
from pathlib import Path

from kg_helpers import PREFIXES

ROOT = Path(__file__).resolve().parent.parent

# A fresh session, so no earlier test's mapInPandas has loaded pandas
# into a reused worker. The docs come from createDataFrame: synth_docs
# is itself a mapInPandas.
SCRIPT = r"""
import json, sys
from ldtab_clj_spark.operators.export import write_ntriples, write_turtle
from ldtab_clj_spark.plans.pipeline import build_statements, reimport
from ldtab_clj_spark.schemas import DOCS
from ldtab_clj_spark.session import get_spark
from ldtab_clj_spark.sources.ntriples import import_ntriples
from ldtab_clj_spark.sources.turtle import import_turtle
from ldtab_clj_spark.synth import entity_dictionary, make_doc_spans

out = sys.argv[1]
spark = get_spark("pandas-free", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
docs = spark.createDataFrame(
    [(f"doc-{d:010d}", make_doc_spans(5, d)) for d in range(40)], DOCS)
prefix = spark.createDataFrame([tuple(p) for p in json.loads(sys.argv[2])],
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
print(json.dumps({"rows": len(want), "same": same,
                  "workers": sorted({r.pid for r in rows}),
                  "with_pandas": sorted({r.pid for r in rows if r.pandas})}))
spark.stop()
"""


def test_kg_round_trip_workers_never_import_pandas(tmp_path):
    """Import docs, export N-Triples and Turtle, re-import both, and
    round-trip through ``expand_df``: every result equals the import,
    and no Python worker of the session has pandas in
    ``sys.modules``."""
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    done = subprocess.run([sys.executable, "-c", SCRIPT, str(tmp_path),
                           json.dumps(PREFIXES)],
                          cwd=ROOT, env=env, capture_output=True,
                          text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    got = json.loads(done.stdout.strip().splitlines()[-1])
    assert got["rows"] > 100 and got["same"] == [True] * 3, got
    assert got["workers"] and not got["with_pandas"], got
