"""ldtab_clj_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the capabilities of ontodev/ldtab.clj.

Reference semantics: /root/reference (ontodev/ldtab.clj, BSD-3).
This is NOT a port: the execution engine is Spark (DataFrame/Catalyst);
only the *data-model semantics* (thick triples, canonical JSON,
annotation/list/GCI folding) mirror the reference, re-implemented in
pure Python for use inside Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from ldtab_clj_spark import zipcache as _zipcache

# Every package UDF unpickles by importing this package, so a reused
# Python worker has the gate from its second task on (zipcache.py).
if _zipcache.in_pyspark_worker():
    _zipcache.install()
