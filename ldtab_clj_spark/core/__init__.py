"""Pure-Python semantic core (no Spark imports).

Implements LDTab's thick-triple semantics — canonical JSON sorting,
blank-node collapse, annotation/reification folding, RDF-list folding,
GCI encoding, skolem hashing — as deterministic functions callable from
Arrow-batched Python UDFs (``mapInArrow``) on executors.
"""
