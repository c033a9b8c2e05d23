"""Blank-node connected components (SURVEY.md J2).

Reference: parsing.clj:40-48 / rdf_model.clj:14-29 — the transitive
closure over subject→blank-object edges that groups a stanza's triples.
The doc-derived pipeline avoids this entirely (components are
document-local by construction); for *external* RDF sources (N-Triples
files), blank labels are file-global and the closure must run for real.

Spark realization: two-phase connected components (local contraction,
then a global merge; Kiveris et al., SoCC 2014).

1. **Local contraction.** One ``mapInArrow`` pass runs a union-find
   (union towards the smaller label, path halving) over each
   partition's edges and emits ``(node, local_root)``, the local root
   being the smallest label in the node's component *within that
   partition*. Memory bound: the union-find holds one entry per
   distinct endpoint in its partition.
2. **Global merge.** A node seen in more than one partition links its
   local roots into a root graph; min-label propagation with pointer
   doubling (``propagate_min_labels``, ``localCheckpoint()`` per round
   to cut lineage) runs over that root graph only, and not at all when
   the contraction's checkpoint observed it empty.

The root graph is empty whenever every component's edges fall inside
one partition. An exported ``.nt`` file writes each stanza's lines
contiguously, so its components only cross partitions where a stanza
straddles a text split boundary — the normal import does one Python
pass and one aggregate, with no iterative rounds.

Stanza keys (``assign_components``): a triple's key is the component
of its first blank end, the subject if it is blank, else the object.
Both ends of a blank–blank triple share one component, so ONE left
join of the triples with the component map on that key labels them
all; ground triples key on their content hash.

The contraction pays only on inputs with that locality. An edge set
hash-partitioned on its first endpoint (near-dup pairs,
operators/dedup.distinct_pairs) spreads each component over the
partitions its members hash to; a sparse component then falls apart
into per-partition fragments and nearly all of it still goes through
the loop. Such callers use ``propagate_min_labels`` directly.

Labels are each component's minimum label: Python's ``<`` on ``str``
compares code points, which agrees with Spark's binary ``min`` because
UTF-8 preserves code-point order.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .batching import map_rows, pylist

MAX_ROUNDS = 32


def _local_roots(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
    """Union-find over one partition's (a, b) edges → (a, component),
    one row per distinct endpoint, component = the minimum label of its
    component within the partition."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]    # path halving
            x = parent[x]
        return x

    for batch in batches:
        for a, b in zip(pylist(batch.column("a")),
                        pylist(batch.column("b"))):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            # union towards the smaller label: a root is always its
            # component's minimum
            if ra < rb:
                parent[rb] = ra
            elif rb < ra:
                parent[ra] = rb
    for x in list(parent):
        yield x, find(x)


def propagate_min_labels(edges: DataFrame) -> DataFrame:
    """Connected components by min-label propagation with pointer
    doubling over ``edges`` (a, b), given in either or both directions
    → (a, component), component = the minimum label of a's component.
    O(log diameter) rounds, one self-join + one aggregate per round,
    lineage cut per round; no assumption about partitioning."""
    edges = edges.union(edges.select(F.col("b").alias("a"),
                                     F.col("a").alias("b")))
    edges = edges.distinct().localCheckpoint()
    labels = (edges.select("a").distinct()
              .withColumn("component", F.col("a")).localCheckpoint())
    for _ in range(MAX_ROUNDS):
        # propagate the min label across one hop ...
        prop = (edges.join(labels, on="a")
                .select(F.col("b").alias("a"), "component"))
        hop = (labels.select("a", "component").union(prop)
               .groupBy("a")
               .agg(F.min("component").alias("component")))
        # ... then short-cut: component := label(component) — pointer
        # doubling makes convergence O(log diameter), so long
        # rdf:first/rdf:rest chains (unbounded in real ontologies)
        # don't need diameter-many rounds
        lut = labels.select(F.col("a").alias("component"),
                            F.col("component").alias("_parent"))
        new_labels = (hop.join(lut, on="component", how="left")
                      .select("a",
                              F.least("component", "_parent")
                              .alias("component"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), on="a")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"component closure did not converge in "
        f"{MAX_ROUNDS} rounds — pathological graph")


def min_label_components(edges: DataFrame) -> DataFrame:
    """Connected components over ``edges`` (a, b), given in either or
    both directions, for inputs whose components mostly sit inside one
    partition: local contraction, then ``propagate_min_labels`` over
    the root graph. A self-loop (a, a) makes an isolated node a
    singleton. Returns (a, component) for every endpoint, where
    component is the minimum node label in a's component."""
    a_type = edges.schema["a"].dataType
    schema = StructType([StructField("a", a_type),
                         StructField("component", a_type)])
    local = map_rows(edges.select("a", "b"), _local_roots, schema)
    # a node seen in k partitions has k local roots: keep the smallest
    # and link the others to it (the root graph)
    obs = Observation()
    per_node = (local.groupBy("a")
                .agg(F.min("component").alias("component"),
                     F.collect_set("component").alias("_roots"))
                .observe(obs, F.count_if(F.size("_roots") > 1)
                         .alias("shared"))
                .localCheckpoint())
    if obs.get["shared"] == 0:
        return per_node.drop("_roots")
    root_edges = (per_node.filter(F.size("_roots") > 1)
                  .select(F.explode("_roots").alias("a"),
                          F.col("component").alias("b"))
                  .filter(F.col("a") != F.col("b")))
    per_node = per_node.drop("_roots")
    merged = propagate_min_labels(root_edges).select(
        F.col("a").alias("component"), F.col("component").alias("_merged"))
    return (per_node.join(merged, on="component", how="left")
            .select("a", F.coalesce("_merged", "component")
                    .alias("component")))


def assign_components(thin: DataFrame) -> DataFrame:
    """Attach a stanza-group key to every thin triple:

    * a triple touching a blank node gets the component id of its
      first blank end (the subject if it is blank, else the object);
    * ground triples are their own singleton stanzas (content hash).

    Output: thin schema with doc_id replaced by the group key — ready
    for operators/stanza.thin_to_thick_df.

    The closure and the final join both read ``thin``, whose source is
    a Python parse UDF for NT, Turtle and RDF/XML, so ``thin`` is
    materialized once (``localCheckpoint``) and parsed once; a skipped-
    line accumulator on the parse then counts each bad line once. The
    price, unlike the diff command's rule of never pinning a statement
    table (cli.cmd_diff): the whole parsed table sits in executor block
    storage, spilling to local disk, for as long as the result is in
    use; and a local checkpoint has no lineage to recompute from, so
    losing an executor during the import fails the import, which must
    then be re-run from the file.
    """
    thin = thin.localCheckpoint()
    s, o = F.col("subject"), F.col("object")
    # masked by the blank flags, so a LITERAL whose lexical form looks
    # like "_:b1" can never hijack a blank node's component
    key = F.when(F.col("is_blank_s"), s).when(F.col("is_blank_o"), o)
    # one edge per blank-touching triple: both ends blank → (s, o);
    # one end blank → a self-loop, so that blank is a singleton at least
    edges = thin.filter("is_blank_s OR is_blank_o").select(
        key.alias("a"), F.when(F.col("is_blank_o"), o).otherwise(s)
        .alias("b"))
    comp = min_label_components(edges).select(
        F.col("a").alias("_key"), F.col("component").alias("_comp"))
    ground_key = F.concat(F.lit("g:"), F.md5(F.concat_ws(
        "\x1f", "subject", "predicate", "object", "datatype")))
    # one plain left join: AQE broadcasts the component map when small;
    # at external-RDF scale (billions of bnodes) it shuffles
    return (thin.withColumn("_key", key)
            .join(comp, on="_key", how="left")
            .withColumn("doc_id", F.coalesce("_comp", ground_key))
            .drop("_key", "_comp"))
