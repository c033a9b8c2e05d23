"""Prefix / CURIE column functions (SURVEY.md C1-C3, J5-J6).

Reference: thin2thick.clj:28-42 (curify, curify-with longest match),
thick_rdf.clj:32-43 (curie-2-uri).

The prefix table is tiny and broadcast *into the plan itself*: we
build a CASE chain ordered longest-base-first — pure JVM expressions,
whole-stage-codegen, no UDF, no join, no shuffle. For thousands of
prefixes the J5 broadcast-join + window form would take over; for the
usual dozens this is strictly faster.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def curify_col(col: Column, prefixes: list[tuple[str, str]]) -> Column:
    """Longest-prefix CURIE-ification, else wrap ``<iri>``
    (thin2thick.clj:35-42)."""
    expr = F.concat(F.lit("<"), col, F.lit(">"))
    # shortest base first so the longest ends up outermost in the chain
    for prefix, base in sorted(prefixes, key=lambda pb: len(pb[1])):
        hit = F.concat(F.lit(prefix + ":"),
                       F.substring(col, len(base) + 1, 1 << 20))
        expr = F.when(col.startswith(base), hit).otherwise(expr)
    return expr


def curie_to_iri_col(col: Column,
                     prefixes: list[tuple[str, str]]) -> Column:
    """CURIE → IRI; strip ``<>`` wrapping (thick_rdf.clj:32-43)."""
    expr = F.regexp_replace(col, r"^<(.*)>$", r"$1")
    for prefix, base in prefixes:
        expr = F.when(col.startswith(prefix + ":"),
                      F.concat(F.lit(base),
                               F.substring(col, len(prefix) + 2, 1 << 20))
                      ).otherwise(expr)
    return expr
