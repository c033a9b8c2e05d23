"""Schemas (SURVEY.md §1.4, FIXTURES.md).

The statement table keeps compound values as canonical-JSON *strings*
(exactly the reference's storage form, init.clj:4-14) so row equality,
dedup, diff and hashing are native string column ops — shuffle-friendly
and whole-stage-codegen-able.
"""

from pyspark.sql.types import (ArrayType, BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

SPAN = StructType([
    StructField("kind", StringType()),        # text | media | heading
    StructField("text", StringType()),        # "" for pure media spans
    StructField("media_ref", StringType()),   # "" for text spans
    StructField("offset", IntegerType()),     # span-ordered start offset
])

# input: interleaved text+media documents (BASELINE.json input_hint)
DOCS = StructType([
    StructField("doc_id", StringType(), False),
    StructField("spans", ArrayType(SPAN), False),
])

# intermediate thin triples (parsing.clj:9-15 + provenance)
THIN = StructType([
    StructField("subject", StringType(), False),
    StructField("predicate", StringType(), False),
    StructField("object", StringType(), False),
    StructField("datatype", StringType(), False),
    StructField("is_blank_s", BooleanType(), False),
    StructField("is_blank_o", BooleanType(), False),
    StructField("doc_id", StringType(), False),
    StructField("span_order", IntegerType(), False),
])

# the statement table (init.clj:4-14)
STATEMENT = StructType([
    StructField("assertion", LongType(), False),
    StructField("retraction", LongType(), False),
    StructField("graph", StringType(), False),
    StructField("subject", StringType(), False),
    StructField("predicate", StringType(), False),
    StructField("object", StringType(), False),
    StructField("datatype", StringType(), False),
    StructField("annotation", StringType(), True),
])
STATEMENT_COLS = STATEMENT.fieldNames()

# prefix table (init.clj:22-24)
PREFIX = StructType([
    StructField("prefix", StringType(), False),
    StructField("base", StringType(), False),
])

# entity-link dictionary: surface form → candidate entity with score
ENTITY_DICT = StructType([
    StructField("surface", StringType(), False),
    StructField("entity", StringType(), False),
    StructField("score", LongType(), False),
    StructField("is_head", BooleanType(), False),
])
