"""Schemas (SURVEY.md §1.4, FIXTURES.md).

The statement table keeps compound values as canonical-JSON *strings*
(exactly the reference's storage form, init.clj:4-14) so row equality,
dedup, diff and hashing are native string column ops — shuffle-friendly
and whole-stage-codegen-able.
"""

from pyspark.sql.types import (ArrayType, BooleanType, DoubleType,
                               FloatType, IntegerType, LongType, StringType,
                               StructField, StructType, TimestampNTZType)

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

# the query registry's tables (queries.TABLES), each as Spark infers it
# from the generated parquet: ``queries.load`` passes it and so runs no
# schema-inference job
_I, _L, _D, _S = IntegerType(), LongType(), DoubleType(), StringType()
_TS = TimestampNTZType()
REGISTRY = {name: StructType([StructField(c, t) for c, t in cols])
            for name, cols in {
    "region": [("r_regionkey", _I), ("r_name", _S)],
    "nation": [("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)],
    "customer": [("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
                 ("c_acctbal", _D), ("c_mktsegment", _S)],
    "supplier": [("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I),
                 ("s_acctbal", _D)],
    "part": [("p_partkey", _L), ("p_name", _S), ("p_brand", _S),
             ("p_type", _S), ("p_size", _I), ("p_retailprice", _D)],
    "orders": [("o_orderkey", _L), ("o_custkey", _L),
               ("o_orderstatus", _S), ("o_totalprice", _D),
               ("o_orderdate", _TS), ("o_orderpriority", _S)],
    "lineitem": [("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
                 ("l_linenumber", _I), ("l_quantity", _D),
                 ("l_extendedprice", _D), ("l_discount", _D),
                 ("l_tax", _D), ("l_returnflag", _S),
                 ("l_linestatus", _S), ("l_shipdate", _TS)],
    "events": [("event_id", _L), ("ts", _TS), ("user_id", _L),
               ("event_type", _S), ("value", _D), ("props", _S)],
    "documents": [("doc_id", _L), ("text", _S), ("lang", _S),
                  ("source", _S), ("n_chars", _L)],
    "embeddings": [("vec_id", _L), ("embedding", ArrayType(FloatType())),
                   ("label", _I)],
}.items()}
