"""Shared test data: the five-entry prefix table the round-trip tests
curify against, and the statement key set they compare."""

PREFIXES = [("ex", "http://example.com/"),
            ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
            ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
            ("owl", "http://www.w3.org/2002/07/owl#"),
            ("xsd", "http://www.w3.org/2001/XMLSchema#")]


def prefix_table(spark):
    """``PREFIXES`` as a prefix table DataFrame."""
    return spark.createDataFrame(PREFIXES, "prefix string, base string")


def stmt_keys(df):
    """The (subject, predicate, object, datatype, annotation) set of a
    statement DataFrame."""
    return {(r.subject, r.predicate, r.object, r.datatype, r.annotation)
            for r in df.collect()}
