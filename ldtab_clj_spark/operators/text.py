"""Text-analysis operators: token counting, quality scoring,
language-ID heuristic, document fingerprinting.

All expressed with built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python in the hot path — and each with an
exact DuckDB SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parallel import python_partitions, widen_partitions

TEXT_COL = "text"
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# marker words per language for the n-gram-ish heuristic; the synthetic
# corpus is English-dominant, so anything unmatched falls back to "en"
LANG_MARKERS = {
    "es": ("datos", "consulta", "fila"),
    "zh": ("表", "行", "数据"),
    "de": ("der", "und", "zeile"),
}


def token_count(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens) — whitespace tokenization; empty/blank text
    counts 0 (split("") yields [""] in both engines otherwise)."""
    text = F.trim(F.col(TEXT_COL))
    n = F.when(text == "", 0).otherwise(F.size(F.split(text, r"\s+")))
    return docs.select("doc_id", n.alias("n_tokens"))


def _count_occurrences(col, needle: str):
    """Occurrences of a literal substring via the length-difference
    trick — portable to ANSI SQL for the oracle."""
    return ((F.length(col)
             - F.length(F.replace(col, F.lit(needle), F.lit(""))))
            / max(len(needle), 1)).cast("long")


def quality_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_chars2, punct_ratio, stopword_hits, quality) —
    length/punctuation/stopword quality features."""
    text = F.col(TEXT_COL)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    stop_hits = None
    for w in STOPWORDS:
        c = _count_occurrences(text, f" {w} ")
        stop_hits = c if stop_hits is None else stop_hits + c
    return docs.select(
        "doc_id",
        F.length(text).alias("n_chars2"),
        (punct / F.greatest(F.length(text), F.lit(1)))
        .alias("punct_ratio"),
        stop_hits.alias("stopword_hits"),
        ((F.length(text) >= 50) & (stop_hits > 0)).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, lang_pred) — marker-word language heuristic."""
    text = F.col(TEXT_COL)
    pred = F.lit("en")
    # build reversed so earlier dict entries take precedence
    for lang, markers in reversed(list(LANG_MARKERS.items())):
        hit = None
        for m in markers:
            c = text.contains(m)
            hit = c if hit is None else hit | c
        pred = F.when(hit, F.lit(lang)).otherwise(pred)
    return docs.select("doc_id", pred.alias("lang_pred"))


BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens) — BPE-ish pre-tokenization count:
    alphanumeric runs + individual punctuation/CJK marks (the ASCII
    character classes behave identically in Java regex and RE2)."""
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col(TEXT_COL),
                                    F.lit(BPE_TOKEN_RE), 0))
        .alias("n_bpe_tokens"))


WINNOW_WINDOW = 4


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer et al.): hash every positional word-bigram, take the min
    hash over each sliding window of WINNOW_WINDOW k-grams, emit the
    distinct mins. Robust to insertions/reordering at the edges; the
    standard near-dup fingerprint at corpus scale."""
    from pyspark.sql import Window

    docs = python_partitions(docs.select("doc_id", TEXT_COL))
    words = F.split(F.trim(F.col(TEXT_COL)), r"\s+")
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    kgrams = (docs.select("doc_id",
                          F.posexplode(bigrams).alias("pos", "kg"))
              .withColumn("h", F.md5("kg")))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(-(WINNOW_WINDOW - 1), 0))
    return (kgrams.withColumn("fp", F.min("h").over(w))
            .select("doc_id", "fp").distinct())


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — md5 of the whitespace-normalized, lowercased
    text (the rolling-hash analog, portable across engines)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(TEXT_COL))),
                            r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp"))


MIN_TF = 2


def term_stats(docs: DataFrame) -> DataFrame:
    """Corpus term statistics — the exact-integer core of TF-IDF:
    per-document term frequency (tf, kept when ≥ ``MIN_TF``) joined
    with the global document frequency (df). Two map-side-combinable
    aggregations over the tokenized relation plus one equi-join on the
    term — the classic training-data-pipeline shape (vocabulary
    pruning, stopword mining, idf weighting all derive from it).
    Counts stay integers so the cross-engine oracle is exact; ln(N/df)
    weighting is one float expression away for consumers."""
    words = widen_partitions(docs.select("doc_id", TEXT_COL)).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(TEXT_COL))),
                          r"[^a-z0-9]+")).alias("word")) \
        .filter(F.col("word") != "")
    # tf BEFORE the MIN_TF filter is exactly the distinct (doc, word)
    # relation with its multiplicity, so df derives from it instead of
    # a second explode + distinct over the corpus: one tokenization
    # pass feeds both aggregates (the shared (doc_id, word) exchange
    # is planned once and reused), and the df aggregation shuffles
    # per-doc term rows, not per-occurrence rows
    tf_all = words.groupBy("doc_id", "word").agg(
        F.count("*").alias("tf"))
    tf = tf_all.filter(F.col("tf") >= MIN_TF)
    df_ = tf_all.groupBy("word").agg(F.count("*").alias("df"))
    return tf.join(df_, "word").select("doc_id", "word", "tf", "df")
