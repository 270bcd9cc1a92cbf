"""Corpus statistics — the live version of the reference's dead tf-idf path.

The reference precomputes idf per cell and per-doc norms once at index load
(/root/reference/SearchEngine.cpp:302-391, call commented out at :101). We
make exactly that machinery live for BM25:

- term dictionary with df (A3/A4: posting-list lengths ``voc_sz``,
  /root/reference/Index.cpp:116-155, + ``idf_task`` distinct-doc count,
  /root/reference/SearchEngine.cpp:338-356)
- per-doc length (A5 per-doc norm analog,
  /root/reference/SearchEngine.cpp:359-391)
- corpus N + avgdl (A7 global count, /root/reference/SearchEngine.cpp:230-232)

All pure DataFrame ops: tokenize (JVM expression) -> explode -> groupBy.
Map-side partial aggregation and AQE handle the shuffle; the dictionary is
small (vocabulary-sized) and broadcastable — the analog of the resident
coarse codebook (/root/reference/Vocab.h:25-45).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.functions.tokenize import tokens_col


def doc_terms(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Explode docs to (doc_id, term) — one row per token occurrence."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_col(text_col)).alias("term"),
    )


def term_frequencies(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """tf per (doc_id, term) — aggregation A6, the graft's central groupBy
    (reference: ``entrymap[id] += idf``, /root/reference/SearchEngine.cpp:404-407)."""
    return (
        doc_terms(docs, text_col, id_col)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token count per doc — BM25's doc-norm (A5 analog). No shuffle: a
    per-row array size, not an explode+groupBy."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(text_col)).cast("long").alias("dl"),
    )


def dictionary(tf: DataFrame, n_docs: int) -> DataFrame:
    """Term dictionary with df and BM25 idf.

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)  — replaces the reference's
    idf = log(N / (distinct_docs + 1)) (/root/reference/SearchEngine.cpp:351).
    Vocabulary-sized: the broadcastable coarse-codebook analog.
    """
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
    ).withColumn(
        "idf",
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
    )


def dictionary_from_metrics(metrics: DataFrame, n_docs: int) -> DataFrame:
    """Term dictionary derived from per-term block metrics — no tf pre-pass.

    In the fused build the dictionary is a BY-PRODUCT of the encoded segment:
    df = postings-per-term (each posting is one (doc, term) pair) and cf is
    summed from per-block tf totals, so the only full-corpus pass the build
    makes is the combiner's tokenize-and-encode map. Output is
    row-identical to :func:`dictionary` on the same corpus.
    """
    return metrics.select(
        "term",
        F.col("postings").alias("df"),
        F.col("cf").alias("cf"),
    ).withColumn(
        "idf",
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
    )


def corpus_stats(dl: DataFrame) -> dict:
    """N and avgdl as plain Python (two scalars; one tiny job)."""
    row = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    return {"n_docs": int(row["n"]), "avgdl": float(row["avgdl"] or 0.0)}
