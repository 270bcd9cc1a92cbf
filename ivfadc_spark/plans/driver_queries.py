"""Driver-contract queries: one entry per SURVEY.md §2 operator family.

Each ``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame``; each
``ORACLES[name]`` is ANSI SQL that DuckDB runs over the same parquet views.
Column names/types are aligned on both sides; floats are rounded so that
engine-order-dependent float64 summation (~1e-15) cannot flip the value
hash. Tie-breaks are always total orders.

Spark/DuckDB parity primitives (verified):
- tokenizer: Spark ``split(lower(x),'[^a-z0-9]+')``+remove '' ==
  DuckDB ``list_filter(regexp_split_to_array(lower(x),'[^a-z0-9]+'), ...)``
- md5 hex strings identical
- ``conv(substr(md5,1,15),16,10)`` == ``CAST('0x'||substr(md5,1,15) AS BIGINT)``
"""

from __future__ import annotations

import math
import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.functions.tokenize import duckdb_tokens_sql, tokens_col
from ivfadc_spark.operators import stats as S
from ivfadc_spark.operators.query import bm25_topk

K1, B = DEFAULT.k1, DEFAULT.b

# ---------------------------------------------------------------- fixtures

# reference query set for the flagship BM25 checks (terms from the testdata
# documents vocabulary + pure-OOV query 5)
QUERYSET = [
    (0, "table scan merge"),
    (1, "spark query plan"),
    (2, "the fast key order"),
    (3, "join window stream row"),
    (4, "customer data filter"),
    (5, "qqqqq zzzzz"),
    (6, "group"),
    (7, "sort merge join group agg window"),
]

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it", "on", "for"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )


def _values_sql() -> str:
    return ", ".join(f"({i}, '{t}')" for i, t in QUERYSET)


_TOK = duckdb_tokens_sql("text")

# shared DuckDB CTE prelude: tokenized documents + BM25 ingredients
_BM25_CTES = f"""
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dict AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1)
"""

_BM25_TOPK_SQL = f"""
WITH queries(query_id, text) AS (VALUES {{values}}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""


def _bm25_masked_sql(cand_pred: str) -> str:
    """BM25 top-k with CANDIDATES restricted by ``cand_pred`` while corpus
    statistics (n, avgdl, df/idf) stay FULL-corpus — the Lucene contract for
    tombstoned / attribute-scoped search before compaction."""
    return _BM25_TOPK_SQL.format(values=_values_sql()).replace(
        "  GROUP BY 1, 2),",
        f"  WHERE {cand_pred}\n  GROUP BY 1, 2),",
    )


def _bm25_filtered_corpus_sql(doc_pred: str) -> str:
    """BM25 top-k over a corpus that never contained the docs failing
    ``doc_pred`` — statistics rescoped; the post-compaction contract."""
    return _BM25_TOPK_SQL.format(values=_values_sql()).replace(
        "FROM documents", f"FROM (SELECT * FROM documents WHERE {doc_pred})"
    )


def _bm25_inputs(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tf = S.term_frequencies(docs)
    dl = S.doc_lengths(docs)
    cs = S.corpus_stats(dl)
    d = S.dictionary(tf, cs["n_docs"])
    return docs, tf, dl, cs, d


# ------------------------------------------------------------ fulltext core


def q_tf(spark, sf_dir):
    """A6: term frequency — the graft's central aggregation."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return S.term_frequencies(docs).select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf")
    )


def q_dictionary(spark, sf_dir):
    """A3/A4: df + cf + BM25 idf per term (voc_sz + idf_task analog)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tf = S.term_frequencies(docs)
    n = docs.count()
    return S.dictionary(tf, n).select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
        F.round("idf", 9).alias("idf"),
    )


def q_doc_lengths(spark, sf_dir):
    """A5: per-doc token count (BM25 doc norm)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return S.doc_lengths(docs).select("doc_id", F.col("dl").alias("dl"))


def q_corpus_stats(spark, sf_dir):
    """A7: global N + avgdl."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    dl = S.doc_lengths(docs)
    return dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.avg("dl"), 6).alias("avgdl"),
    )


def q_bm25_df(spark, sf_dir):
    """Flagship T1+J1: top-10 BM25, pure-DataFrame path."""
    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    res = bm25_topk(_queries_df(spark), tf, d, dl, cs["avgdl"], k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_bm25_conjunctive(spark, sf_dir):
    """AND-semantics top-10: docs containing every query term (the standard
    search tightening the OR-only reference lacks)."""
    from ivfadc_spark.operators.query import bm25_topk_conjunctive

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    res = bm25_topk_conjunctive(_queries_df(spark), tf, d, dl, cs["avgdl"], k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# query-time synonym map (the Solr explicit-mapping form): term -> extra
# posting list to probe. Rows exercise every edge: expansion to a new vocab
# term (scan -> filter), an expansion already present in the query (merge ->
# join in query 7, deduped — never double-scored), an OOV query term rescued
# by the map (plan -> vector), and a pure-OOV query gaining its only
# results (zzzzz -> dup).
SYNONYMS = [
    ("scan", "filter"),
    ("merge", "join"),
    ("plan", "vector"),
    ("zzzzz", "dup"),
]


def q_bm25_page_after(spark, sf_dir):
    """Keyset pagination (search_after): page 2 — ranks 11-20 strictly
    after each query's rank-10 hit in the (rounded score DESC, doc_id)
    total order. Queries with under a full first page return nothing."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import page_after, ranked

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    page1 = ranked(scores.withColumn("score", F.round("score", 6)), 10)
    cursors = page1.filter(F.col("rank") == 10).select(
        "query_id",
        F.col("score").alias("after_score"),
        F.col("doc_id").alias("after_doc"),
    )
    return page_after(scores, cursors, k=10, offset=10)


def q_bm25_total_hits(spark, sf_dir):
    """Total hit count per query (TotalHitCountCollector): the size of the
    full OR-semantics match set — counting, never ranking."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import total_hits

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    return total_hits(bm25_scores(qt, tf, d, dl, cs["avgdl"]))


def q_bm25_sort_by_attr(spark, sf_dir):
    """Field-sorted retrieval (Sort(SortField)): top-10 matching docs per
    query ordered by the n_chars attribute DESC — the scorer never runs."""
    from ivfadc_spark.operators.query import query_terms
    from ivfadc_spark.operators.scoring import sort_by_field

    docs = _read(spark, sf_dir, "documents")
    tf = S.term_frequencies(docs.select("doc_id", "text"))
    qt = query_terms(_queries_df(spark))
    cand = (
        tf.join(F.broadcast(qt), "term").select("query_id", "doc_id").distinct()
    )
    res = sort_by_field(cand, docs.select("doc_id", "n_chars"), "n_chars", 10)
    return res.select(
        "query_id", "rank", "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )


def q_bm25_synonyms(spark, sf_dir):
    """Query-time synonym expansion: probe each mapped term's posting list
    too, dedupe, then the standard BM25-sum top-10."""
    from ivfadc_spark.operators.query import bm25_topk, query_terms
    from ivfadc_spark.operators.query import bm25_scores, topk
    from ivfadc_spark.operators.scoring import expand_synonyms

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    syn = spark.createDataFrame(
        pd.DataFrame(SYNONYMS, columns=["term", "syn"]),
        schema="term string, syn string",
    )
    qx = expand_synonyms(qt, syn)
    res = topk(bm25_scores(qx, tf, d, dl, cs["avgdl"]), 10)
    return res.select(
        "query_id", "rank", "doc_id", F.round("score", 6).alias("score")
    )


def q_bm25_function_score(spark, sf_dir):
    """Document boosting (function_score): relevance * a length prior
    (1 + 0.1*ln(1 + n_chars)), re-ranked on the rounded boosted score."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import function_score

    docs = _read(spark, sf_dir, "documents")
    _, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    boost = F.lit(1.0) + F.lit(0.1) * F.log(F.lit(1.0) + F.col("n_chars"))
    return function_score(scores, docs.select("doc_id", "n_chars"), boost, 10)


def q_bm25_dismax(spark, sf_dir):
    """Disjunction-max scoring (DisjunctionMaxQuery, tie_breaker=0.3):
    best matching term + 0.3x the rest — focused matches outrank diffuse
    ones. Same grouping key as the sum path, one aggregate, no new
    shuffle."""
    from ivfadc_spark.operators.query import bm25_partials, query_terms
    from ivfadc_spark.operators.scoring import dismax_topk

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    parts = bm25_partials(qt, tf, d, dl, cs["avgdl"])
    return dismax_topk(parts, 10, tie_breaker=0.3)


def q_bm25_collapse(spark, sf_dir):
    """Field collapsing (the ES ``collapse`` parameter / Lucene grouping):
    top-10 per query with at most ONE hit per ``source`` — each source
    represented by its best-scoring doc. Diversity over a flat ranked
    list; both the group argmax and the final order rank on the rounded
    score with doc_id tiebreak so the oracle replays them exactly."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import collapse_topk

    docs = _read(spark, sf_dir, "documents")
    _, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    return collapse_topk(scores, docs.select("doc_id", "source"), "source", 10)


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (the ES ``rrf``
    retriever): the lexical BM25 top-50 for a query's TEXT fused with the
    embedding-cosine top-50 for the query's example VECTOR — queries 0-4
    carry both QUERYSET[i] text and embeddings vec_id=i (query-by-example;
    embeddings and documents share the doc-id space 1:1 in the testdata).
    score = sum over lists of 1/(60+rank); rank-based, so BM25 and cosine
    scales never meet. Both input lists rank on ROUNDED scores (6dp) with
    doc_id tiebreak, making every rank — and therefore the fused order —
    oracle-replayable."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import ranked, rrf_fuse

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    q = _queries_df(spark).filter(F.col("query_id") < 5)
    qt = query_terms(q)
    lex = ranked(
        bm25_scores(qt, tf, d, dl, cs["avgdl"]).withColumn(
            "score", F.round("score", 6)
        ),
        50,
    ).select("query_id", "doc_id", "rank")

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("a")
    )
    c = e.select(F.col("vec_id").alias("doc_id"), F.col("v").alias("b"))
    pairs = F.broadcast(qv).crossJoin(c).filter(F.col("query_id") != F.col("doc_id"))
    vec = ranked(
        pairs.select("query_id", "doc_id", F.round(_cosine_cols(), 6).alias("score")),
        50,
    ).select("query_id", "doc_id", "rank")

    return rrf_fuse([lex, vec], k=10)


def q_bm25_rescore(spark, sf_dir):
    """Rescoring window (the ES ``rescore`` contract): BM25 retrieves a
    top-50 window per query (queries 0-4), then an embedding-cosine
    secondary signal re-ranks ONLY that window —
    final = bm25 + 10 * cosine(query example vector, doc vector).
    The score-based retrieve-then-rerank hybrid (contrast `hybrid_rrf`,
    the rank-based fusion): the expensive semantic scorer touches
    O(queries x window) docs, never the corpus. Queries 0-4 carry both
    QUERYSET text and embeddings vec_id=i, the query-by-example fixture."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import rescore_topk

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    q = _queries_df(spark).filter(F.col("query_id") < 5)
    qt = query_terms(q)
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("a")
    )
    dv = e.select(F.col("vec_id").alias("doc_id"), F.col("v").alias("b"))
    sec = (
        F.broadcast(qv)
        .crossJoin(dv)
        .select("query_id", "doc_id", F.round(_cosine_cols(), 6).alias("sec"))
    )
    return rescore_topk(scores, sec, window=50, k=10, weight=10.0)


def q_bm25f_title_body(spark, sf_dir):
    """Multi-field search (BM25F, the ES ``multi_match`` / field-boost
    contract): each doc splits into a ``title`` field (first 10 tokens,
    weight 2.0) and a ``body`` field (the rest, weight 1.0); the simple
    BM25F variant folds fields BEFORE saturation —
    wtf = Σ_f w_f·tf_f, wdl = Σ_f w_f·|f|, then one BM25 saturation over
    (wtf, wdl, avg wdl) with document-level idf. One posexplode-free pass:
    both fields come from array slices of the same tokenize, weights ride
    a union, and every aggregate is the exact-integer kind (sums of 1.0/2.0)
    so the oracle reproduces scores bit-for-bit before rounding."""
    from ivfadc_spark.operators.query import query_terms

    W_TITLE, W_BODY = 2.0, 1.0
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", tokens_col("text").alias("tok"))
    title = toks.select(
        "doc_id", F.explode(F.slice("tok", 1, 10)).alias("term"),
        F.lit(W_TITLE).alias("w"),
    )
    body = toks.select(
        "doc_id",
        F.explode(
            F.expr("slice(tok, 11, greatest(size(tok) - 10, 0))")
        ).alias("term"),
        F.lit(W_BODY).alias("w"),
    )
    fields = title.unionByName(body)
    wtf = fields.groupBy("doc_id", "term").agg(F.sum("w").alias("wtf"))
    wdl = fields.groupBy("doc_id").agg(F.sum("w").alias("wdl"))
    stats = wdl.agg(
        F.count("*").alias("n"), F.avg("wdl").alias("avgwdl")
    ).collect()[0]
    n, avgwdl = float(stats["n"]), float(stats["avgwdl"])
    d = wtf.groupBy("term").agg(F.count("*").alias("df")).withColumn(
        "idf", F.log((F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    )
    qt = query_terms(_queries_df(spark))
    k1, b = K1, B
    cand = (
        wtf.join(F.broadcast(qt), "term")
        .join(F.broadcast(d.select("term", "idf")), "term")
        .join(wdl, "doc_id")
    )
    partial = F.col("idf") * (F.col("wtf") * (k1 + 1.0)) / (
        F.col("wtf") + k1 * (1.0 - b + b * F.col("wdl") / F.lit(avgwdl))
    )
    scored = (
        cand.withColumn("partial", partial)
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("partial"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "score")
    )


def q_significant_terms(spark, sf_dir):
    """Significant-terms aggregation (the ES ``significant_terms`` agg,
    JLH score): terms overrepresented in each query's matching set M
    (OR-semantics docs) relative to the corpus background —
    JLH = (fg_rate - bg_rate) * (fg_rate / bg_rate) with
    fg_rate = fg_df/|M|, bg_rate = df/N. The query's own terms are
    excluded (the agg's standard query-echo exclusion). Top-10 per query
    by (rounded score desc, term).

    Scale shape: M comes from the same term-probe as search; the
    foreground count is ONE groupBy over M joined back to the tf fact
    table (|M|·avgdl rows, partial-aggregated); background df rides the
    broadcast dictionary. All arithmetic is identical-order float64 so
    the oracle reproduces scores exactly."""
    from ivfadc_spark.operators.query import query_terms

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    m = tf.join(F.broadcast(qt), "term").select("query_id", "doc_id").distinct()
    msize = m.groupBy("query_id").agg(F.count("*").cast("double").alias("m"))
    fg = (
        m.join(tf.select("doc_id", "term"), "doc_id")
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("fg_df"))
        .join(qt, ["query_id", "term"], "left_anti")
    )
    n = float(cs["n_docs"])
    fg_rate = F.col("fg_df").cast("double") / F.col("m")
    bg_rate = F.col("df").cast("double") / F.lit(n)
    scored = (
        fg.join(F.broadcast(msize), "query_id")
        .join(F.broadcast(d.select("term", "df")), "term")
        .withColumn("score", F.round((fg_rate - bg_rate) * (fg_rate / bg_rate), 9))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id", "rank", "term", F.col("fg_df").cast("long").alias("fg_df"),
            "score",
        )
    )


def q_percolate(spark, sf_dir):
    """Reverse search (the ES percolator): REGISTERED queries run against
    incoming documents — per doc, which stored queries fire. Registered
    set = QUERYSET with AND semantics (every term must occur; a query
    containing an OOV term can never fire — the conjunctive convention).
    The alerting/routing primitive: at 100 TB the registered queries are
    the broadcast side and the doc stream is ONE tf pass + one
    partial-aggregated groupBy — never a per-query scan."""
    from ivfadc_spark.operators.query import query_terms

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    need = qt.groupBy("query_id").agg(F.count("*").cast("long").alias("n_terms"))
    have = (
        tf.join(F.broadcast(qt), "term")
        .groupBy("doc_id", "query_id")
        .agg(F.count("*").alias("n_have"))
    )
    return (
        have.join(F.broadcast(need), "query_id")
        .filter(F.col("n_have") == F.col("n_terms"))
        .select("query_id", "doc_id", "n_terms")
    )


def q_bm25_stopwords(spark, sf_dir):
    """Analyzer options through the FULL engine (the Lucene StopFilter +
    LengthFilter contract): the index builds with a stop list and
    min_token_len=2, so dl/tf/df/avgdl all reflect the filtered stream
    (Lucene counts field length after analysis); stopped terms never enter
    the dictionary, so query-side they are simply OOV — query 2 ("the
    fast key order") scores without its "the". Oracle replays BM25 over
    the identically-filtered tokenization."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    seg = _get_segment(spark, sf_dir, _STOP_CFG, tag="stopwords")
    res = bm25_topk_indexed(_queries_df(spark), seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_conv_topk(spark, sf_dir):
    """Conversation-scoped retrieval (the ES parent-child ``has_child``
    score_mode contract, and THE transcript-native result unit): turns
    score with BM25, conversations rank by their BEST turn's rounded
    score (score_mode=max); each conversation reports its representative
    turn and matching-turn count. Conversation key mirrors the
    transcripts adapter: conv = doc_id // 8."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import group_topk

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    attrs = docs.select(
        "doc_id", (F.col("doc_id") / 8).cast("long").alias("conv")
    )
    return group_topk(scores, attrs, "conv", k=5, score_mode="max")


def q_hit_context(spark, sf_dir):
    """Hit-context expansion (the chat-window / "show the reply with the
    question" contract): the BM25 top-5 turns per query, each returned
    with the adjacent turns (±1 turn_idx) of its conversation. doc_meta
    mirrors the transcripts adapter (conv = doc_id // 8,
    turn = doc_id % 8); context rows exist only where the corpus has
    them — conversation boundaries fall out of the join, not special
    cases."""
    from ivfadc_spark.operators.query import bm25_topk
    from ivfadc_spark.operators.scoring import hit_context

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    hits = bm25_topk(_queries_df(spark), tf, d, dl, cs["avgdl"], k=5)
    meta = docs.select(
        "doc_id",
        (F.col("doc_id") / 8).cast("long").alias("conv_id"),
        (F.col("doc_id") % 8).cast("int").alias("turn_idx"),
    )
    return hit_context(hits, meta, window=1)


def q_bm25_min_should_match(spark, sf_dir):
    """minimum_should_match=2 (the Lucene BooleanQuery knob between OR and
    AND): ranked docs must contain >= 2 distinct query terms; one-term and
    OOV-heavy queries return nothing."""
    from ivfadc_spark.operators.query import bm25_topk_msm

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    res = bm25_topk_msm(
        _queries_df(spark), tf, d, dl, cs["avgdl"], min_should_match=2, k=10
    )
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


TERMVEC_DOC_IDS = [0, 3, 17, 42, 111]


def q_term_vectors(spark, sf_dir):
    """Term-vectors API (the ES ``_termvectors`` / Lucene TermVectors
    surface): tf per (requested doc, term) plus corpus df — read from the
    SOURCE table by doc_id pushdown, never by scanning the term-major
    index for a doc's vector."""
    from ivfadc_spark.operators.query import term_vectors

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    req = spark.createDataFrame([(i,) for i in TERMVEC_DOC_IDS], "doc_id long")
    return term_vectors(req, docs, d)


def q_date_histogram(spark, sf_dir):
    """date_histogram aggregation under a query (the ES time-bucketed
    hit-count agg — "when was this discussed"): per (query, day) count of
    live matching docs, candidates from the index's pruned blocks scan.
    Timestamp attribute is the deterministic per-doc ts
    (2024-01-01 + doc_id*37 minutes — spreads sf0.01's docs over ~2
    weeks), mirrored exactly in the oracle."""
    from ivfadc_spark.operators.query import date_histogram

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    docs = _read(spark, sf_dir, "documents")
    ts_attrs = docs.select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id*37,0)"
        ).alias("ts"),
    )
    res = date_histogram(_queries_df(spark), seg, ts_attrs, granularity="day")
    return res.select(
        "query_id", F.col("bucket").cast("string").alias("bucket"), "n_docs"
    )


def q_conv_cardinality(spark, sf_dir):
    """Cardinality agg under a query (the ES ``cardinality`` aggregation):
    per query, matching docs + DISTINCT conversations in the matching set
    (conv = doc_id // 8) — exact here (oracle-replayable); the 100-TB
    variant is approx_count_distinct (HLL++) on the same plan."""
    from ivfadc_spark.operators.query import attr_cardinality

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    docs = _read(spark, sf_dir, "documents")
    attrs = docs.select("doc_id", (F.col("doc_id") / 8).cast("long").alias("conv"))
    return attr_cardinality(_queries_df(spark), seg, attrs, "conv")


def q_histogram_pipeline(spark, sf_dir):
    """Pipeline aggregations (ES ``cumulative_sum``/``derivative``/
    ``moving_avg``) over the date_histogram: per (query, day) the hit
    count plus its running total, day-over-day delta (first day deltas
    from 0), and trailing 3-day moving average. Post-aggregation math on
    the (queries x buckets)-sized frame — one window, never corpus-sized."""
    from ivfadc_spark.operators.query import date_histogram, histogram_pipeline

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    docs = _read(spark, sf_dir, "documents")
    ts_attrs = docs.select(
        "doc_id",
        F.expr(
            "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id*37,0)"
        ).alias("ts"),
    )
    hist = date_histogram(_queries_df(spark), seg, ts_attrs, granularity="day")
    res = histogram_pipeline(hist, mavg_window=3)
    return res.select(
        "query_id", F.col("bucket").cast("string").alias("bucket"),
        "n_docs", "cum_docs", "deriv", "mavg",
    )


def q_bm25_diversified(spark, sf_dir):
    """Diversified retrieval (ES collapse with group size > 1): top-10 per
    query with AT MOST TWO hits per conversation (conv = doc_id // 8) in
    one cross-group ranked list — collapse_topk generalized; both the
    per-group keep-2 and the final order rank on the rounded score with
    doc_id tiebreak so the oracle replays them exactly."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import diversify_topk

    _, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    docs = _read(spark, sf_dir, "documents")
    attrs = docs.select("doc_id", (F.col("doc_id") / 8).cast("long").alias("conv"))
    return diversify_topk(scores, attrs, "conv", max_per_group=2, k=10)


# single-term queries with a position window: common terms, a rarer one,
# and an OOV token (no rows)
SPANFIRST_QUERYSET = [
    (0, "table"),
    (1, "scan"),
    (2, "window"),
    (3, "customer"),
    (4, "zzznope"),
]
_SPANFIRST_END = 4


def q_span_first(spark, sf_dir):
    """Position-bounded term search (Lucene SpanFirstQuery): docs where the
    query term occurs within the first _SPANFIRST_END tokens, ranked by
    first qualifying position (earlier mention wins), doc_id tiebreak;
    n_occ_within counts occurrences inside the window. Same pruned
    positions probe as phrase/proximity search."""
    from ivfadc_spark.operators.positions import span_first_topk

    seg = _get_segment(spark, sf_dir, _POS_CFG, tag="fusedpos")
    sq = spark.createDataFrame(
        pd.DataFrame(SPANFIRST_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return span_first_topk(sq, seg, end=_SPANFIRST_END, k=10)


# unified parser queries: every clause form the grammar supports, mixed
# (+must / -not, prefix, fuzzy, regex, 2-term phrases — the SQL replay
# handles 2-term phrases; longer phrases are pytest-covered)
PARSER_QUERYSET = [
    (0, "+table scan -merge"),
    (1, "quer* +plan"),
    (2, "tabl~1 window"),
    (3, "/sc.n/ -filter"),
    (4, '"table scan" customer'),
    (5, '-"table scan" table'),
    (6, "+zzznope scan"),
    (7, '+"sort merge" quer*'),
]


def q_query_parser(spark, sf_dir):
    """Unified query strings (the Lucene QueryParser analog): one string
    mixes +must / -not, prefix*, fuzzy~, /regex/ and "quoted phrases";
    multi-term clauses satisfy MUST when any expansion matches, scoring
    is the deduped BM25 union of positive expansions (phrase terms
    included), phrases filter by exact adjacency. The oracle replays the
    semantics from the parser's clause table (the parse itself is a pure
    function pinned by tests/test_queryparse.py)."""
    from ivfadc_spark.operators.queryparse import search_topk

    seg = _get_segment(spark, sf_dir, _POS_CFG, tag="fusedpos")
    qdf = spark.createDataFrame(
        pd.DataFrame(PARSER_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    res = search_topk(qdf, seg, k=10, cfg=_POS_CFG)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# regexp terms (slash-wrapped, whole-term anchored), mixed with exact
# tokens; one pattern matches nothing
REGEX_QUERYSET = [
    (0, "/sc.n/ merge"),
    (1, "/gro.p/"),
    (2, "/[tf]able/"),
    (3, "/zzz.*/"),
    (4, "/.*dow/ query"),
    (5, "plan /qu.+y/"),
]


def q_regex_search(spark, sf_dir):
    """Regexp term search (Lucene RegexpQuery): slash-wrapped tokens
    expand to every dictionary term whose whole text matches the anchored
    pattern — one broadcast nested-loop dictionary pass; each expansion
    scores with its own idf through the shared MaxScore scan."""
    from ivfadc_spark.operators.wand import regex_topk

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    rq = spark.createDataFrame(
        pd.DataFrame(REGEX_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    res = regex_topk(rq, seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# ordered two-term proximity queries: common testdata bigrams at slop=3,
# plus a pair that never co-occurs nearby and an OOV pair
NEAR_QUERYSET = [
    (0, "table scan"),
    (1, "sort merge"),
    (2, "query plan"),
    (3, "customer window"),
    (4, "zzzq wwwk"),
]


def q_near_search(spark, sf_dir):
    """Proximity search (A NEAR/3 B, ordered): occurrences are first-term
    positions with a second-term position within the next slop+1 tokens,
    counted once per start; ranked by count. Positions probed with the
    same term_bucket pruning as phrase search; the count is a codegen'd
    higher-order array expression."""
    from ivfadc_spark.operators.positions import near_topk

    seg = _get_segment(spark, sf_dir, _POS_CFG, tag="fusedpos")
    nq = spark.createDataFrame(
        pd.DataFrame(NEAR_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return near_topk(nq, seg, slop=3, k=10)


def q_near_unordered(spark, sf_dir):
    """Unordered proximity (SpanNearQuery inOrder=false): the second term
    may precede the first — 0 < |p1-p0| <= slop+1 — so "B ... A" matches
    too; same pruned positions probe, one sign change in the codegen'd
    window predicate."""
    from ivfadc_spark.operators.positions import near_topk

    seg = _get_segment(spark, sf_dir, _POS_CFG, tag="fusedpos")
    nq = spark.createDataFrame(
        pd.DataFrame(NEAR_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return near_topk(nq, seg, slop=3, k=10, ordered=False)


# misspellings of known vocabulary, an in-vocabulary word (no rows), and
# a hopeless token (nothing within distance 2)
SUGGEST_QUERYSET = [
    (0, "tabel scen"),
    (1, "quer joinn"),
    (2, "scan"),
    (3, "zzzzzzzzzz"),
    (4, "custmer window"),
]


def q_suggest_terms(spark, sf_dir):
    """Did-you-mean: top-3 dictionary suggestions per OOV query token,
    ranked by edit distance asc, df desc, term asc (the Lucene
    DirectSpellChecker comparator); in-vocabulary tokens yield nothing."""
    from ivfadc_spark.operators.wand import suggest_terms

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    sq = spark.createDataFrame(
        pd.DataFrame(SUGGEST_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return suggest_terms(sq, seg, max_dist=2, n_suggest=3)


MLT_SEEDS = [3, 57, 211, 404]


def q_more_like_this(spark, sf_dir):
    """More-Like-This: each seed doc's top-10 tf x idf terms become an OR
    query through the normal BM25 kernel; the seed itself is excluded.
    Seed term vectors read from the SOURCE docs table (doc_id pushdown
    point lookup), never by scanning the term-major index."""
    from ivfadc_spark.operators.wand import mlt_topk

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    res = mlt_topk(MLT_SEEDS, seg, docs, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_highlight(spark, sf_dir):
    """Highlighting: for each query's BM25 top-10 docs, every matched
    query term's first token offset (0-based) and occurrence count, read
    from the fused positional twin rows — the Lucene unified-highlighter
    analog (bare ranked ids are useless to a UI without offsets)."""
    from ivfadc_spark.operators.positions import highlight_topk

    seg = _get_segment(spark, sf_dir, _POS_CFG, tag="fusedpos")
    return highlight_topk(_queries_df(spark), seg, k=10)


# Lucene boolean syntax: +term = MUST, -term = MUST_NOT, bare = SHOULD;
# covers OOV MUST (matches nothing), OOV MUST_NOT (excludes nothing),
# contradictions resolved strongest-op-first, and an all-negative query
BOOLEAN_QUERYSET = [
    (0, "table scan -merge"),
    (1, "+join window"),
    (2, "+customer +filter data"),
    (3, "spark -query -plan"),
    (4, "+zzzqqq scan"),
    (5, "group -zzzqqq"),
    (6, "sort +merge -join agg"),
    (7, "-table"),
]


def q_bm25_boolean(spark, sf_dir):
    """Lucene BooleanQuery: MUST (+) / MUST_NOT (-) / SHOULD semantics —
    ranked docs contain every MUST term and no MUST_NOT term, scored over
    matched MUST+SHOULD; exclusions are one extra term probe anti-joined
    on the scored candidates."""
    from ivfadc_spark.operators.query import bm25_topk_boolean

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    bq = spark.createDataFrame(
        pd.DataFrame(BOOLEAN_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    res = bm25_topk_boolean(bq, tf, d, dl, cs["avgdl"], k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


_SEGMENT_CACHE: dict = {}


def _get_segment(spark, sf_dir, cfg: EngineConfig, doc_filter=None, tag: str = ""):
    """Build (once per process) a segment over the documents table adapted to
    the transcripts shape — several contract entries drive the full engine
    and would otherwise re-run the identical build."""
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import transcripts_from_documents

    # doc_filter is part of the identity: a reused tag with a different
    # filter must not hit a segment built over different documents
    key = (sf_dir, cfg.to_json(), tag, str(doc_filter))
    if key not in _SEGMENT_CACHE:
        docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
        if doc_filter is not None:
            docs = docs.filter(doc_filter)
        tx = transcripts_from_documents(docs)
        out = tempfile.mkdtemp(prefix="ivfadc_seg_")
        _SEGMENT_CACHE[key] = build_index(spark, tx, out, cfg=cfg)
    return _SEGMENT_CACHE[key]


_ENGINE_CFG = EngineConfig(block_size=64)
_STOP_CFG = EngineConfig(
    block_size=64, stop_terms=",".join(STOPWORDS), min_token_len=2,
)


def q_bm25_wand(spark, sf_dir):
    """Flagship through the FULL engine: documents -> transcripts shape ->
    checkpointed index build -> compressed segment -> block-max WAND scan.
    Oracle = the same brute-force BM25 SQL (strongest correctness claim)."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    res = bm25_topk_indexed(_queries_df(spark), seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_bm25_batch(spark, sf_dir):
    """X4 doc-sharded batch TAAT — the throughput flagship — through the
    full engine; rank-identical to the WAND and brute-force paths."""
    from ivfadc_spark.operators.wand import bm25_topk_batch

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    res = bm25_topk_batch(_queries_df(spark), seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_bm25_conjunctive_indexed(spark, sf_dir):
    """AND-semantics top-k answered FROM THE SEGMENT: term-pruned block
    decode for tf, doc-length sidecar from doc_map — no full-corpus pass."""
    from ivfadc_spark.operators.postings import decode_blocks
    from ivfadc_spark.operators.query import bm25_topk_conjunctive, query_terms

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    queries = _queries_df(spark)
    terms = [r["term"] for r in query_terms(queries).select("term").distinct().collect()]
    dec = decode_blocks(seg.blocks.filter(F.col("term").isin(terms)))
    res = bm25_topk_conjunctive(
        queries,
        dec.select("term", "doc_id", "tf"),
        seg.dictionary,
        seg.doc_lengths,
        seg.meta["avgdl"],
        k=10,
    )
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# trailing-wildcard query set: known-vocabulary prefixes, a broad one-letter
# class (st* — many expansions), a pure-OOV prefix, and mixed exact+prefix
PREFIX_QUERYSET = [
    (0, "tab* scan"),
    (1, "quer*"),
    (2, "jo*, wind*"),
    (3, "customer filt*"),
    (4, "st*"),
    (5, "zzzq*"),
    (6, "m* plan"),
]


def q_prefix_search(spark, sf_dir):
    """Trailing-wildcard (``quer*``) top-k BM25: prefixes expand against the
    term dictionary (ONE filtered dictionary pass — postings untouched by
    expansion), every expanded term scores with its own idf, deduped per
    query; then the normal block-pruned MaxScore scan."""
    from ivfadc_spark.operators.wand import prefix_topk

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    pq = spark.createDataFrame(
        pd.DataFrame(PREFIX_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    res = prefix_topk(pq, seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# fuzzy query set: single-edit typos of known vocabulary, an explicit ~2
# distance, a self-match, a pure-OOV stem, and mixed exact+fuzzy
FUZZY_QUERYSET = [
    (0, "quey~ plan"),
    (1, "scann~"),
    (2, "jion~2 window"),
    (3, "hsah~2"),
    (4, "zzzq~"),
    (5, "merge quey~,"),
    (6, "key~ valu~"),
]


def q_fuzzy_search(spark, sf_dir):
    """Fuzzy (``spakr~`` / ``spakr~2``) top-k BM25: fuzzy stems expand to
    every dictionary term within the requested Levenshtein distance (one
    broadcast nested-loop pass over the dictionary, length-band pruned —
    postings untouched by expansion), each expansion scores with its own
    idf, deduped per query; then the shared block-pruned MaxScore scan."""
    from ivfadc_spark.operators.wand import fuzzy_topk

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    fq = spark.createDataFrame(
        pd.DataFrame(FUZZY_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    res = fuzzy_topk(fq, seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def _get_deleted_segment(spark, sf_dir):
    """A segment with the deterministic tombstone set doc_id % 17 == 3.

    Built under its own cache tag so the shared clean segment is never
    mutated; ``delete_docs`` is idempotent here (guarded on the sidecar),
    so entry execution order doesn't matter."""
    from ivfadc_spark.operators.deletes import delete_docs, tombstone_ids

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG, tag="tombstoned")
    if not tombstone_ids(seg).size:
        delete_docs(seg, [d for d in range(int(seg.doc_space)) if d % 17 == 3])
    return seg


def q_bm25_deleted(spark, sf_dir):
    """Tombstoned search (Lucene delete model): docs with doc_id % 17 == 3
    are deleted via ``delete_docs`` (an O(deletes) sidecar append — the
    index is NOT rewritten), and the WAND scan must drop them as candidates
    while still scoring with the segment's ORIGINAL corpus statistics.
    The oracle keeps full-corpus n/avgdl/idf and filters candidates only."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    seg = _get_deleted_segment(spark, sf_dir)
    res = bm25_topk_indexed(_queries_df(spark), seg, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_facet_counts(spark, sf_dir):
    """Faceted search: per-query doc counts grouped by a doc_map attribute
    (role) over the FULL matching set (OR semantics), tombstones excluded —
    the results-sidebar aggregation. Candidates come from the same
    term-pruned blocks scan as indexed search; the attribute join touches
    only the candidate set."""
    from ivfadc_spark.operators.query import facet_counts

    seg = _get_deleted_segment(spark, sf_dir)
    return facet_counts(_queries_df(spark), seg, attr="role")


def q_facet_stats(spark, sf_dir):
    """Metric aggregation per facet bucket (terms-agg + numeric
    sub-aggregation): per (query, role) count + avg/max of the docs'
    n_chars over the matching set, tombstones excluded — the feature join
    touches candidates only."""
    from ivfadc_spark.operators.query import facet_stats

    seg = _get_deleted_segment(spark, sf_dir)
    feats = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return facet_stats(
        _queries_df(spark), seg, feats, attr="role", value_col="n_chars"
    ).select(
        "query_id", "role",
        "n_docs",
        F.col("avg_n_chars"),
        F.col("max_n_chars").cast("long").alias("max_n_chars"),
    )


# "s" extends to 6 dictionary terms (scan, small, slow, sort, spark,
# stream) so the top-5 cut actually fires; the last prefix matches nothing
COMPLETE_QUERYSET = [(0, "s"), (1, "c"), (2, "qu"), (3, "zzqx")]


def q_complete_prefix(spark, sf_dir):
    """Completion suggester (ES suggest-as-you-type): per partial token the
    top-5 dictionary completions ranked df desc, term asc. The last prefix
    has no extensions and contributes no rows — the empty-suggest case."""
    from ivfadc_spark.operators.wand import complete_prefix

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    q = spark.createDataFrame(
        pd.DataFrame(COMPLETE_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return complete_prefix(q, seg, n_suggest=5)


def q_value_histogram(spark, sf_dir):
    """Numeric histogram agg under a query (the ES ``histogram`` agg,
    interval=200 on n_chars): per (query, bucket) count of matching docs —
    the length distribution of the hits. Exact integer bucketing."""
    from ivfadc_spark.operators.query import value_histogram

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    feats = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return value_histogram(_queries_df(spark), seg, feats, "n_chars", interval=200)


def q_index_stats(spark, sf_dir):
    """Index statistics (ES ``_stats``): one row of corpus-level counts
    read from segment metadata + the vocabulary-sized dictionary — the ops
    surface that never scans postings. The oracle recomputes every number
    from the raw corpus, so this doubles as a build-integrity gate on
    n_docs / df / cf / avgdl."""
    from ivfadc_spark.operators.segments import segment_stats

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    return segment_stats(seg)


def q_facet_top_hits(spark, sf_dir):
    """top_hits sub-aggregation (ES ``top_hits`` under a ``terms`` bucket):
    per (query, role) the 2 best-scoring hits — the dual of field
    collapsing (one ranked list PER bucket instead of one hit per bucket
    in one list). Role is the deterministic doc_id%3 mapping the facet
    entries already mirror."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import bucket_top_hits

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    attrs = docs.select(
        "doc_id",
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("role"),
    )
    return bucket_top_hits(scores, attrs, "role", per_bucket=2)


def q_bm25_range_filter(spark, sf_dir):
    """Range filter context (the ES bool-query ``filter`` clause with a
    ``range`` on a date field / Lucene PointRangeQuery): top-k over only
    docs whose timestamp falls in [2024-01-03, 2024-01-08), scored with
    FULL-corpus statistics — a filter never changes idf/avgdl (Lucene
    filter context contributes no score). Timestamps are the deterministic
    per-doc ts (2024-01-01 + doc_id*37 minutes, the date_histogram
    convention); the mask is a doc_space keep-mask through the batch TAAT
    kernel, same plumbing as tombstones and attribute scoping."""
    from ivfadc_spark.operators.deletes import attribute_mask
    from ivfadc_spark.operators.wand import bm25_topk_batch

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    ts = "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,doc_id*37,0)"
    pred = F.expr(
        f"{ts} >= timestamp'2024-01-03 00:00:00' AND "
        f"{ts} < timestamp'2024-01-08 00:00:00'"
    )
    mask = attribute_mask(seg, pred)
    res = bm25_topk_batch(_queries_df(spark), seg, k=10, doc_mask=mask)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_bm25_recency_decay(spark, sf_dir):
    """Recency-decayed relevance (the ES function_score ``linear`` decay on
    a date field — "prefer recent conversations"): final = bm25 * (0.2 +
    0.8 * max(0, 1 - |age|/scale)) with origin 2024-01-15, scale 30 days,
    re-ranked on the rounded boosted score. Linear decay is pure IEEE
    arithmetic (no exp/gauss libm calls), so engine and oracle agree
    bit-for-bit; ts is the deterministic per-doc encoding (2024-01-01 +
    doc_id*37 min), giving age_minutes = |20160 - doc_id*37|."""
    from ivfadc_spark.operators.query import bm25_scores, query_terms
    from ivfadc_spark.operators.scoring import function_score

    docs, tf, dl, cs, d = _bm25_inputs(spark, sf_dir)
    qt = query_terms(_queries_df(spark))
    scores = bm25_scores(qt, tf, d, dl, cs["avgdl"])
    feats = docs.select(
        "doc_id", F.abs(F.lit(20160.0) - F.col("doc_id") * 37).alias("age_min")
    )
    decay = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("age_min") / F.lit(43200.0))
    boost = F.lit(0.2) + F.lit(0.8) * decay
    return function_score(scores, feats, boost, 10)


# document updates (upsert): old versions tombstoned in the base segment,
# new text ingested as an LSM delta segment, both queried as one corpus
UPDATED_PREFIX = "revised patch note "
UPDATE_QUERYSET = QUERYSET + [(8, "revised patch note")]


def q_bm25_updated(spark, sf_dir):
    """Document UPDATE through the LSM path (Lucene update-document model):
    docs with doc_id % 23 == 5 get new text (a deterministic prefix). The
    old versions are tombstoned in the base segment (O(updates) sidecar
    append — no rewrite) and the new versions are built as a small DELTA
    segment; a SegmentSet federates both. Queries must hit the new text
    and never the old: the delta's docs enter at base-doc_space + dense
    rank, the tombstone mask drops the stale versions, and — the Lucene
    contract before compaction — corpus statistics count BOTH versions
    (base stats unscoped + delta stats summed). The oracle replays exactly
    that: union corpus for stats, live docs only as candidates."""
    from ivfadc_spark.operators.deletes import delete_docs, tombstone_ids
    from ivfadc_spark.operators.segments import SegmentSet
    from ivfadc_spark.operators.wand import bm25_topk_indexed
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import transcripts_from_documents

    base = _get_segment(spark, sf_dir, _ENGINE_CFG, tag="upd_base")
    if not tombstone_ids(base).size:
        delete_docs(base, [d for d in range(int(base.doc_space)) if d % 23 == 5])
    key = (sf_dir, _ENGINE_CFG.to_json(), "upd_delta")
    if key not in _SEGMENT_CACHE:
        docs = (
            _read(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") % 23 == 5)
            .withColumn("text", F.concat(F.lit(UPDATED_PREFIX), F.col("text")))
        )
        out = tempfile.mkdtemp(prefix="ivfadc_dseg_")
        _SEGMENT_CACHE[key] = build_index(
            spark, transcripts_from_documents(docs), out, cfg=_ENGINE_CFG
        )
    ss = SegmentSet(spark, [base, _SEGMENT_CACHE[key]])
    upq = spark.createDataFrame(
        pd.DataFrame(UPDATE_QUERYSET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    res = bm25_topk_indexed(upq, ss, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_bm25_scoped(spark, sf_dir):
    """Attribute-scoped search: top-k over only role='assistant' turns
    (query-time ``WHERE`` on doc_map attributes — no rebuild, no source
    re-read), through the batch TAAT kernel with a doc_space keep-mask.
    transcripts_from_documents assigns role by doc_id % 3 (1 = assistant),
    which is what the oracle's candidate predicate mirrors."""
    from ivfadc_spark.operators.deletes import attribute_mask
    from ivfadc_spark.operators.wand import bm25_topk_batch

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    mask = attribute_mask(seg, F.col("role") == "assistant")
    res = bm25_topk_batch(_queries_df(spark), seg, k=10, doc_mask=mask)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


_COMPACTED_CACHE: dict = {}


def q_bm25_compacted(spark, sf_dir):
    """LSM compaction: rewrite the tombstoned segment without its deleted
    postings (one mapInPandas decode->filter->re-encode pass, layout and
    term_bucket partitioning preserved — no shuffle) and RESCOPE
    n_docs/avgdl/df. Afterwards scoring must match a corpus that never
    contained the deleted docs — the oracle recomputes all statistics over
    the filtered corpus."""
    from ivfadc_spark.operators.deletes import compact_segment
    from ivfadc_spark.operators.wand import bm25_topk_batch

    seg = _get_deleted_segment(spark, sf_dir)
    if sf_dir not in _COMPACTED_CACHE:
        out = tempfile.mkdtemp(prefix="ivfadc_cseg_")
        _COMPACTED_CACHE[sf_dir] = compact_segment(spark, seg, out)
    res = bm25_topk_batch(_queries_df(spark), _COMPACTED_CACHE[sf_dir], k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


# S7 config source: the reference ships key=value .conf files read by
# CParamReader (/root/reference/ParamReader.cpp:39-71); this fixture is the
# same format inline. NON-default scoring knobs on purpose — the entry only
# passes if the parsed values actually flow through build AND query.
_CFG_PARAMS = """
# search engine parameters (CParamReader format)
k1 = 1.4
b 0.6
top_k 7
block_size 32
doc_shards = 8
nt 16            # reference knob with no Spark analog -> extra
"""


def q_config_source(spark, sf_dir):
    """S7: parse a CParamReader-style key=value config into EngineConfig and
    drive the full engine with it — a segment built with the parsed block
    size/sharding, queried with the parsed k1/b/top_k. The oracle mirrors
    the parsed values as literals, so any parse or plumbing break mismatches."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    cfg = EngineConfig.from_params(_CFG_PARAMS)
    assert cfg.extra.get("nt") == "16"  # unknown keys preserved for lineage
    seg = _get_segment(spark, sf_dir, cfg, tag="cfgsrc")
    res = bm25_topk_indexed(_queries_df(spark), seg, k=cfg.top_k, cfg=cfg)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_multi_segment(spark, sf_dir):
    """Multi-segment query federation (U1 at query time): the corpus built
    as TWO independent segments, queried through a SegmentSet — docIDs
    remapped by doc_space offset, idf/avgdl recomputed from summed stats —
    with NO compaction. Oracle = brute-force BM25 over the whole corpus
    (/root/reference/SearchEngine.cpp:94-102,221-297 semantics)."""
    from ivfadc_spark.operators.segments import SegmentSet
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    seg_a = _get_segment(
        spark, sf_dir, _ENGINE_CFG, doc_filter=(F.col("doc_id") <= half), tag="half_a"
    )
    seg_b = _get_segment(
        spark, sf_dir, _ENGINE_CFG, doc_filter=(F.col("doc_id") > half), tag="half_b"
    )
    ss = SegmentSet(spark, [seg_a.path, seg_b.path])
    res = bm25_topk_indexed(_queries_df(spark), ss, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_multi_segment_batch(spark, sf_dir):
    """The X4 doc-sharded batch kernel THROUGH federation: two independent
    segments queried as one SegmentSet. Member salts are rebased so shard
    ids stay disjoint — each scan task sees one segment's doc-sorted shard.
    Oracle = the same whole-corpus brute-force BM25."""
    from ivfadc_spark.operators.segments import SegmentSet
    from ivfadc_spark.operators.wand import bm25_topk_batch

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    seg_a = _get_segment(
        spark, sf_dir, _ENGINE_CFG, doc_filter=(F.col("doc_id") <= half), tag="half_a"
    )
    seg_b = _get_segment(
        spark, sf_dir, _ENGINE_CFG, doc_filter=(F.col("doc_id") > half), tag="half_b"
    )
    ss = SegmentSet(spark, [seg_a.path, seg_b.path])
    res = bm25_topk_batch(_queries_df(spark), ss, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_multi_segment_phrase(spark, sf_dir):
    """Exact phrase search over a FEDERATED (uncompacted) corpus: two
    independent fused-positional segments queried through a SegmentSet —
    each member contributes its own positional twin rows, doc ids shifted
    by the member's doc_base. A real LSM-style ingest + phrase workload
    hits exactly this. Oracle = the same whole-corpus occurrence count."""
    from ivfadc_spark.operators.positions import phrase_topk
    from ivfadc_spark.operators.segments import SegmentSet

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    seg_a = _get_segment(
        spark, sf_dir, _POS_CFG, doc_filter=(F.col("doc_id") <= half), tag="pos_half_a"
    )
    seg_b = _get_segment(
        spark, sf_dir, _POS_CFG, doc_filter=(F.col("doc_id") > half), tag="pos_half_b"
    )
    ss = SegmentSet(spark, [seg_a.path, seg_b.path])
    pq = spark.createDataFrame(
        pd.DataFrame(PHRASESET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return phrase_topk(pq, ss, k=10, cfg=_POS_CFG)


# exact-phrase query set: frequent testdata bigrams + one OOV phrase
PHRASESET = [
    (0, "table hash"),
    (1, "merge group"),
    (2, "customer join"),
    (3, "slow key"),
    (4, "fast key"),
    (5, "qqqqq zzzzz"),
]


_POS_CFG = EngineConfig(block_size=64, with_positions=1)


def q_phrase_topk(spark, sf_dir):
    """Exact phrase search (beyond the reference: it stores no positions)
    over the FUSED positional build: stage 01 emits positional twin rows
    from the same tokenize pass as the posting blocks — one corpus pass
    total, probed with the same term_bucket pruning. Ranked by occurrence
    count."""
    from ivfadc_spark.operators.positions import phrase_topk

    seg = _get_segment(spark, sf_dir, _POS_CFG, tag="fusedpos")
    pq = spark.createDataFrame(
        pd.DataFrame(PHRASESET, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return phrase_topk(pq, seg, k=10, cfg=_POS_CFG)


def q_doc_map_join(spark, sf_dir):
    """J3: top-k ranks re-joined to (conv_id, turn_idx) via doc_map."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    seg = _get_segment(spark, sf_dir, _ENGINE_CFG)
    res = bm25_topk_indexed(_queries_df(spark), seg, k=10)
    return (
        res.join(seg.doc_map, "doc_id")
        .select("query_id", "rank", "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"))
    )


def q_segment_union(spark, sf_dir):
    """U1-shape: df per term from two half-corpus builds unioned == whole."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).collect()[0][0]
    a = S.term_frequencies(docs.filter(F.col("doc_id") <= half))
    b = S.term_frequencies(docs.filter(F.col("doc_id") > half))
    return (
        a.unionByName(b)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf"))
    )


def q_streaming_ingest(spark, sf_dir):
    """Structured Streaming segment ingest, oracle-checked end-to-end: an
    availableNow file stream builds one immutable segment per micro-batch
    (foreachBatch, LSM append model); every doc lands in exactly one
    segment, so the summed per-term (df, cf) across segment dictionaries
    must equal the batch corpus dictionary — the same invariant as
    segment_union_df, proved through the streaming path."""
    import shutil
    import tempfile

    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.operators.segments import Segment
    from ivfadc_spark.sources.transcripts import transcripts_from_documents
    from ivfadc_spark.streaming.ingest import list_stream_segments, stream_build_segments

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tx = transcripts_from_documents(docs)
    base = tempfile.mkdtemp(prefix="drv_stream_")
    try:
        inp, out = os.path.join(base, "in"), os.path.join(base, "out")
        # 16 input files @ maxFilesPerTrigger=8 -> 2 micro-batches/segments
        tx.repartition(16).write.mode("overwrite").parquet(inp)
        q = stream_build_segments(spark, inp, out, cfg=EngineConfig(block_size=64))
        q.awaitTermination()
        segs = [Segment(spark, p) for p in list_stream_segments(out)]
        assert len(segs) >= 2, "expected multiple micro-batch segments"
        dicts = segs[0].dictionary.select("term", "df", "cf")
        for s in segs[1:]:
            dicts = dicts.unionByName(s.dictionary.select("term", "df", "cf"))
        merged = (
            dicts.groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf"))
        )
        pdf = merged.toPandas()  # materialize before the temp dirs vanish
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(pdf, schema="term string, df long, cf long")


def q_segments_as_of(spark, sf_dir):
    """Iceberg-style time travel over the LSM segment log: three
    append-only delta segments (contiguous doc_id ranges committed as
    epochs 0/1/2); querying AS OF epoch 1 sees only the first two deltas —
    the later append is invisible and corpus statistics (n_docs, avgdl,
    idf) rescope to the snapshot through the federation. Oracle = BM25
    over the corpus truncated at the snapshot boundary (the first 7/10 of
    the dense doc_id space)."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import transcripts_from_documents
    from ivfadc_spark.streaming.ingest import open_as_of

    key = (sf_dir, "as_of_lsm")
    if key not in _SEGMENT_CACHE:
        docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
        n = docs.count()
        cuts = [(0, (2 * n) // 5), ((2 * n) // 5, (7 * n) // 10), ((7 * n) // 10, n)]
        base = tempfile.mkdtemp(prefix="ivfadc_lsm_")
        for e, (lo, hi) in enumerate(cuts):
            delta = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            build_index(
                spark,
                transcripts_from_documents(delta),
                os.path.join(base, f"seg_{e:06d}"),
                cfg=_ENGINE_CFG,
                lineage={"epoch": e, "doc_range": [int(lo), int(hi)]},
            )
        _SEGMENT_CACHE[key] = base
    ss = open_as_of(spark, _SEGMENT_CACHE[key], as_of_epoch=1)
    res = bm25_topk_indexed(_queries_df(spark), ss, k=10)
    return res.select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))


def q_topk_docs_per_term(spark, sf_dir):
    """T1 window form: top-3 docs by tf per term, ties by doc_id."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tf = S.term_frequencies(docs)
    w = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("term", F.col("rank").cast("int").alias("rank"), "doc_id",
                F.col("tf").cast("long").alias("tf"))
    )


# --------------------------------------------------------------- relational


def q_lineitem_agg(spark, sf_dir):
    """A1/A2 analog — TPC-H Q1-shaped groupBy aggregate."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            # revenue reported in k$ rounded to integer: engine-order float64
            # summation differs ~1e-4 absolute at this magnitude; /1000 + round
            # keeps the value hash stable without decimal casts
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 1000.0, 0).alias("revenue_k"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


def q_revenue_per_nation(spark, sf_dir):
    """J3 chain with broadcast dims: orders x customer x nation x region."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 0).alias("revenue"),
             F.count("*").cast("long").alias("n_orders"))
    )


def q_topk_orders_per_customer(spark, sf_dir):
    """T1 window: 3 biggest orders per customer."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", F.col("rank").cast("int").alias("rank"),
                "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))
    )


def q_filter_scan_limit(spark, sf_dir):
    """P4/O4: pushed-down filter + deterministic ORDER BY + LIMIT."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 100000))
        .select("o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


def q_string_funcs(spark, sf_dir):
    """F1-F5/P7 scalar functions over part."""
    p = _read(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.col("p_name")).alias("name_lower"),
        F.length("p_name").cast("long").alias("name_len"),
        F.element_at(F.split(F.col("p_type"), " "), 1).alias("type_head"),
        F.substring(F.col("p_brand"), 1, 5).alias("brand5"),
        F.col("p_name").startswith("a").alias("starts_a"),
    )


def q_sample_systematic(spark, sf_dir):
    """S6 sampling made deterministic: systematic doc_id % 20 == 0."""
    docs = _read(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") % 20 == 0).select("doc_id", "n_chars")


# ------------------------------------------------------------------- events


def q_events_hourly(spark, sf_dir):
    """Windowed aggregation (batch form of the streaming tumbling window)."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n"),
             F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: lag-gap > 30 min starts a new session (window fns)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is identity
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    return (
        e.withColumn("new_s", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_s").cast("long").alias("n_sessions"),
             F.count("*").cast("long").alias("n_events"))
    )


# -------------------------------------------------------------------- dedup


def q_exact_dup(spark, sf_dir):
    """Exact dedup: md5 fingerprint of normalized text, group count."""
    docs = _read(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", tokens_col("text")))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").cast("long").alias("n"), F.min("doc_id").alias("min_doc"))
    )


def q_minhash(spark, sf_dir):
    """MinHash signatures: min(md5(seed||token)) over distinct tokens, 4 seeds."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select("doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("term"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"s{i}|"), F.col("term")))).alias(f"h{i}")
        for i in range(4)
    ]
    return t.groupBy("doc_id").agg(*aggs)


def q_minhash_pairs(spark, sf_dir):
    """LSH band pairs (4-hash full-signature band) in STAR form: every doc
    pairs with its band group's minimum doc_id, not with every other
    member. A group of m mass-duplicates yields m-1 rows instead of
    m*(m-1)/2 — the all-pairs self-join goes quadratic on exactly the
    corpus shape dedup targets — and the plan is one window min (single
    hash shuffle on the band key), no join at all. All-pairs clusters are
    recoverable transitively (a~rep, b~rep => a~b); the oracle states the
    same star definition (operators/dedup.py band_pair_stars; hot-bucket
    guard, round-4 verdict item 7)."""
    from ivfadc_spark.operators.dedup import band_pair_stars

    sig = q_minhash(spark, sf_dir)
    return band_pair_stars(sig, ["h0", "h1", "h2", "h3"])


_SIMHASH_BITS = 24


def q_simhash(spark, sf_dir):
    """SimHash over distinct tokens; md5-derived 24-bit token hashes."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    t = docs.select("doc_id", F.explode(F.array_distinct(tokens_col("text"))).alias("term"))
    h = F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
    t = t.select("doc_id", h.alias("h"))
    bit_sums = [
        F.sum(2 * F.shiftright(F.col("h"), i).bitwiseAND(1) - 1).alias(f"b{i}")
        for i in range(_SIMHASH_BITS)
    ]
    per_doc = t.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(_SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") >= 0, 2**i).otherwise(0)
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


_NGRAM_MAX_DF = 100


def q_ngram_jaccard(spark, sf_dir):
    """Word-trigram Jaccard near-dup pairs (>= 0.2), shingle-join bucketed.

    Hot-shingle cap: shingles in more than _NGRAM_MAX_DF docs are dropped
    BEFORE the pair join (a shingle in m docs yields m^2/2 join rows —
    Zipfian text guarantees hot trigrams, so an uncapped self-join goes
    quadratic at scale). Jaccard is then measured over the rare-shingle
    universe on both engine and oracle — the standard filtered-shingle
    near-dup measure; boilerplate-only overlap is noise, not duplication."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    sh_all = (
        docs.withColumn("tokens", tokens_col("text"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(size(tokens)-2, 0)), "
                        "i -> concat(element_at(tokens,i),' ',element_at(tokens,i+1),' ',element_at(tokens,i+2)))"
                    )
                )
            ).alias("shingle"),
        )
    )
    rare = (
        sh_all.groupBy("shingle")
        .agg(F.count("*").alias("sdf"))
        .filter(F.col("sdf") <= _NGRAM_MAX_DF)
        .select("shingle")
    )
    sh = sh_all.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    j = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "jaccard")
    )


# ------------------------------------------------------------ text analysis


def q_lang_id(spark, sf_dir):
    """Heuristic language ID: stopword-token ratio."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens_col("text")
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    ratio = sw / F.greatest(F.size(toks), F.lit(1))
    return docs.select(
        "doc_id",
        F.round(ratio, 6).alias("stopword_ratio"),
        F.when(ratio > 0.05, "en").otherwise("unk").alias("lang"),
    )


def q_quality(spark, sf_dir):
    """Quality scoring: token count, mean token length, digit ratio."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens_col("text")
    n_tok = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    chars = F.greatest(F.length("text"), F.lit(1))
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(tok_chars / F.greatest(n_tok, F.lit(1)), 6).alias("mean_token_len"),
        F.round(digits / chars, 6).alias("digit_ratio"),
        F.round(
            F.least(n_tok / 100.0, F.lit(1.0)) * (1.0 - digits / chars), 6
        ).alias("quality"),
    )


def q_token_count(spark, sf_dir):
    """BPE-ish token counting: words + punctuation marks via regex."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )


# ------------------------------------------------------------- similarity


def _cosine_cols():
    """dot/norm expressions over double-cast arrays a, b (same op order in
    DuckDB's list_dot_product -> identical float64 results; rounded anyway)."""
    dot = F.aggregate(
        F.zip_with("a", "b", lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate("a", F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate("b", F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def q_knn_brute(spark, sf_dir):
    """ANN baseline: brute-force cosine top-10 for query vectors vec_id<5."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("a")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("b"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select(
        "query_id", "cand_id", F.round(_cosine_cols(), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "cand_id", "cosine")
    )


def q_knn_lsh(spark, sf_dir):
    """ANN scale path: sign-LSH bucket (first 8 dims) probe, top-5 in-bucket.

    The IVF analog: bucket = coarse cell; probing one bucket = ma=1."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    bucket = None
    for i in range(8):
        bit = F.when(F.element_at("v", i + 1) >= 0, 2**i).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    e = e.withColumn("bucket", bucket.cast("int"))
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("a"), "bucket"
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("b"), "bucket")
    pairs = F.broadcast(q).join(c, "bucket").filter(F.col("query_id") != F.col("cand_id"))
    scored = pairs.select("query_id", "cand_id", F.round(_cosine_cols(), 6).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "cand_id", "cosine")
    )


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: polynomial rolling hash over the token stream
    (md5-derived per-token values; mod 1e9+7) — order-sensitive, unlike the
    bag-of-words md5 of exact_dup."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    tok_vals = F.transform(
        tokens_col("text"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % 1000003,
    )
    fp = F.aggregate(
        tok_vals,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 131 + v) % 1000000007,
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


def q_media_features(spark, sf_dir):
    """Multimodal decode -> features, for real: deterministic synthetic
    media table (PNG images, PCM WAVs, opaque video blobs — no external
    data), stdlib decode (zlib/wave), 32-dim features per payload.

    Hash-checked (formerly rows-only): the oracle is a VALUES literal of
    the same feature slice recomputed DRIVER-SIDE in plain numpy (no
    Spark), with identical float fold order — it independently verifies
    the distributed plumbing end to end (Arrow batching, mapInPandas,
    schema, binary payload round-trip). Codec correctness itself is
    independently spec-tested in tests/test_media_codecs.py (all five PNG
    filter types vs a scalar reference implementation)."""
    from ivfadc_spark.operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=96, seed=42)
    feats = extract_features(media)
    f = F.col("feature")
    return (
        feats.select(
            "media_id",
            "kind",
            F.round(F.element_at(f, 1).cast("double"), 6).alias("f0"),
            F.round(F.aggregate(f, F.lit(0.0), lambda a, v: a + v).cast("double"), 6).alias(
                "f_sum"
            ),
            F.round(F.array_max(f).cast("double"), 6).alias("f_max"),
        )
        .orderBy("media_id")
    )


_NEARDUP_BITS = 12
_NEARDUP_THRESHOLD = 0.4


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-LSH bucket prefilter (first 12
    dims) then exact cosine >= threshold — the embedding analog of
    minhash_pairs. At scale the bucket join replaces the O(n^2) cross
    join, and EXACT duplicate vectors collapse to their min-vec_id
    representative BEFORE the bucket join (hot-bucket guard: a vector
    duplicated m times enters the quadratic join once, not m times —
    operators/dedup.py embedding_near_dup_pairs; the oracle replays the
    same collapse)."""
    from ivfadc_spark.operators.dedup import embedding_near_dup_pairs

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return embedding_near_dup_pairs(
        e, bits=_NEARDUP_BITS, threshold=_NEARDUP_THRESHOLD
    )


_IVF_NCENTROIDS = 16
_IVF_NPROBE = 2
# conservative prefilter margin for the ADC near-dup entry: reconstruction
# error of the fixture's deliberately tiny test codebook (nsq=4, ks=8 over
# 500 random vectors) reaches ~0.4 in cosine; production-sized codebooks
# (nsq=8+, ks=256) shrink this to a few hundredths. Measured at sf0.01: the
# prefilter drops 16 of 28 LSH-bucket candidate pairs while preserving the
# corpus's one true near-dup pair.
_NEARDUP_ADC_MARGIN = 0.4


def q_embedding_near_dup_adc(spark, sf_dir):
    """Embedding near-dup with the IVFADC compression in the loop — the
    100 TB shape: candidate pairs (sign-LSH bucket) are PRE-FILTERED on the
    approximate cosine of their PQ RECONSTRUCTIONS (cell centroid + nsq
    sub-centroids — derived from the resident codes + tiny codebooks, raw
    vectors untouched), and only survivors pay the exact-cosine check
    against the raw vectors. The margin makes the prefilter conservative;
    the oracle replays codebook training, reconstruction, prefilter and
    exact check identically, so the result is hash-checked end to end."""
    from ivfadc_spark.operators import pq

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    coarse = _coarse_pdf(e)
    ranked = pq.coarse_assign(e, coarse, nprobe=1)
    res = pq.residuals(ranked.filter(F.col("r") == 1))
    books = pq.train_pq(res, _PQ_DIM, _PQ_NSQ, _PQ_KS, _PQ_ITERS)
    codes = pq.encode_pq(res, books, _PQ_DIM)
    # PQ reconstruction: centroid + concat of sub-centroids, via broadcast
    # joins against the (tiny) codebooks — the codes ARE the storage
    cc = spark.createDataFrame(coarse, schema="cell int, b array<double>")
    r = codes.join(F.broadcast(cc.select("cell", F.col("b").alias("_cb"))), "cell")
    for s, book in enumerate(books):
        sb = spark.createDataFrame(book, schema="cell int, b array<double>")
        r = r.join(
            F.broadcast(
                sb.select(F.col("cell").alias(f"code_{s}"), F.col("b").alias(f"_sb{s}"))
            ),
            f"code_{s}",
        )
    recon = r.select(
        "vec_id",
        F.zip_with(
            "_cb",
            F.concat(*[f"_sb{s}" for s in range(_PQ_NSQ)]),
            lambda x, y: x + y,
        ).alias("rv"),
    )
    bucket = None
    for i in range(_NEARDUP_BITS):
        bit = F.when(F.element_at("v", i + 1) >= 0, 2**i).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    eb = e.withColumn("bucket", bucket.cast("int"))
    ra = recon.join(eb.select("vec_id", "bucket"), "vec_id").select(
        F.col("vec_id").alias("doc_a"), F.col("rv").alias("a"), "bucket"
    )
    rb = recon.join(eb.select("vec_id", "bucket"), "vec_id").select(
        F.col("vec_id").alias("doc_b"), F.col("rv").alias("b"), "bucket"
    )
    survivors = (
        ra.join(rb, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("approx", F.round(_cosine_cols(), 6))
        .filter(F.col("approx") >= _NEARDUP_THRESHOLD - _NEARDUP_ADC_MARGIN)
        .select("doc_a", "doc_b")
    )
    # exact check ONLY on prefilter survivors: raw vectors join a
    # candidate stream that compression already thinned
    va = e.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("a"))
    vb = e.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("b"))
    return (
        survivors.join(va, "doc_a")
        .join(vb, "doc_b")
        .withColumn("cosine", F.round(_cosine_cols(), 6))
        .filter(F.col("cosine") >= _NEARDUP_THRESHOLD)
        .select("doc_a", "doc_b", "cosine")
    )


def _coarse_pdf(e, with_label: bool = False):
    """Deterministic seed codebook (vectors vec_id < _IVF_NCENTROIDS) as a
    driver pandas frame — k x d, the closure payload of the arrow kernels."""
    pdf = (
        e.filter(F.col("vec_id") < _IVF_NCENTROIDS)
        .select(F.col("vec_id").cast("int").alias("cell"), F.col("v").alias("b"))
        .toPandas()
    )
    pdf["b"] = [list(map(float, x)) for x in pdf["b"]]
    return pdf


def q_kmeans_recompute(spark, sf_dir):
    """A1: one Lloyd iteration — assign every embedding to its nearest seed
    centroid, then recompute per-cell per-dimension means. The core update
    of mode-1 codebook training (/root/reference/Clustering.h:190-215:
    sum+count+divide). Runs the ZERO-EXCHANGE arrow kernels (the codebook
    ships in the task closure; each partition does one matrix argmax and
    reduces to a k x d partial-sum — clustering.py assign_cells /
    recompute_centroids), not the crossJoin+window plan that shuffles n*k
    scored rows; the oracle replays the same math declaratively."""
    from ivfadc_spark.operators.clustering import assign_cells, recompute_centroids

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    assigned = assign_cells(e, _coarse_pdf(e), metric="cosine")
    _, stats = recompute_centroids(assigned, round_decimals=6)
    out = stats.rename(columns={"m": "mean_val"})[["cell", "dim", "n_members", "mean_val"]]
    return spark.createDataFrame(
        out, schema="cell int, dim int, n_members long, mean_val double"
    )


_KMEANS_TRAIN_ITERS = 3


def q_kmeans_train(spark, sf_dir):
    """Full mode-1 training loop (not just one Lloyd step): k-means over the
    embeddings with deterministic seeds, _KMEANS_TRAIN_ITERS assign+recompute
    cycles, centroids rounded at every iteration boundary so the trajectory
    is summation-order-independent (/root/reference/Clustering.h:88-220).
    Output = the final per-(cell, dim) member counts and means."""
    from ivfadc_spark.operators.clustering import kmeans_train

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    _, stats, _ = kmeans_train(
        e, k=_IVF_NCENTROIDS, max_iters=_KMEANS_TRAIN_ITERS, tol=0.0,
        metric="cosine", seeding="first", round_decimals=6,
    )
    out = stats.rename(columns={"m": "mean_val"})[["cell", "dim", "n_members", "mean_val"]]
    return spark.createDataFrame(
        out, schema="cell int, dim int, n_members long, mean_val double"
    )


_IVF_TRAIN_ITERS = 2


def q_knn_ivf_trained(spark, sf_dir):
    """Mode-1 -> mode-3 end to end: TRAIN the coarse codebook (2 Lloyd
    cycles, rounded centroids) and probe it — the full IVFADC workflow
    (train /root/reference/ivfpq_new.cpp:61-99, then search
    /root/reference/SearchEngine.cpp:112-212) on embeddings."""
    from ivfadc_spark.operators.clustering import kmeans_train

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents, _, _ = kmeans_train(
        e, k=_IVF_NCENTROIDS, max_iters=_IVF_TRAIN_ITERS, tol=0.0,
        metric="cosine", seeding="first", round_decimals=6,
    )
    cents = cents.copy()
    cents["b"] = [list(map(float, x)) for x in cents["b"]]
    return _ivf_probe_topk(e, cents)


def _ivf_probe_topk(e, cent_pdf, cand_filter=None):
    """Shared IVF probe: rank cells with the zero-exchange arrow kernel
    (pq.coarse_assign, cosine — the codebook rides the task closure; no
    Exchange before the argmax, tested in tests/test_plan_shapes.py),
    derive candidate lists (r == 1, optionally attribute-prefiltered) and
    probes (r <= nprobe, query fixture vec_id % 100 == 7), then score
    exact cosine only inside probed cells and keep the top 5 per query.
    The probes side is query-sized metadata -> broadcast; the exact-cosine
    expression stays declarative for bit-parity with the DuckDB oracles."""
    from ivfadc_spark.operators import pq

    passthrough = tuple(c for c in e.columns if c not in ("vec_id", "v"))
    ranked = pq.coarse_assign(
        e, cent_pdf, nprobe=_IVF_NPROBE, metric="cosine", passthrough=passthrough
    )
    cand = ranked.filter(F.col("r") == 1)
    if cand_filter is not None:
        cand = cand.filter(cand_filter)
    cand = cand.select(F.col("vec_id").alias("cand_id"), F.col("v").alias("b"), "cell")
    probes = (
        ranked.filter((F.col("r") <= _IVF_NPROBE) & (F.col("vec_id") % 100 == 7))
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("a"), "cell")
    )
    scored = (
        F.broadcast(probes)
        .join(cand, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", F.round(_cosine_cols(), 6).alias("cosine"))
    )  # assignment is unique (r==1), so no (query, cand) pair can duplicate
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "cand_id", "cosine")
    )


def q_knn_ivf(spark, sf_dir):
    """IVF-probed ANN — the direct IVFADC graft on embeddings: a coarse
    codebook (deterministic: vectors vec_id < 16) keys inverted cell lists;
    a query probes its nprobe=2 nearest cells and scores exact cosine only
    inside them (O1 inverted-file pruning; ma=2 multi-assignment,
    /root/reference/Vocab.cpp:236-248). Cell ranking runs the zero-exchange
    arrow kernel (see _ivf_probe_topk)."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    return _ivf_probe_topk(e, _coarse_pdf(e))


_KNN_FILTER_LABEL = 1


def q_knn_ivf_filtered(spark, sf_dir):
    """Filtered vector search (the modern ANN-with-metadata-filter surface:
    ES/OpenSearch kNN ``filter``, Qdrant/Milvus payload filters): the same
    IVF probe as knn_ivf_probe but candidates must satisfy an attribute
    predicate (label = _KNN_FILTER_LABEL) — PRE-filter semantics: the
    filter restricts the inverted lists before scoring, so the top-k is
    exactly the best k MATCHING vectors (never fewer than k because
    non-matching neighbors crowded them out, the post-filter failure
    mode). The coarse assignment covers ALL vectors (the index is built
    once); the label predicate prunes the candidate scan — at 100 TB the
    codes live cell-partitioned with label as a row-group column, so the
    filter pushes down to the parquet scan of only the probed cells.
    Cell ranking runs the zero-exchange arrow kernel with ``label`` as a
    passthrough column (see _ivf_probe_topk)."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        "label",
    )
    # pre-filter: only matching vectors enter the candidate lists
    return _ivf_probe_topk(
        e, _coarse_pdf(e), cand_filter=F.col("label") == _KNN_FILTER_LABEL
    )


_PQ_DIM = 64
_PQ_NSQ = 4
_PQ_KS = 8
_PQ_ITERS = 2


def q_knn_ivf_adc(spark, sf_dir):
    """Full IVFADC: coarse-assign every embedding (L2), train one k-means
    codebook per residual subspace (nsq=4 x 16 dims, ks=8, 2 Lloyd cycles —
    /root/reference/ivfpq_new.cpp:126-205), store each vector as cell +
    nsq codes, and answer queries by asymmetric distance computation:
    a per-(query, probed cell) distance table plus nsq broadcast gathers
    per candidate (/root/reference/SearchEngine.cpp:170-184). Exact over
    the probed cells; the stored vectors never leave their partitions."""
    from ivfadc_spark.operators import pq

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    coarse = _coarse_pdf(e)
    ranked = pq.coarse_assign(e, coarse, nprobe=_IVF_NPROBE)
    res = pq.residuals(ranked.filter(F.col("r") == 1))
    books = pq.train_pq(res, _PQ_DIM, _PQ_NSQ, _PQ_KS, _PQ_ITERS)
    codes = pq.encode_pq(res, books, _PQ_DIM)
    probes = (
        ranked.filter((F.col("r") <= _IVF_NPROBE) & (F.col("vec_id") % 100 == 7))
        .select(
            F.col("vec_id").alias("query_id"),
            "cell",
            F.zip_with("v", "b", lambda x, y: x - y).alias("qrr"),
        )
    )
    return pq.adc_topk(probes, codes, books, _PQ_DIM, k=5)


_PQ_INDEX_CACHE: dict = {}


def q_knn_ivf_adc_persisted(spark, sf_dir):
    """The IVFADC index PERSISTED then queried the scale way: codes written
    as cell-partitioned parquet + codebook sidecar (write_pq_index — the
    reference's segment directory, Index.cpp:9-11), reloaded, and answered
    by a SINGLE mapInArrow scan over the probed cells' partitions with the
    ADC distance tables precomputed driver-side from query metadata and
    shipped in the closure (adc_topk_gather — the SearchEngine.cpp:148-198
    per-cell gather loop). Same oracle as knn_ivf_adc: the persisted
    round-trip plus the one-pass gather must reproduce the declarative
    join-shape result exactly."""
    import os
    import tempfile

    from ivfadc_spark.operators import pq

    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    coarse = _coarse_pdf(e)
    ranked = pq.coarse_assign(e, coarse, nprobe=_IVF_NPROBE)
    if sf_dir not in _PQ_INDEX_CACHE:
        res = pq.residuals(ranked.filter(F.col("r") == 1))
        books = pq.train_pq(res, _PQ_DIM, _PQ_NSQ, _PQ_KS, _PQ_ITERS)
        codes = pq.encode_pq(res, books, _PQ_DIM)
        out = tempfile.mkdtemp(prefix="ivfadc_pqidx_")
        pq.write_pq_index(out, codes, books, coarse)
        _PQ_INDEX_CACHE[sf_dir] = out
    codes2, books2, _ = pq.load_pq_index(spark, _PQ_INDEX_CACHE[sf_dir])
    probes_pdf = (
        ranked.filter((F.col("r") <= _IVF_NPROBE) & (F.col("vec_id") % 100 == 7))
        .select(
            F.col("vec_id").alias("query_id"),
            "cell",
            F.zip_with("v", "b", lambda x, y: x - y).alias("qrr"),
        )
        .toPandas()  # query metadata only: nq x nprobe rows
    )
    return pq.adc_topk_gather(probes_pdf, codes2, books2, _PQ_DIM, k=5)


# ---------------------------------------------------------------- oracles


def _sql_tokens(col="text"):
    return duckdb_tokens_sql(col)


ORACLES: dict[str, str] = {}

ORACLES["fulltext_tf"] = f"""
SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
) GROUP BY doc_id, term
"""

ORACLES["fulltext_dictionary"] = f"""
WITH {_BM25_CTES}
SELECT term, df::BIGINT AS df, cf::BIGINT AS cf,
       round(ln((stats.n - df + 0.5)/(df + 0.5) + 1.0), 9) AS idf
FROM (SELECT term, count(*)::DOUBLE AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term), stats
"""

ORACLES["fulltext_doc_lengths"] = f"""
SELECT doc_id, count(*)::BIGINT AS dl FROM (
  SELECT doc_id, unnest({_TOK}) AS term FROM documents
) GROUP BY doc_id
"""

ORACLES["fulltext_corpus_stats"] = f"""
WITH {_BM25_CTES}
SELECT n::BIGINT AS n_docs, round(avgdl, 6) AS avgdl FROM stats
"""

ORACLES["bm25_topk_dataframe"] = _BM25_TOPK_SQL.format(values=_values_sql())
ORACLES["bm25_topk_wand"] = _BM25_TOPK_SQL.format(values=_values_sql())

# keyset pagination: in a total order, "strictly after the rank-10 hit" ==
# ranks 11..20; a query with <= 10 hits has no page 2 on either side.
# Both sides rank on the ROUNDED score (see operators/scoring.py docstring)
ORACLES["bm25_page_after"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank BETWEEN 11 AND 20
"""

ORACLES["bm25_total_hits"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries)
SELECT query_id::BIGINT AS query_id,
       count(DISTINCT tok.doc_id)::BIGINT AS hits
FROM qt JOIN tok USING(term) GROUP BY 1
"""

ORACLES["bm25_sort_by_attr"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
cand AS (SELECT DISTINCT qt.query_id, tok.doc_id FROM qt JOIN tok USING(term)),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY d.n_chars DESC, doc_id) AS rank, doc_id, d.n_chars
           FROM cand JOIN documents d USING(doc_id))
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars
FROM ranked WHERE rank <= 10
"""

_SYN_VALUES = ", ".join(f"('{t}', '{s}')" for t, s in SYNONYMS)
ORACLES["bm25_synonyms"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
syn(term, syn) AS (VALUES {_SYN_VALUES}),
qt0 AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
qt AS (SELECT DISTINCT query_id, term FROM (
         SELECT query_id, term FROM qt0
         UNION ALL
         SELECT qt0.query_id, syn.syn AS term FROM qt0 JOIN syn USING(term))),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

ORACLES["bm25_function_score"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
boosted AS (SELECT s.query_id, s.doc_id,
                   round(s.score * (1.0 + 0.1*ln(1.0 + d.n_chars)), 6) AS score
            FROM scored s JOIN documents d USING(doc_id)),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM boosted)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank <= 10
"""

ORACLES["bm25_dismax"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
parts AS (
  SELECT qt.query_id, tf.doc_id,
         ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
           * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) AS partial
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats),
scored AS (
  SELECT query_id, doc_id,
         round(max(partial) + 0.3*(sum(partial) - max(partial)), 6) AS score
  FROM parts GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank <= 10
"""
# Lucene delete/scope semantics: candidates filtered, stats full-corpus
ORACLES["bm25_topk_deleted"] = _bm25_masked_sql("tf.doc_id % 17 <> 3")
ORACLES["bm25_topk_scoped"] = _bm25_masked_sql("tf.doc_id % 3 = 1")
# post-compaction: stats rescoped to the surviving corpus
ORACLES["bm25_topk_compacted"] = _bm25_filtered_corpus_sql("doc_id % 17 <> 3")

# faceted search: role is deterministic in doc_id (transcripts_from_documents
# maps role = ['user','assistant','tool'][doc_id % 3]); tombstones
# (doc_id % 17 == 3) are excluded from the matching set
ORACLES["facet_counts"] = f"""
WITH queries(query_id, text) AS (VALUES {{values}}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
cand AS (SELECT DISTINCT qt.query_id, tok.doc_id
         FROM qt JOIN tok USING(term)
         WHERE tok.doc_id % 17 <> 3)
SELECT query_id::BIGINT AS query_id,
       CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
            ELSE 'tool' END AS role,
       count(*)::BIGINT AS n_docs
FROM cand GROUP BY 1, 2
""".format(values=_values_sql())

# facet metric aggregation: same candidate set as facet_counts, plus
# count/avg/max of the matching docs' n_chars per bucket
ORACLES["facet_stats"] = f"""
WITH queries(query_id, text) AS (VALUES {{values}}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
cand AS (SELECT DISTINCT qt.query_id, tok.doc_id
         FROM qt JOIN tok USING(term)
         WHERE tok.doc_id % 17 <> 3)
SELECT query_id::BIGINT AS query_id,
       CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
            ELSE 'tool' END AS role,
       count(*)::BIGINT AS n_docs,
       round(avg(d.n_chars), 6) AS avg_n_chars,
       max(d.n_chars)::BIGINT AS max_n_chars
FROM cand JOIN documents d USING(doc_id) GROUP BY 1, 2
""".format(values=_values_sql())

# completion suggester: dictionary terms extending each prefix, ranked
# df desc, term asc, top 5 per prefix
_COMPLETE_VALUES = ", ".join(f"({i}, '{t}')" for i, t in COMPLETE_QUERYSET)
ORACLES["complete_prefix"] = f"""
WITH prefixes(query_id, prefix) AS (VALUES {_COMPLETE_VALUES}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tf AS (SELECT doc_id, term FROM tok GROUP BY 1, 2),
dict AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
cand AS (SELECT p.query_id, p.prefix, d.term, d.df
         FROM prefixes p JOIN dict d ON d.term LIKE p.prefix || '%'),
ranked AS (SELECT query_id, prefix,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY df DESC, term) AS rn,
                  term, df
           FROM cand)
SELECT query_id::BIGINT AS query_id, prefix, rn::INT AS rn,
       term AS suggestion, df::BIGINT AS df
FROM ranked WHERE rn <= 5
"""

# numeric histogram: exact integer bucketing, same matching set as facets
# (no tombstones on this segment)
ORACLES["value_histogram"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
cand AS (SELECT DISTINCT qt.query_id, tok.doc_id FROM qt JOIN tok USING(term))
SELECT query_id::BIGINT AS query_id,
       (CAST(floor(d.n_chars / 200.0) AS BIGINT) * 200)::BIGINT AS bucket,
       count(*)::BIGINT AS n_docs
FROM cand JOIN documents d USING(doc_id) GROUP BY 1, 2
"""

# index stats: every number recomputed from the raw corpus
ORACLES["index_stats"] = f"""
WITH tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY 1)
SELECT (SELECT count(*) FROM dl)::BIGINT AS n_docs,
       (SELECT count(DISTINCT term) FROM tf)::BIGINT AS n_terms,
       (SELECT count(*) FROM tf)::BIGINT AS n_postings,
       (SELECT sum(tf) FROM tf)::BIGINT AS total_tokens,
       round((SELECT sum(tf) FROM tf) / (SELECT count(*)::DOUBLE FROM dl), 6)
         AS avgdl
"""

# top_hits per bucket: per (query, role) the 2 best hits on the rounded
# score (doc_id tiebreak), role = the deterministic doc_id%3 mapping
ORACLES["facet_top_hits"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
bucketed AS (
  SELECT query_id,
         CASE doc_id % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              ELSE 'tool' END AS role,
         row_number() OVER (PARTITION BY query_id, doc_id % 3
                            ORDER BY score DESC, doc_id) AS hit_rank,
         doc_id, score
  FROM scored)
SELECT query_id::BIGINT AS query_id, role, hit_rank::INT AS hit_rank,
       doc_id::BIGINT AS doc_id, score
FROM bucketed WHERE hit_rank <= 2
"""

# range filter context: candidates restricted to the ts window, statistics
# full-corpus (the Lucene filter-context contract); ts = 2024-01-01 +
# doc_id*37 minutes, same encoding as date_histogram
ORACLES["bm25_range_filter"] = _bm25_masked_sql(
    "(TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(tf.doc_id*37 AS BIGINT))"
    " >= TIMESTAMP '2024-01-03 00:00:00'"
    " AND TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(tf.doc_id*37 AS BIGINT))"
    " < TIMESTAMP '2024-01-08 00:00:00')"
)

# linear recency decay: pure IEEE arithmetic replay of the boost
ORACLES["bm25_recency_decay"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
boosted AS (SELECT query_id, doc_id,
                   round(score * (0.2 + 0.8 * greatest(0.0,
                         1.0 - abs(20160.0 - doc_id*37) / 43200.0)), 6) AS score
            FROM scored),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM boosted)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank <= 10
"""

_UPDATE_VALUES = ", ".join(f"({i}, '{t}')" for i, t in UPDATE_QUERYSET)
# document update replay: corpus = old text of EVERY doc (stats keep the
# stale versions — the uncompacted Lucene contract) UNION new text at
# base-doc_space + dense rank; candidates exclude the stale versions
ORACLES["bm25_topk_updated"] = f"""
WITH queries(query_id, text) AS (VALUES {_UPDATE_VALUES}),
upd AS (
  SELECT (SELECT count(*) FROM documents)
           + row_number() OVER (ORDER BY doc_id) - 1 AS doc_id,
         '{UPDATED_PREFIX}' || text AS text
  FROM documents WHERE doc_id % 23 = 5),
corpus AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id, text FROM upd),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM corpus),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dict AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  WHERE tf.doc_id % 23 <> 5 OR tf.doc_id >= (SELECT count(*) FROM documents)
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

_PREFIX_VALUES = ", ".join(f"({i}, '{t}')" for i, t in PREFIX_QUERYSET)
# wildcard expansion in SQL: the dictionary join condition is LIKE 'stem%'
# for prefix tokens, equality for plain ones; scoring identical to
# _BM25_TOPK_SQL from the expanded (query_id, term) set
ORACLES["prefix_search"] = f"""
WITH queries(query_id, text) AS (VALUES {_PREFIX_VALUES}),
{_BM25_CTES},
qtok AS (SELECT query_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         FROM queries),
qre AS (
  SELECT query_id,
         regexp_replace(tok, '[^a-z0-9]', '', 'g') AS stem,
         regexp_matches(tok, '\*[^a-z0-9]*$') AS is_prefix
  FROM qtok
  WHERE length(regexp_replace(tok, '[^a-z0-9]', '', 'g')) > 0),
qt AS (
  SELECT DISTINCT query_id, d.term
  FROM qre JOIN dict d
    ON (CASE WHEN is_prefix THEN d.term LIKE stem || '%' ELSE d.term = stem END)),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

_FUZZY_VALUES = ", ".join(f"({i}, '{t}')" for i, t in FUZZY_QUERYSET)
# fuzzy expansion in SQL: the dictionary join condition is
# levenshtein <= dist for fuzzy tokens (the ~[N] suffix stripped BEFORE the
# alnum squeeze so "jion~2" stems to "jion", not "jion2"), equality for
# plain ones; scoring identical to _BM25_TOPK_SQL from the expanded set
ORACLES["fuzzy_search"] = f"""
WITH queries(query_id, text) AS (VALUES {_FUZZY_VALUES}),
{_BM25_CTES},
qtok AS (SELECT query_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         FROM queries),
qre AS (
  SELECT query_id,
         regexp_replace(regexp_replace(tok, '~[0-9]?[^a-z0-9]*$', ''),
                        '[^a-z0-9]', '', 'g') AS stem,
         regexp_matches(tok, '~[0-9]?[^a-z0-9]*$') AS is_fuzzy,
         least(coalesce(try_cast(regexp_extract(tok, '~([0-9])[^a-z0-9]*$', 1)
                                 AS INT), 1), 2) AS dist
  FROM qtok
  WHERE length(regexp_replace(regexp_replace(tok, '~[0-9]?[^a-z0-9]*$', ''),
                              '[^a-z0-9]', '', 'g')) > 0),
qt AS (
  SELECT DISTINCT query_id, d.term
  FROM qre JOIN dict d
    ON (CASE WHEN is_fuzzy THEN levenshtein(d.term, stem) <= dist
             ELSE d.term = stem END)),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

# unified-parser replay: the clause table comes from the SAME pure parser
# the engine uses (pinned by tests/test_queryparse.py); the SQL verifies
# everything downstream of the parse — expansion, must/not/phrase
# filtering, deduped scoring. Phrases here are 2-term (adjacency EXISTS).
def _parser_clause_values() -> str:
    from ivfadc_spark.operators.queryparse import parse_queries

    rows = parse_queries(PARSER_QUERYSET)
    return ", ".join(
        f"({q}, {c}, {op}, '{kind}', '{p0}', {p1})" for q, c, op, kind, p0, p1 in rows
    )


ORACLES["query_parser"] = f"""
WITH clauses(query_id, clause_id, op, kind, p0, p1) AS
     (VALUES {_parser_clause_values()}),
{_BM25_CTES},
dtok AS (SELECT doc_id, {_TOK} AS toks FROM documents),
p AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos FROM dtok),
exp AS (
  SELECT c.query_id, c.clause_id, c.op, d.term
  FROM clauses c JOIN dict d ON
    CASE c.kind
      WHEN 'exact' THEN d.term = c.p0
      WHEN 'prefix' THEN d.term LIKE c.p0 || '%'
      WHEN 'fuzzy' THEN abs(length(d.term) - length(c.p0)) <= c.p1
                        AND levenshtein(d.term, c.p0) <= c.p1
      WHEN 'regex' THEN regexp_matches(d.term, '^' || c.p0 || '$')
      ELSE FALSE END),
pterm AS (
  SELECT DISTINCT c.query_id, d.term
  FROM clauses c JOIN dict d
    ON d.term IN (split_part(c.p0, ' ', 1), split_part(c.p0, ' ', 2))
  WHERE c.kind = 'phrase' AND c.op <> 0),
score_terms AS (
  SELECT DISTINCT query_id, term FROM exp WHERE op <> 0
  UNION SELECT query_id, term FROM pterm),
scored AS (
  SELECT st.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM score_terms st JOIN dict USING(term) JOIN tf USING(term)
       JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
havemust AS (
  SELECT e.query_id, tf.doc_id, count(DISTINCT e.clause_id) AS n
  FROM exp e JOIN tf USING(term) WHERE e.op = 1 GROUP BY 1, 2),
needmust AS (
  SELECT query_id,
         count(*) FILTER (op = 1 AND kind <> 'phrase') AS n_must,
         count(*) FILTER (op = 1 AND kind = 'phrase') AS n_pmust
  FROM clauses GROUP BY 1),
phmatch AS (
  SELECT DISTINCT c.query_id, c.clause_id, c.op, p0.doc_id
  FROM clauses c JOIN p p0 ON p0.tok = split_part(c.p0, ' ', 1)
  WHERE c.kind = 'phrase'
    AND EXISTS (SELECT 1 FROM p p1 WHERE p1.doc_id = p0.doc_id
                AND p1.tok = split_part(c.p0, ' ', 2) AND p1.pos = p0.pos + 1)),
havepm AS (SELECT query_id, doc_id, count(DISTINCT clause_id) AS n
           FROM phmatch WHERE op = 1 GROUP BY 1, 2),
excl AS (
  SELECT DISTINCT e.query_id, tf.doc_id FROM exp e JOIN tf USING(term)
  WHERE e.op = 0
  UNION SELECT DISTINCT query_id, doc_id FROM phmatch WHERE op = 0),
final AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM scored s
  JOIN needmust nm USING(query_id)
  LEFT JOIN havemust hm ON hm.query_id = s.query_id AND hm.doc_id = s.doc_id
  LEFT JOIN havepm hp ON hp.query_id = s.query_id AND hp.doc_id = s.doc_id
  WHERE coalesce(hm.n, 0) = nm.n_must AND coalesce(hp.n, 0) = nm.n_pmust
    AND NOT EXISTS (SELECT 1 FROM excl e
                    WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id)),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM final)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

# regexp replay: slash-wrapped tokens join the dictionary on anchored
# regexp_matches, plain tokens on equality; scoring as _BM25_TOPK_SQL
_REGEX_VALUES = ", ".join(f"({i}, '{t}')" for i, t in REGEX_QUERYSET)
ORACLES["regex_search"] = f"""
WITH queries(query_id, text) AS (VALUES {_REGEX_VALUES}),
{_BM25_CTES},
qtok AS (SELECT query_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         FROM queries),
qre AS (
  SELECT query_id, tok,
         tok LIKE '/%/' AND length(tok) > 2 AS is_re,
         '^' || substr(tok, 2, length(tok) - 2) || '$' AS pat,
         regexp_replace(tok, '[^a-z0-9]', '', 'g') AS stem
  FROM qtok),
qt AS (
  SELECT DISTINCT query_id, d.term
  FROM qre JOIN dict d
    ON (CASE WHEN is_re THEN regexp_matches(d.term, pat)
             ELSE length(stem) > 0 AND d.term = stem END)),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

# proximity replay: per-token positions via generate_subscripts; an
# occurrence is a t0 position with SOME t1 position in (p0, p0+slop+1],
# counted once per start (slop=3 -> window 4)
_NEAR_VALUES = ", ".join(f"({i}, '{t}')" for i, t in NEAR_QUERYSET)
ORACLES["near_search"] = f"""
WITH queries(query_id, text) AS (VALUES {_NEAR_VALUES}),
qre AS (SELECT query_id, toks[1] AS t0, toks[2] AS t1
        FROM (SELECT query_id, {_TOK} AS toks FROM queries)),
dtok AS (SELECT doc_id, {_TOK} AS toks FROM documents),
p AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos FROM dtok),
m AS (
  SELECT q.query_id, p0.doc_id, count(*) AS n_occ
  FROM qre q JOIN p p0 ON p0.tok = q.t0
  WHERE EXISTS (SELECT 1 FROM p p1
                WHERE p1.doc_id = p0.doc_id AND p1.tok = q.t1
                  AND p1.pos > p0.pos AND p1.pos <= p0.pos + 4)
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY n_occ DESC, doc_id) AS rank, doc_id, n_occ FROM m)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, n_occ::BIGINT AS n_occ
FROM ranked WHERE rank <= 10
"""

ORACLES["near_unordered"] = ORACLES["near_search"].replace(
    "AND p1.pos > p0.pos AND p1.pos <= p0.pos + 4",
    "AND p1.pos <> p0.pos AND abs(p1.pos - p0.pos) <= 4",
)

# did-you-mean replay: OOV tokens only; suggestions ranked (dist asc,
# df desc, term asc), top 3 per token
_SUGGEST_VALUES = ", ".join(f"({i}, '{t}')" for i, t in SUGGEST_QUERYSET)
ORACLES["suggest_terms"] = f"""
WITH queries(query_id, text) AS (VALUES {_SUGGEST_VALUES}),
{_BM25_CTES},
qtok AS (SELECT DISTINCT query_id, unnest(list_distinct({_TOK})) AS token
         FROM queries),
oov AS (SELECT q.query_id, q.token FROM qtok q
        LEFT JOIN dict d ON d.term = q.token WHERE d.term IS NULL),
cand AS (
  SELECT o.query_id, o.token, d.term AS suggestion,
         levenshtein(d.term, o.token) AS dist, d.df
  FROM oov o JOIN dict d
    ON abs(length(d.term) - length(o.token)) <= 2
  WHERE levenshtein(d.term, o.token) <= 2),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id, token
                  ORDER BY dist, df DESC, suggestion) AS rn FROM cand)
SELECT query_id::BIGINT AS query_id, token, suggestion,
       dist::INT AS dist, df::BIGINT AS df
FROM ranked WHERE rn <= 3
"""

# More-Like-This replay: per seed, terms ranked by tf x idf (ties term
# asc), top 10 become the OR query; the seed is excluded from candidates
_MLT_IDS = ", ".join(str(i) for i in MLT_SEEDS)
ORACLES["more_like_this"] = f"""
WITH {_BM25_CTES},
seedw AS (
  SELECT tf.doc_id AS query_id, tf.term,
         tf.tf * ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0) AS weight
  FROM tf JOIN dict USING(term), stats
  WHERE tf.doc_id IN ({_MLT_IDS})),
qt AS (SELECT query_id, term FROM (
    SELECT query_id, term,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY weight DESC, term) AS rn
    FROM seedw) WHERE rn <= 10),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  WHERE tf.doc_id <> qt.query_id
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

# highlighting replay: BM25 top-10 exactly as _BM25_TOPK_SQL, then each
# (winner doc, query term) pair's first 0-based offset (list_position is
# 1-based, 0 when absent) and occurrence count over the tokenized text
ORACLES["highlight_topk"] = f"""
WITH queries(query_id, text) AS (VALUES {{values}}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id FROM scored),
dtok AS (SELECT doc_id, {_TOK} AS toks FROM documents)
SELECT r.query_id::BIGINT AS query_id, r.rank::INT AS rank,
       r.doc_id::BIGINT AS doc_id, q.term,
       (list_position(d.toks, q.term) - 1)::BIGINT AS first_pos,
       length(list_filter(d.toks, x -> x = q.term))::BIGINT AS n_occ
FROM ranked r JOIN qt q USING(query_id) JOIN dtok d USING(doc_id)
WHERE r.rank <= 10 AND list_position(d.toks, q.term) > 0
""".format(values=_values_sql())

_BOOLEAN_VALUES = ", ".join(f"({i}, '{t}')" for i, t in BOOLEAN_QUERYSET)
# boolean replay: strongest op per (query, term) — NOT(0) < MUST(1) <
# SHOULD(2) by min(); n_must counts OOV musts too (never satisfiable);
# exclusions are distinct (query, doc) pairs anti-joined via NOT EXISTS
ORACLES["bm25_topk_boolean"] = f"""
WITH queries(query_id, text) AS (VALUES {_BOOLEAN_VALUES}),
{_BM25_CTES},
qtok AS (SELECT query_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         FROM queries),
qop AS (
  SELECT query_id, regexp_replace(tok, '[^a-z0-9]', '', 'g') AS term,
         min(CASE WHEN tok LIKE '-%' THEN 0
                  WHEN tok LIKE '+%' THEN 1 ELSE 2 END) AS r
  FROM qtok
  WHERE length(regexp_replace(tok, '[^a-z0-9]', '', 'g')) > 0
  GROUP BY 1, 2),
nmust AS (SELECT query_id, count(*) FILTER (r = 1) AS n_must FROM qop GROUP BY 1),
excl AS (SELECT DISTINCT q.query_id, tf.doc_id
         FROM qop q JOIN tf USING(term) WHERE q.r = 0),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score,
         count(*) FILTER (q.r = 1) AS n_must_match
  FROM qop q JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  WHERE q.r >= 1
  GROUP BY 1, 2),
final AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM scored s JOIN nmust USING(query_id)
  WHERE s.n_must_match = nmust.n_must
    AND NOT EXISTS (SELECT 1 FROM excl e
                    WHERE e.query_id = s.query_id AND e.doc_id = s.doc_id)),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM final)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

# AND-semantics: a doc must contain EVERY query term (n_match counts matched
# distinct terms — qt is deduped — against the query's total distinct tokens
# INCLUDING out-of-vocabulary ones, so an OOV query matches nothing)
ORACLES["bm25_topk_conjunctive"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
qt_n AS (SELECT query_id, count(*) AS n_need FROM qt GROUP BY 1),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score,
         count(*) AS n_match
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
conj AS (SELECT s.query_id, s.doc_id, s.score FROM scored s
         JOIN qt_n USING(query_id) WHERE s.n_match = qt_n.n_need),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM conj)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

ORACLES["doc_map_topk_join"] = f"""
WITH base AS ({_BM25_TOPK_SQL.format(values=_values_sql())})
SELECT query_id, rank, format('conv-{{:06d}}', (doc_id // 8)::BIGINT) AS conv_id,
       (doc_id % 8)::INT AS turn_idx
FROM base
"""

ORACLES["segment_union_df"] = f"""
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest({_TOK}) AS term FROM documents
  ) GROUP BY doc_id, term
) GROUP BY term
"""

# the streaming LSM append preserves the same invariant: summed per-term
# (df, cf) over micro-batch segments == the batch corpus dictionary
ORACLES["streaming_ingest"] = ORACLES["segment_union_df"]

ORACLES["topk_docs_per_term"] = f"""
WITH tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest({_TOK}) AS term FROM documents
  ) GROUP BY doc_id, term
)
SELECT term, rank::INT AS rank, doc_id, tf FROM (
  SELECT term, doc_id, tf,
         row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rank
  FROM tf
) WHERE rank <= 3
"""

ORACLES["lineitem_agg"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)) / 1000.0, 0) AS revenue_k,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*)::BIGINT AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

ORACLES["revenue_per_nation"] = """
SELECT r_name, n_name, round(sum(o_totalprice), 0) AS revenue,
       count(*)::BIGINT AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

ORACLES["topk_orders_per_customer"] = """
SELECT o_custkey, rank::INT AS rank, o_orderkey, round(o_totalprice, 4) AS o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
) WHERE rank <= 3
"""

ORACLES["filter_scan_limit"] = """
SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 100000
ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
"""

ORACLES["string_funcs"] = """
SELECT p_partkey, lower(p_name) AS name_lower, length(p_name)::BIGINT AS name_len,
       string_split(p_type, ' ')[1] AS type_head,
       substr(p_brand, 1, 5) AS brand5,
       starts_with(p_name, 'a') AS starts_a
FROM part
"""

ORACLES["sample_systematic"] = """
SELECT doc_id, n_chars FROM documents WHERE doc_id % 20 = 0
"""

ORACLES["events_hourly"] = """
SELECT date_trunc('hour', ts)::VARCHAR AS window_start, event_type,
       count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""

ORACLES["sessionize"] = """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, sum(new_s)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM g GROUP BY user_id
"""

ORACLES["exact_dup"] = f"""
SELECT md5(array_to_string({_TOK}, ' ')) AS fingerprint,
       count(*)::BIGINT AS n, min(doc_id) AS min_doc
FROM documents GROUP BY 1
"""

_MINHASH_COLS = ", ".join(
    f"min(md5('s{i}|' || term)) AS h{i}" for i in range(4)
)
ORACLES["minhash_signatures"] = f"""
SELECT doc_id, {_MINHASH_COLS} FROM (
  SELECT doc_id, unnest(list_distinct({_TOK})) AS term FROM documents
) GROUP BY doc_id
"""

ORACLES["minhash_pairs"] = f"""
WITH sig AS (
  SELECT doc_id, {_MINHASH_COLS} FROM (
    SELECT doc_id, unnest(list_distinct({_TOK})) AS term FROM documents
  ) GROUP BY doc_id
),
g AS (SELECT h0, h1, h2, h3, min(doc_id) AS doc_a FROM sig GROUP BY h0, h1, h2, h3)
SELECT g.doc_a, s.doc_id AS doc_b
FROM sig s JOIN g USING (h0, h1, h2, h3)
WHERE s.doc_id > g.doc_a
"""

_SIMHASH_SUMS = ", ".join(
    f"sum(2 * ((h >> {i}) & 1) - 1) AS b{i}" for i in range(_SIMHASH_BITS)
)
_SIMHASH_VAL = " + ".join(
    f"(CASE WHEN b{i} >= 0 THEN {2**i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
)
ORACLES["simhash"] = f"""
WITH t AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM (
    SELECT doc_id, unnest(list_distinct({_TOK})) AS term FROM documents
  )
), s AS (SELECT doc_id, {_SIMHASH_SUMS} FROM t GROUP BY doc_id)
SELECT doc_id, ({_SIMHASH_VAL})::BIGINT AS simhash FROM s
"""

ORACLES["ngram_jaccard"] = f"""
WITH toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, unnest(
    list_transform(generate_series(1, greatest(length(t) - 2, 0)),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
  ) AS shingle FROM toks
),
rare AS (SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= {_NGRAM_MAX_DF}),
sh AS (SELECT sh_all.* FROM sh_all JOIN rare USING(shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= 0.2
"""

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)
ORACLES["lang_id"] = f"""
WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents)
SELECT doc_id,
       round(length(list_filter(toks, x -> x IN ({_SW})))
             / greatest(length(toks), 1), 6) AS stopword_ratio,
       CASE WHEN length(list_filter(toks, x -> x IN ({_SW})))
                 / greatest(length(toks), 1) > 0.05
            THEN 'en' ELSE 'unk' END AS lang
FROM t
"""

ORACLES["quality"] = f"""
WITH t AS (SELECT doc_id, text, {_TOK} AS toks FROM documents)
SELECT doc_id,
       length(toks)::BIGINT AS n_tokens,
       round(list_sum(list_transform(toks, x -> length(x)))
             / greatest(length(toks), 1), 6) AS mean_token_len,
       round(length(regexp_replace(text, '[^0-9]', '', 'g'))
             / greatest(length(text), 1), 6) AS digit_ratio,
       round(least(length(toks) / 100.0, 1.0)
             * (1.0 - length(regexp_replace(text, '[^0-9]', '', 'g'))
                      / greatest(length(text), 1)), 6) AS quality
FROM t
"""

ORACLES["token_count"] = r"""
SELECT doc_id,
       length(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\s]'))::BIGINT AS n_tokens
FROM documents
"""

_COS = (
    "round(list_dot_product(a, b) / "
    "(sqrt(list_dot_product(a, a)) * sqrt(list_dot_product(b, b))), 6)"
)
ORACLES["knn_brute_cosine"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS a FROM e WHERE vec_id < 5),
c AS (SELECT vec_id AS cand_id, v AS b FROM e),
scored AS (
  SELECT query_id, cand_id, {_COS} AS cosine
  FROM q, c WHERE query_id <> cand_id
)
SELECT query_id, rank::INT AS rank, cand_id, cosine FROM (
  SELECT query_id, cand_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 10
"""

# field collapsing: best doc per (query, source) on the rounded score,
# survivors re-ranked — both orders replay the Spark windows exactly
ORACLES["bm25_collapse"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
best AS (SELECT query_id, doc_id, score, source,
                row_number() OVER (PARTITION BY query_id, source
                                   ORDER BY score DESC, doc_id) AS gr
         FROM scored JOIN documents USING(doc_id)),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score, source
           FROM best WHERE gr = 1)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score, source
FROM ranked WHERE rank <= 10
"""

# hybrid RRF: lexical BM25 rank list (queries 0-4) + cosine rank list for
# the same ids' example vectors; fused score = sum 1/(60+rank), 9dp
ORACLES["hybrid_rrf"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term
       FROM queries WHERE query_id < 5),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
lex AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS rank FROM scored),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vp AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
              round(list_dot_product(q.v, c.v) /
                (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
       FROM e q JOIN e c ON q.vec_id <> c.vec_id WHERE q.vec_id < 5),
vec AS (SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, doc_id) AS rank FROM vp),
fused AS (SELECT query_id, doc_id, round(sum(1.0/(60 + rank)), 9) AS score
          FROM (SELECT * FROM lex WHERE rank <= 50
                UNION ALL SELECT * FROM vec WHERE rank <= 50)
          GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM fused)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank <= 10
"""

# rescore: BM25 top-50 window (rounded-score rank), combined score
# = bm25 + 10*cosine, rounded before the final rank — both orders replayed
ORACLES["bm25_rescore"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term
       FROM queries WHERE query_id < 5),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
first AS (SELECT query_id, doc_id, score, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS r FROM scored),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sec AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               round(list_dot_product(q.v, c.v) /
                 (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sec
        FROM e q, e c WHERE q.vec_id < 5),
rescored AS (SELECT f.query_id, f.doc_id,
                    round(f.score + 10.0 * coalesce(s.sec, 0.0), 6) AS score
             FROM first f LEFT JOIN sec s
               ON f.query_id = s.query_id AND f.doc_id = s.doc_id
             WHERE f.r <= 50),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM rescored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank <= 10
"""

# BM25F title/body: fields from list slices of one tokenize; weighted tf
# and dl are exact-integer sums, saturation arithmetic in Spark's op order
ORACLES["bm25f_title_body"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tokd AS (SELECT doc_id, {_TOK} AS tok FROM documents),
fields AS (
  SELECT doc_id, unnest(tok[1:10]) AS term, 2.0 AS w FROM tokd
  UNION ALL
  SELECT doc_id, unnest(tok[11:]) AS term, 1.0 AS w FROM tokd),
wtf AS (SELECT doc_id, term, sum(w) AS wtf FROM fields GROUP BY 1, 2),
wdl AS (SELECT doc_id, sum(w) AS wdl FROM fields GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(wdl) AS avgwdl FROM wdl),
dict AS (SELECT term, count(*)::DOUBLE AS df FROM wtf GROUP BY 1),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, wtf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * wtf.wtf*({K1}+1)/(wtf.wtf + {K1}*(1 - {B} + {B}*wdl.wdl/stats.avgwdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN wtf USING(term) JOIN wdl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score
FROM ranked WHERE rank <= 10
"""

# significant terms: JLH over the OR matching set, query terms excluded;
# arithmetic written in the Spark expression's exact op order
ORACLES["significant_terms"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
m AS (SELECT DISTINCT qt.query_id, tf.doc_id FROM qt JOIN tf USING(term)),
msize AS (SELECT query_id, count(*)::DOUBLE AS m FROM m GROUP BY 1),
fg AS (SELECT m.query_id, tf.term, count(*)::DOUBLE AS fg_df
       FROM m JOIN tf USING(doc_id) GROUP BY 1, 2),
fgx AS (SELECT fg.query_id, fg.term, fg.fg_df FROM fg
        ANTI JOIN qt ON fg.query_id = qt.query_id AND fg.term = qt.term),
scored AS (SELECT f.query_id, f.term, f.fg_df,
                  round((f.fg_df/s.m - d.df/stats.n)
                        * ((f.fg_df/s.m) / (d.df/stats.n)), 9) AS score
           FROM fgx f JOIN msize s USING(query_id) JOIN dict d USING(term), stats),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, term) AS rank, term, fg_df, score
           FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank, term,
       fg_df::BIGINT AS fg_df, score
FROM ranked WHERE rank <= 10
"""

# percolator: registered AND-semantics queries fire on docs containing
# every query term
ORACLES["percolate"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
tfd AS (SELECT DISTINCT doc_id, term FROM tok),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
need AS (SELECT query_id, count(*)::BIGINT AS n_terms FROM qt GROUP BY 1),
have AS (SELECT tfd.doc_id, qt.query_id, count(*)::BIGINT AS n_have
         FROM tfd JOIN qt USING(term) GROUP BY 1, 2)
SELECT h.query_id::BIGINT AS query_id, h.doc_id::BIGINT AS doc_id,
       n.n_terms AS n_terms
FROM have h JOIN need n USING(query_id) WHERE h.n_have = n.n_terms
"""

_BUCKET = " + ".join(
    f"(CASE WHEN v[{i + 1}] >= 0 THEN {2**i} ELSE 0 END)" for i in range(8)
)
ORACLES["knn_lsh_bucketed"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, ({_BUCKET})::INT AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS a, bucket FROM e WHERE vec_id < 20),
c AS (SELECT vec_id AS cand_id, v AS b, bucket FROM e),
scored AS (
  SELECT query_id, cand_id, {_COS} AS cosine
  FROM q JOIN c USING(bucket) WHERE query_id <> cand_id
)
SELECT query_id, rank::INT AS rank, cand_id, cosine FROM (
  SELECT query_id, cand_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLES["fingerprint_rolling"] = f"""
WITH t AS (
  SELECT doc_id,
         list_transform({_TOK},
           x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % 1000003) AS vals
  FROM documents
)
SELECT doc_id,
       list_reduce(list_prepend(0::BIGINT, vals),
                   (acc, v) -> (acc * 131 + v) % 1000000007) AS fingerprint
FROM t
"""

_NEARDUP_BUCKET = " + ".join(
    f"(CASE WHEN v[{i + 1}] >= 0 THEN {2**i} ELSE 0 END)" for i in range(_NEARDUP_BITS)
)
ORACLES["embedding_near_dup"] = f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
reps AS (SELECT min(vec_id) AS vec_id, v FROM e0 GROUP BY v),
e AS (SELECT vec_id, v, ({_NEARDUP_BUCKET})::INT AS bucket FROM reps),
a AS (SELECT vec_id AS doc_a, v AS a, bucket FROM e),
b AS (SELECT vec_id AS doc_b, v AS b, bucket FROM e)
SELECT doc_a, doc_b, {_COS} AS cosine
FROM a JOIN b USING(bucket)
WHERE doc_a < doc_b AND {_COS} >= {_NEARDUP_THRESHOLD}
"""


def _media_oracle_sql() -> str:
    """Decode-free-of-Spark oracle for media_features: the same 96-payload
    deterministic media table decoded DRIVER-SIDE with plain numpy (no
    Spark, no Arrow, no executors) and embedded as a VALUES literal. Float
    parity: f_sum replays Spark's F.aggregate left fold (float32 widened
    to double per step); rounding replays F.round's HALF_UP via
    clustering._round_half_up. What this checks: the distributed path
    (binary payload round-trip, mapInPandas batching, schema) reproduces
    the reference computation bit-for-bit; codec correctness is
    separately spec-tested (tests/test_media_codecs.py)."""
    import numpy as _np

    from ivfadc_spark.operators.clustering import _round_half_up
    from ivfadc_spark.operators.multimodal import _decode_payload, synth_media_pdf

    pdf = synth_media_pdf(n=96, seed=42)
    rows = []
    for _, r in pdf.iterrows():
        feat = _decode_payload(bytes(r["payload"]), r["kind"])
        acc = 0.0
        for v in feat.tolist():  # same left fold as F.aggregate
            acc = acc + v
        f0, fsum, fmax = (
            float(_round_half_up(_np.asarray([x], dtype=_np.float64), 6)[0])
            for x in (float(feat[0]), acc, float(feat.max()))
        )
        rows.append(f"({int(r['media_id'])}, '{r['kind']}', {f0!r}, {fsum!r}, {fmax!r})")
    return (
        "SELECT media_id::BIGINT AS media_id, kind, f0::DOUBLE AS f0, "
        "f_sum::DOUBLE AS f_sum, f_max::DOUBLE AS f_max FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(media_id, kind, f0, f_sum, f_max)"
    )


ORACLES["media_features"] = _media_oracle_sql()

ORACLES["kmeans_recompute"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS b FROM e WHERE vec_id < {_IVF_NCENTROIDS}),
sim AS (
  SELECT e.vec_id, e.v, cent.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, cent.b) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.b, cent.b)))
           DESC, cent.cell) AS r
  FROM e, cent
),
assigned AS (SELECT cell, v FROM sim WHERE r = 1),
dims AS (SELECT unnest(generate_series(1, (SELECT array_length(v) FROM assigned LIMIT 1))) AS gs),
exploded AS (SELECT cell, gs - 1 AS dim, v[gs::INT] AS val FROM assigned CROSS JOIN dims)
SELECT cell, dim::INT AS dim, count(*)::BIGINT AS n_members,
       round(avg(val), 6) AS mean_val
FROM exploded GROUP BY cell, dim
"""

ORACLES["knn_ivf_probe"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS b FROM e WHERE vec_id < {_IVF_NCENTROIDS}),
sim AS (
  SELECT e.vec_id, e.v, cent.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, cent.b) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.b, cent.b)))
           DESC, cent.cell) AS r
  FROM e, cent
),
assigned AS (SELECT vec_id AS cand_id, v AS b, cell FROM sim WHERE r = 1),
probes AS (SELECT vec_id AS query_id, v AS a, cell FROM sim
           WHERE r <= {_IVF_NPROBE} AND vec_id % 100 = 7),
scored AS (
  SELECT query_id, cand_id, {_COS} AS cosine
  FROM probes JOIN assigned USING(cell) WHERE query_id <> cand_id
)
SELECT query_id, rank::INT AS rank, cand_id, cosine FROM (
  SELECT query_id, cand_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _duck_cos(v, b):
    return (
        f"list_dot_product({v}, {b}) / "
        f"(sqrt(list_dot_product({v},{v})) * sqrt(list_dot_product({b},{b})))"
    )


def _kmeans_cte_parts(iters: int) -> list:
    """CTE chain e, dims, c0, (a_i, m_i, c_i)*: the SAME fixed number of
    Lloyd cycles the Spark loop runs, with identical per-iteration centroid
    rounding (so float-summation order cannot fork the trajectory)."""
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "dims AS (SELECT unnest(generate_series(1, "
        "(SELECT array_length(embedding) FROM embeddings LIMIT 1))) AS gs)",
        f"c0 AS (SELECT vec_id::INT AS cell, v AS b FROM e WHERE vec_id < {_IVF_NCENTROIDS})",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cell FROM (\n"
            f"  SELECT e.vec_id, e.v, c.cell,\n"
            f"         row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            f"{_duck_cos('e.v', 'c.b')} DESC, c.cell) AS r\n"
            f"  FROM e, c{i - 1} c) WHERE r = 1)"
        )
        parts.append(
            f"m{i} AS (SELECT cell, gs - 1 AS dim, count(*) AS n_members, "
            f"round(avg(v[gs::INT]), 6) AS m FROM a{i} CROSS JOIN dims GROUP BY cell, gs)"
        )
        parts.append(
            f"c{i} AS (SELECT cell, list(m ORDER BY dim) AS b FROM m{i} GROUP BY cell)"
        )
    return parts


def _kmeans_train_oracle_sql(iters: int) -> str:
    return (
        "WITH " + ",\n".join(_kmeans_cte_parts(iters))
        + f"\nSELECT cell::INT AS cell, dim::INT AS dim, "
        f"n_members::BIGINT AS n_members, m AS mean_val FROM m{iters}"
    )


ORACLES["kmeans_train"] = _kmeans_train_oracle_sql(_KMEANS_TRAIN_ITERS)

ORACLES["knn_ivf_trained"] = (
    "WITH " + ",\n".join(_kmeans_cte_parts(_IVF_TRAIN_ITERS)) + f""",
sim AS (
  SELECT e.vec_id, e.v, c.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_duck_cos('e.v', 'c.b')} DESC, c.cell) AS r
  FROM e, c{_IVF_TRAIN_ITERS} c
),
assigned AS (SELECT vec_id AS cand_id, v AS b, cell FROM sim WHERE r = 1),
probes AS (SELECT vec_id AS query_id, v AS a, cell FROM sim
           WHERE r <= {_IVF_NPROBE} AND vec_id % 100 = 7),
scored AS (
  SELECT query_id, cand_id, {_COS} AS cosine
  FROM probes JOIN assigned USING(cell) WHERE query_id <> cand_id
)
SELECT query_id, rank::INT AS rank, cand_id, cosine FROM (
  SELECT query_id, cand_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""
)

def _duck_diff(a: str, b: str) -> str:
    return f"list_transform(list_zip({a}, {b}), z -> z[1] - z[2])"


def _duck_l2(a: str, b: str) -> str:
    dd = _duck_diff(a, b)
    return f"list_dot_product({dd}, {dd})"


def _pq_code_ctes() -> list[str]:
    """Shared oracle CTE chain: coarse assign -> residuals -> per-subspace
    Lloyd chains -> codes (identical seeding, iteration count, rounding and
    tie-breaks to operators.pq). Produces CTEs e, cc, car, carp, res,
    rs{s}, s{s}c{i}, code{s} for downstream oracles to extend."""
    m = _PQ_DIM // _PQ_NSQ
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"cc AS (SELECT vec_id::INT AS cell, v AS b FROM e WHERE vec_id < {_IVF_NCENTROIDS})",
        f"car AS (SELECT vec_id, v, cell, b FROM (\n"
        f"  SELECT e.vec_id, e.v, c.cell, c.b,\n"
        f"         row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        f"{_duck_l2('e.v', 'c.b')} ASC, c.cell) AS r FROM e, cc c) WHERE r = 1)",
        f"carp AS (SELECT vec_id, v, cell, b, r FROM (\n"
        f"  SELECT e.vec_id, e.v, c.cell, c.b,\n"
        f"         row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        f"{_duck_l2('e.v', 'c.b')} ASC, c.cell) AS r FROM e, cc c) WHERE r <= {_IVF_NPROBE})",
        f"res AS (SELECT vec_id, cell, {_duck_diff('v', 'b')} AS rr FROM car)",
        f"sdims AS (SELECT unnest(generate_series(1, {m})) AS gs)",
    ]
    for s in range(_PQ_NSQ):
        lo = s * m
        parts.append(
            f"rs{s} AS (SELECT vec_id, rr[{lo + 1}:{lo + m}] AS v FROM res)"
        )
        parts.append(
            f"s{s}c0 AS (SELECT vec_id::INT AS cell, v AS b FROM rs{s} "
            f"WHERE vec_id < {_PQ_KS})"
        )
        for i in range(1, _PQ_ITERS + 1):
            parts.append(
                f"s{s}a{i} AS (SELECT vec_id, v, cell FROM (\n"
                f"  SELECT r.vec_id, r.v, c.cell,\n"
                f"         row_number() OVER (PARTITION BY r.vec_id ORDER BY "
                f"{_duck_l2('r.v', 'c.b')} ASC, c.cell) AS rk\n"
                f"  FROM rs{s} r, s{s}c{i - 1} c) WHERE rk = 1)"
            )
            parts.append(
                f"s{s}m{i} AS (SELECT cell, gs - 1 AS dim, "
                f"round(avg(v[gs::INT]), 6) AS mval "
                f"FROM s{s}a{i} CROSS JOIN sdims GROUP BY cell, gs)"
            )
            parts.append(
                f"s{s}c{i} AS (SELECT cell, list(mval ORDER BY dim) AS b "
                f"FROM s{s}m{i} GROUP BY cell)"
            )
        parts.append(
            f"code{s} AS (SELECT vec_id, cell AS code_{s} FROM (\n"
            f"  SELECT r.vec_id, c.cell,\n"
            f"         row_number() OVER (PARTITION BY r.vec_id ORDER BY "
            f"{_duck_l2('r.v', 'c.b')} ASC, c.cell) AS rk\n"
            f"  FROM rs{s} r, s{s}c{_PQ_ITERS} c) WHERE rk = 1)"
        )
    return parts


def _pq_adc_oracle_sql() -> str:
    """The knn_ivf_adc oracle: the shared code CTEs + ADC table-gather, with
    identical seeding, iteration count, rounding and tie-breaks."""
    m = _PQ_DIM // _PQ_NSQ
    parts = _pq_code_ctes()
    parts.append(
        f"probes AS (SELECT vec_id AS query_id, cell, {_duck_diff('v', 'b')} AS qrr "
        f"FROM carp WHERE vec_id % 100 = 7)"
    )
    for s in range(_PQ_NSQ):
        lo = s * m
        parts.append(
            f"dt{s} AS (SELECT query_id, probes.cell AS cell, c.cell AS code_{s}, "
            f"{_duck_l2(f'qrr[{lo + 1}:{lo + m}]', 'c.b')} AS d{s} "
            f"FROM probes, s{s}c{_PQ_ITERS} c)"
        )
    code_joins = " ".join(f"JOIN code{s} USING (vec_id)" for s in range(_PQ_NSQ))
    code_cols = ", ".join(f"code_{s}" for s in range(_PQ_NSQ))
    parts.append(
        f"cand AS (SELECT res.vec_id AS cand_id, res.cell, {code_cols} "
        f"FROM res {code_joins})"
    )
    dt_joins = " ".join(
        f"JOIN dt{s} ON (dt{s}.query_id = p.query_id AND dt{s}.cell = p.cell "
        f"AND dt{s}.code_{s} = cand.code_{s})"
        for s in range(_PQ_NSQ)
    )
    adc_sum = " + ".join(f"dt{s}.d{s}" for s in range(_PQ_NSQ))
    parts.append(
        f"scored AS (SELECT p.query_id, cand.cand_id, round({adc_sum}, 6) AS adc "
        f"FROM probes p JOIN cand ON (cand.cell = p.cell AND "
        f"cand.cand_id <> p.query_id) {dt_joins})"
    )
    return (
        "WITH " + ",\n".join(parts) + """
SELECT query_id, rank::INT AS rank, cand_id, adc FROM (
  SELECT query_id, cand_id, adc,
         row_number() OVER (PARTITION BY query_id ORDER BY adc, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""
    )


ORACLES["knn_ivf_adc"] = _pq_adc_oracle_sql()
# the persisted + single-pass-gather path must reproduce the declarative
# result EXACTLY — same oracle, so any round-trip or gather drift mismatches
ORACLES["knn_ivf_adc_persisted"] = _pq_adc_oracle_sql()


def _pq_neardup_oracle_sql() -> str:
    """embedding_near_dup_adc oracle: shared code CTEs -> PQ reconstruction
    (centroid + concatenated sub-centroids) -> LSH-bucket pairs prefiltered
    on approximate (reconstruction) cosine -> exact cosine on survivors."""
    parts = _pq_code_ctes()
    subcat = " || ".join(f"c{s}.b" for s in range(_PQ_NSQ))
    code_joins = " ".join(
        f"JOIN code{s} USING (vec_id) JOIN s{s}c{_PQ_ITERS} c{s} "
        f"ON (c{s}.cell = code{s}.code_{s})"
        for s in range(_PQ_NSQ)
    )
    parts.append(
        f"recon AS (SELECT car.vec_id, "
        f"list_transform(list_zip(car.b, {subcat}), z -> z[1] + z[2]) AS rv "
        f"FROM car {code_joins})"
    )
    parts.append(
        f"eb AS (SELECT vec_id, v, ({_NEARDUP_BUCKET})::INT AS bucket FROM e)"
    )
    parts.append(
        "ra AS (SELECT recon.vec_id AS doc_a, rv AS a, bucket "
        "FROM recon JOIN eb ON (eb.vec_id = recon.vec_id))"
    )
    parts.append(
        "rb AS (SELECT recon.vec_id AS doc_b, rv AS b, bucket "
        "FROM recon JOIN eb ON (eb.vec_id = recon.vec_id))"
    )
    parts.append(
        f"surv AS (SELECT doc_a, doc_b FROM ra JOIN rb USING (bucket) "
        f"WHERE doc_a < doc_b AND {_COS} >= "
        f"{_NEARDUP_THRESHOLD - _NEARDUP_ADC_MARGIN})"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_a, doc_b, {_COS} AS cosine
FROM surv
JOIN (SELECT vec_id AS doc_a, v AS a FROM e) USING (doc_a)
JOIN (SELECT vec_id AS doc_b, v AS b FROM e) USING (doc_b)
WHERE {_COS} >= {_NEARDUP_THRESHOLD}
"""
    )


ORACLES["embedding_near_dup_adc"] = _pq_neardup_oracle_sql()

# config_source: the same BM25 truth with the PARSED knobs as literals
# (k1=1.4, b=0.6, top 7 — any parse/plumbing break mismatches)
ORACLES["config_source"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*(1.4+1)/(tf.tf + 1.4*(1 - 0.6 + 0.6*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 7
"""

ORACLES["bm25_topk_batch"] = _BM25_TOPK_SQL.format(values=_values_sql())
ORACLES["bm25_conjunctive_indexed"] = ORACLES["bm25_topk_conjunctive"]
# federation answers against the segment UNION; the truth is simply BM25
# over the whole corpus
ORACLES["multi_segment_query"] = _BM25_TOPK_SQL.format(values=_values_sql())
# snapshot read AS OF epoch 1 of 3 = the corpus truncated at the second
# delta's upper doc_id bound ((7*n)//10 of the dense id space); stats
# rescoped to the snapshot — same contract as post-compaction search
ORACLES["segments_as_of"] = _bm25_filtered_corpus_sql(
    "doc_id < (SELECT (7*count(*))//10 FROM documents)"
)
ORACLES["multi_segment_batch"] = _BM25_TOPK_SQL.format(values=_values_sql())

_PHRASE_VALUES = ", ".join(f"({i}, '{t}')" for i, t in PHRASESET)
ORACLES["phrase_topk"] = f"""
WITH queries(query_id, text) AS (VALUES {_PHRASE_VALUES}),
toks AS (SELECT doc_id, {_TOK} AS t FROM documents),
q AS (SELECT query_id, {_TOK} AS q FROM queries),
occ AS (
  SELECT q.query_id, toks.doc_id,
         length(list_filter(generate_series(1, greatest(length(t) - length(q) + 1, 0)),
                i -> t[i : i + length(q) - 1] = q)) AS n_occ
  FROM q CROSS JOIN toks),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY n_occ DESC, doc_id) AS rank, doc_id, n_occ
           FROM occ WHERE n_occ >= 1)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, n_occ::BIGINT AS n_occ
FROM ranked WHERE rank <= 10
"""

# phrase federation answers against the segment UNION; the truth is the same
# whole-corpus occurrence count
ORACLES["multi_segment_phrase"] = ORACLES["phrase_topk"]

# stopword/min-length analyzer: the document tokenization filters the stop
# list and 1-char tokens BEFORE any counting (dl/tf/df/avgdl all rescoped);
# query tokenization stays unfiltered — stopped terms are absent from the
# dictionary, so the dict join drops them (the OOV contract)
_STOP_TOK = duckdb_tokens_sql("text", stop=frozenset(STOPWORDS), min_len=2)
ORACLES["bm25_topk_stopwords"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_STOP_TOK}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dict AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score FROM scored)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= 10
"""

# conversation-scoped retrieval: per-turn BM25 scores round to 6dp, group
# by conv = doc_id // 8 (the transcripts-adapter key), group score =
# best turn (score_mode=max), representative doc = argmax by
# (score desc, doc_id asc), groups rank by (score desc, conv asc)
ORACLES["conv_topk"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, round(score, 6) AS score, doc_id // 8 AS conv
      FROM scored),
b AS (SELECT query_id, conv, doc_id, row_number() OVER (
        PARTITION BY query_id, conv ORDER BY score DESC, doc_id) AS rn FROM r),
g AS (SELECT query_id, conv, round(max(score), 6) AS score,
             count(*)::BIGINT AS n_hits FROM r GROUP BY 1, 2),
gb AS (SELECT g.query_id, g.conv, g.score, b.doc_id AS best_doc_id, g.n_hits
       FROM g JOIN b ON g.query_id = b.query_id AND g.conv = b.conv AND b.rn = 1),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, conv) AS rank FROM gb)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank, conv::BIGINT AS conv,
       score, best_doc_id::BIGINT AS best_doc_id, n_hits
FROM ranked WHERE rank <= 5
"""

# hit context: the unrounded BM25 top-5 per query (the bm25_topk
# convention), each hit joined to its conversation's turns within +-1
# turn_idx (conv = doc_id // 8, turn = doc_id % 8)
ORACLES["hit_context"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
hits AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                ORDER BY score DESC, doc_id) AS rank, doc_id FROM scored
         QUALIFY rank <= 5),
meta AS (SELECT doc_id, doc_id // 8 AS conv_id, (doc_id % 8)::INT AS turn_idx
         FROM documents)
SELECT h.query_id::BIGINT AS query_id, h.rank::INT AS rank,
       h.doc_id::BIGINT AS doc_id, m2.doc_id::BIGINT AS ctx_doc_id,
       m2.turn_idx AS ctx_turn_idx,
       (m2.turn_idx - m1.turn_idx)::INT AS "offset"
FROM hits h
JOIN meta m1 ON h.doc_id = m1.doc_id
JOIN meta m2 ON m1.conv_id = m2.conv_id
            AND abs(m2.turn_idx - m1.turn_idx) <= 1
"""

# minimum_should_match=2: the base top-k with a HAVING on the distinct
# matched-term count (qt is deduped, so count(*) counts distinct terms)
ORACLES["bm25_min_should_match"] = _BM25_TOPK_SQL.format(
    values=_values_sql()
).replace(
    "  GROUP BY 1, 2),",
    "  GROUP BY 1, 2 HAVING count(*) >= 2),",
)

_TERMVEC_VALUES = ", ".join(f"({i})" for i in TERMVEC_DOC_IDS)
ORACLES["term_vectors"] = f"""
WITH
{_BM25_CTES},
req(doc_id) AS (VALUES {_TERMVEC_VALUES})
SELECT tf.doc_id::BIGINT AS doc_id, tf.term, tf.tf::BIGINT AS tf,
       dict.df::BIGINT AS df
FROM tf JOIN req USING(doc_id) JOIN dict USING(term)
"""

# cardinality: matching set (OR semantics, distinct) -> per query the doc
# count and the distinct conversation count (conv = doc_id // 8)
ORACLES["conv_cardinality"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
m AS (SELECT DISTINCT qt.query_id, tok.doc_id FROM qt JOIN tok USING(term))
SELECT query_id::BIGINT AS query_id, count(*)::BIGINT AS n_docs,
       count(DISTINCT doc_id // 8)::BIGINT AS n_conv
FROM m GROUP BY 1
"""

# date_histogram: matching set = docs containing >= 1 query term (OR
# semantics, distinct), bucketed by day of the deterministic per-doc ts
ORACLES["date_histogram"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
m AS (SELECT DISTINCT qt.query_id, tok.doc_id FROM qt JOIN tok USING(term))
SELECT query_id::BIGINT AS query_id,
       date_trunc('day', TIMESTAMP '2024-01-01 00:00:00'
                  + (doc_id * 37) * INTERVAL 1 MINUTE)::TIMESTAMP::VARCHAR AS bucket,
       count(*)::BIGINT AS n_docs
FROM m GROUP BY 1, 2
"""


# pipeline aggs over the date_histogram: same matching-set CTE, then one
# window per query in bucket order (running sum, lag-delta from 0, trailing
# 3-bucket average) — integer sums + one rounded division, bit-replayable
ORACLES["histogram_pipeline"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
tok AS (SELECT doc_id, unnest({_TOK}) AS term FROM documents),
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
m AS (SELECT DISTINCT qt.query_id, tok.doc_id FROM qt JOIN tok USING(term)),
h AS (SELECT query_id,
             date_trunc('day', TIMESTAMP '2024-01-01 00:00:00'
                        + (doc_id * 37) * INTERVAL 1 MINUTE) AS bucket,
             count(*) AS n_docs
      FROM m GROUP BY 1, 2)
SELECT query_id::BIGINT AS query_id, bucket::TIMESTAMP::VARCHAR AS bucket,
       n_docs::BIGINT AS n_docs,
       sum(n_docs) OVER (PARTITION BY query_id ORDER BY bucket
                         ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_docs,
       (n_docs - coalesce(lag(n_docs) OVER (PARTITION BY query_id
                                            ORDER BY bucket), 0))::BIGINT AS deriv,
       round(avg(n_docs) OVER (PARTITION BY query_id ORDER BY bucket
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg
FROM h
"""

# diversified top-k: collapse generalized to keep-2 per conversation
ORACLES["bm25_diversified"] = f"""
WITH queries(query_id, text) AS (VALUES {_values_sql()}),
{_BM25_CTES},
qt AS (SELECT query_id, unnest(list_distinct({_TOK})) AS term FROM queries),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         round(sum( ln((stats.n - dict.df + 0.5)/(dict.df + 0.5) + 1.0)
              * tf.tf*({K1}+1)/(tf.tf + {K1}*(1 - {B} + {B}*dl.dl/stats.avgdl)) ), 6) AS score
  FROM qt JOIN dict USING(term) JOIN tf USING(term) JOIN dl USING(doc_id), stats
  GROUP BY 1, 2),
kept AS (SELECT query_id, doc_id, score, doc_id // 8 AS conv,
                row_number() OVER (PARTITION BY query_id, doc_id // 8
                                   ORDER BY score DESC, doc_id) AS gr
         FROM scored),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY score DESC, doc_id) AS rank, doc_id, score, conv
           FROM kept WHERE gr <= 2)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, score, conv::BIGINT AS conv
FROM ranked WHERE rank <= 10
"""

# SpanFirstQuery replay: token positions from generate_subscripts; a doc
# matches when the term occurs at pos < end; rank by first position asc
_SPANFIRST_VALUES = ", ".join(f"({i}, '{t}')" for i, t in SPANFIRST_QUERYSET)
ORACLES["span_first"] = f"""
WITH queries(query_id, text) AS (VALUES {_SPANFIRST_VALUES}),
qre AS (SELECT query_id, toks[1] AS t
        FROM (SELECT query_id, {_TOK} AS toks FROM queries)),
dtok AS (SELECT doc_id, {_TOK} AS toks FROM documents),
p AS (SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos FROM dtok),
m AS (SELECT q.query_id, p.doc_id, min(p.pos) AS first_pos,
             count(*) AS n_occ_within
      FROM qre q JOIN p ON p.tok = q.t
      WHERE p.pos < {_SPANFIRST_END} GROUP BY 1, 2),
ranked AS (SELECT query_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY first_pos, doc_id) AS rank,
                  doc_id, first_pos, n_occ_within FROM m)
SELECT query_id::BIGINT AS query_id, rank::INT AS rank,
       doc_id::BIGINT AS doc_id, first_pos::BIGINT AS first_pos,
       n_occ_within::BIGINT AS n_occ_within
FROM ranked WHERE rank <= 10
"""

# filtered kNN: knn_ivf_probe with the candidate lists restricted to
# label-matching vectors BEFORE scoring (pre-filter semantics)
ORACLES["knn_ivf_filtered"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS b FROM e WHERE vec_id < {_IVF_NCENTROIDS}),
sim AS (
  SELECT e.vec_id, e.v, e.label, cent.cell,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(e.v, cent.b) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.b, cent.b)))
           DESC, cent.cell) AS r
  FROM e, cent
),
assigned AS (SELECT vec_id AS cand_id, v AS b, cell FROM sim
             WHERE r = 1 AND label = {_KNN_FILTER_LABEL}),
probes AS (SELECT vec_id AS query_id, v AS a, cell FROM sim
           WHERE r <= {_IVF_NPROBE} AND vec_id % 100 = 7),
scored AS (
  SELECT query_id, cand_id, {_COS} AS cosine
  FROM probes JOIN assigned USING(cell) WHERE query_id <> cand_id
)
SELECT query_id, rank::INT AS rank, cand_id, cosine FROM (
  SELECT query_id, cand_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


# Dict ORDER is deliberate (round-4 verdict, "Next round" #3): the driver's
# correctness harness checks the FIRST 50 entries of this dict. Rounds 1-4
# always led with the fulltext/bm25 block, so the 42 entries after
# string_funcs (all PQ/kNN/dedup/clustering/analytics) never got a driver
# row past r3 — 19 of them never at all (judge-checked only). Round 5
# rotates: the previously-unchecked 42 come FIRST, then the r4-green 50,
# so driver evidence accumulates across the whole contract.
QUERIES = {
    # --- rotation block: no driver row in r4 (19 of these never had one) ---
    "sample_systematic": q_sample_systematic,
    "events_hourly": q_events_hourly,
    "sessionize": q_sessionize,
    "exact_dup": q_exact_dup,
    "minhash_signatures": q_minhash,
    "minhash_pairs": q_minhash_pairs,
    "simhash": q_simhash,
    "ngram_jaccard": q_ngram_jaccard,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "token_count": q_token_count,
    "knn_brute_cosine": q_knn_brute,
    "knn_lsh_bucketed": q_knn_lsh,
    "fingerprint_rolling": q_fingerprint,
    "media_features": q_media_features,
    "embedding_near_dup": q_embedding_near_dup,
    "embedding_near_dup_adc": q_embedding_near_dup_adc,
    "knn_ivf_probe": q_knn_ivf,
    "knn_ivf_trained": q_knn_ivf_trained,
    "knn_ivf_adc": q_knn_ivf_adc,
    "knn_ivf_adc_persisted": q_knn_ivf_adc_persisted,
    "config_source": q_config_source,
    "multi_segment_batch": q_multi_segment_batch,
    "kmeans_recompute": q_kmeans_recompute,
    "kmeans_train": q_kmeans_train,
    "bm25_topk_stopwords": q_bm25_stopwords,
    "facet_top_hits": q_facet_top_hits,
    "complete_prefix": q_complete_prefix,
    "value_histogram": q_value_histogram,
    "index_stats": q_index_stats,
    "bm25_range_filter": q_bm25_range_filter,
    "bm25_recency_decay": q_bm25_recency_decay,
    "conv_topk": q_conv_topk,
    "hit_context": q_hit_context,
    "bm25_min_should_match": q_bm25_min_should_match,
    "term_vectors": q_term_vectors,
    "date_histogram": q_date_histogram,
    "conv_cardinality": q_conv_cardinality,
    "histogram_pipeline": q_histogram_pipeline,
    "bm25_diversified": q_bm25_diversified,
    "span_first": q_span_first,
    "knn_ivf_filtered": q_knn_ivf_filtered,
    # --- r4 driver-green block (8 of these land in this round's first 50) ---
    "fulltext_tf": q_tf,
    "fulltext_dictionary": q_dictionary,
    "fulltext_doc_lengths": q_doc_lengths,
    "fulltext_corpus_stats": q_corpus_stats,
    "bm25_topk_dataframe": q_bm25_df,
    "bm25_topk_conjunctive": q_bm25_conjunctive,
    "bm25_page_after": q_bm25_page_after,
    "bm25_total_hits": q_bm25_total_hits,
    "bm25_sort_by_attr": q_bm25_sort_by_attr,
    "bm25_synonyms": q_bm25_synonyms,
    "bm25_function_score": q_bm25_function_score,
    "bm25_dismax": q_bm25_dismax,
    "bm25_collapse": q_bm25_collapse,
    "hybrid_rrf": q_hybrid_rrf,
    "significant_terms": q_significant_terms,
    "percolate": q_percolate,
    "bm25_rescore": q_bm25_rescore,
    "bm25f_title_body": q_bm25f_title_body,
    "bm25_topk_wand": q_bm25_wand,
    "bm25_topk_batch": q_bm25_batch,
    "bm25_conjunctive_indexed": q_bm25_conjunctive_indexed,
    "bm25_topk_deleted": q_bm25_deleted,
    "facet_counts": q_facet_counts,
    "facet_stats": q_facet_stats,
    "bm25_topk_updated": q_bm25_updated,
    "prefix_search": q_prefix_search,
    "fuzzy_search": q_fuzzy_search,
    "bm25_topk_boolean": q_bm25_boolean,
    "highlight_topk": q_highlight,
    "more_like_this": q_more_like_this,
    "suggest_terms": q_suggest_terms,
    "near_search": q_near_search,
    "near_unordered": q_near_unordered,
    "regex_search": q_regex_search,
    "query_parser": q_query_parser,
    "bm25_topk_scoped": q_bm25_scoped,
    "bm25_topk_compacted": q_bm25_compacted,
    "multi_segment_query": q_multi_segment,
    "segments_as_of": q_segments_as_of,
    "multi_segment_phrase": q_multi_segment_phrase,
    "phrase_topk": q_phrase_topk,
    "doc_map_topk_join": q_doc_map_join,
    "segment_union_df": q_segment_union,
    "streaming_ingest": q_streaming_ingest,
    "topk_docs_per_term": q_topk_docs_per_term,
    "lineitem_agg": q_lineitem_agg,
    "revenue_per_nation": q_revenue_per_nation,
    "topk_orders_per_customer": q_topk_orders_per_customer,
    "filter_scan_limit": q_filter_scan_limit,
    "string_funcs": q_string_funcs,
}
