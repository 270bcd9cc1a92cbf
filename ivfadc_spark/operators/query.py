"""BM25 query engine — pure-DataFrame path.

Graft of mode-3 search (/root/reference/SearchEngine.cpp:112-212):

- query tokenize + multi-term fan-out  <- quantizeFile multi-assignment
  (/root/reference/Vocab.cpp:132-146, T2)
- query-terms x postings equi-join     <- posting-list probe J1
  (/root/reference/SearchEngine.cpp:148-157)
- BM25 partial score + sum per doc     <- residual reconstruct + dist_l2_sq
  (/root/reference/SearchEngine.cpp:170-184)
- per-query top-k                      <- full sort + truncate T1
  (/root/reference/SearchEngine.cpp:194-198), here a window row_number
  so Catalyst can run TakeOrderedAndProject per partition.

This path is the rank-identity reference inside the engine: the compressed
block-max WAND path (operators/wand.py) must match it exactly, and it must
match the DuckDB oracle. Everything is built-in Catalyst expressions —
whole-stage codegen end to end, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.functions.tokenize import tokens_col


def query_terms(queries: DataFrame, text_col: str = "text") -> DataFrame:
    """(query_id, term) pairs, deduped — multi-assignment analog (a query
    'hits' one posting list per distinct term, /root/reference/Vocab.cpp:236-248)."""
    return queries.select(
        "query_id", F.explode(F.array_distinct(tokens_col(text_col))).alias("term")
    )


def bm25_partial_score(cfg: EngineConfig = DEFAULT):
    """Column expr: idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    Expects columns: idf, tf, dl, avgdl. float64 throughout (rank-identity).
    """
    k1, b = float(cfg.k1), float(cfg.b)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    return F.col("idf") * (F.col("tf") * (k1 + 1.0)) / denom


def bm25_partials(
    qterms: DataFrame,
    tf: DataFrame,
    dictionary: DataFrame,
    dl: DataFrame,
    avgdl: float,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, term, partial): one BM25 partial score per matched
    (query term, candidate doc) — the pre-aggregation stream every scoring
    mode (sum, dismax, coverage counting) reduces differently.

    Join strategy at scale: qterms is tiny (queries x terms) -> broadcast it
    against the tf fact table so the posting probe is a broadcast-hash join
    with no shuffle of the index side (the J1 analog: only the probed lists
    are touched; Catalyst prunes the rest). dictionary is vocabulary-sized ->
    broadcast. dl joins on doc_id after the candidate set is already small.
    """
    cand = tf.join(F.broadcast(qterms), "term")  # J1: posting-list probe
    cand = cand.join(F.broadcast(dictionary.select("term", "idf")), "term")
    cand = cand.join(dl, "doc_id").withColumn("avgdl", F.lit(float(avgdl)))
    return cand.withColumn("partial", bm25_partial_score(cfg)).select(
        "query_id", "doc_id", "term", "partial"
    )


def bm25_scores(
    qterms: DataFrame,
    tf: DataFrame,
    dictionary: DataFrame,
    dl: DataFrame,
    avgdl: float,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(query_id, doc_id, score): the classic BM25 sum over
    :func:`bm25_partials` (partial map-side aggregation, one shuffle on the
    (query_id, doc_id) grouping key)."""
    return (
        bm25_partials(qterms, tf, dictionary, dl, avgdl, cfg)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )


def topk(scores: DataFrame, k: int | None = None, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Per-query top-k, ties broken by doc_id ASC (deterministic).

    T1 analog — but where the reference full-sorts every candidate
    (/root/reference/SearchEngine.cpp:194), the window + row_number filter
    lets Spark keep a bounded per-partition sort.
    """
    k = k or cfg.top_k
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "score")
    )


def bm25_topk(
    queries: DataFrame,
    tf: DataFrame,
    dictionary: DataFrame,
    dl: DataFrame,
    avgdl: float,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """End-to-end: queries(query_id, text) -> (query_id, rank, doc_id, score)."""
    qt = query_terms(queries)
    return topk(bm25_scores(qt, tf, dictionary, dl, avgdl, cfg), k, cfg)


def bm25_topk_conjunctive(
    queries: DataFrame,
    tf: DataFrame,
    dictionary: DataFrame,
    dl: DataFrame,
    avgdl: float,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """AND-semantics top-k: only docs containing EVERY query term rank.

    The reference (like the base path) is pure OR-semantics — it scores any
    doc probed by any assigned cell (/root/reference/SearchEngine.cpp:157).
    Conjunctive matching is the standard search-engine tightening: the same
    broadcast probe join, plus a per-(query, doc) matched-term count
    compared against the query's distinct-term count. A query with any OOV
    term returns no rows (it can never be fully matched) — the DuckDB
    oracle agrees by construction. All built-in expressions, codegen'd.
    """
    qt = query_terms(queries)
    need = qt.groupBy("query_id").agg(F.count("*").alias("n_need"))  # qt is deduped
    scored = (
        bm25_partials(qt, tf, dictionary, dl, avgdl, cfg)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"), F.count("*").alias("n_match"))
        .join(F.broadcast(need), "query_id")
        .filter(F.col("n_match") == F.col("n_need"))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k, cfg)


def bm25_topk_msm(
    queries: DataFrame,
    tf: DataFrame,
    dictionary: DataFrame,
    dl: DataFrame,
    avgdl: float,
    min_should_match: int,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """``minimum_should_match`` semantics (the Lucene BooleanQuery knob
    between pure-OR and pure-AND): a ranked doc must contain at least
    ``min_should_match`` DISTINCT query terms. ``m=1`` is :func:`bm25_topk`,
    ``m = |terms|`` is :func:`bm25_topk_conjunctive`; a query with fewer
    than ``m`` in-vocabulary terms returns nothing (Lucene's unsatisfiable
    rewrite). Same broadcast probe join as the base path plus one COUNT in
    the existing aggregate — no new shuffle."""
    scored = (
        bm25_partials(query_terms(queries), tf, dictionary, dl, avgdl, cfg)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"), F.count("*").alias("n_match"))
        .filter(F.col("n_match") >= int(min_should_match))
        .select("query_id", "doc_id", "score")
    )
    return topk(scored, k, cfg)


def facet_candidates(queries: DataFrame, segment) -> DataFrame:
    """Live (query_id, doc_id) candidates for facet-style aggregations: every
    non-tombstoned doc containing at least one query term (OR semantics).
    Shared plan of :func:`facet_counts` / :func:`facet_stats`: a broadcast
    semi-join on the query terms prunes the blocks scan (term_bucket
    partitions + term min/max row groups — postings of non-query terms are
    never read); tombstones drop via a broadcast anti-join."""
    from ivfadc_spark.operators.postings import decode_blocks

    qt = query_terms(queries)
    blocks = segment.blocks.join(
        F.broadcast(qt.select("term").distinct()), "term", "leftsemi"
    )
    cand = (
        decode_blocks(blocks)
        .select("term", "doc_id")
        .join(F.broadcast(qt), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    from ivfadc_spark.operators.deletes import drop_deleted

    return drop_deleted(cand, segment)


def facet_stats(
    queries: DataFrame,
    segment,
    features: DataFrame,
    attr: str = "role",
    value_col: str = "value",
    round_decimals: int = 6,
) -> DataFrame:
    """Metric aggregation per facet bucket (the terms-aggregation with a
    numeric sub-aggregation of every search UI — beyond :func:`facet_counts`'
    plain bucket counts): per (query, ``attr``) count + avg + max of a
    per-doc numeric feature over the full OR-semantics matching set,
    tombstones excluded. ``features``: (doc_id, <value_col>) — joined
    against the CANDIDATE set only, never the corpus; the aggregation
    shuffles one row per (query, doc)."""
    cand = facet_candidates(queries, segment)
    dm = segment.doc_map.select("doc_id", attr)
    return (
        cand.join(dm, "doc_id")
        .join(features.select("doc_id", value_col), "doc_id")
        .groupBy("query_id", attr)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg(value_col), round_decimals).alias(f"avg_{value_col}"),
            F.max(value_col).alias(f"max_{value_col}"),
        )
    )


def facet_counts(
    queries: DataFrame,
    segment,
    attr: str = "role",
) -> DataFrame:
    """Per-query facet counts over the FULL matching doc set (OR semantics):
    for every live doc containing at least one query term, count docs per
    ``doc_map`` attribute value — the results-sidebar aggregation of every
    search UI (beyond the reference: it has no document attributes,
    /root/reference/SearchEngine.cpp:221-297 returns ranked ids only).

    Scale shape: candidates come from a pruned blocks scan (broadcast
    semi-join on the query terms -> term_bucket partition pruning + term
    min/max row-group pruning — postings of non-query terms are never
    read). The facet
    aggregation shuffles only distinct (query_id, doc_id) pairs, and the
    attribute join touches the candidate set, not the corpus. Tombstones
    are dropped via a broadcast anti-join (deletes are small by
    construction; the Lucene delete contract needs no statistics here
    because facets count, not score).
    """
    cand = facet_candidates(queries, segment)
    dm = segment.doc_map.select("doc_id", attr)
    return (
        cand.join(dm, "doc_id")
        .groupBy("query_id", attr)
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def date_histogram(
    queries: DataFrame,
    segment,
    ts_attrs: DataFrame,
    granularity: str = "day",
) -> DataFrame:
    """Time-bucketed hit counts over the matching set (the ES
    ``date_histogram`` aggregation under a query): per (query, truncated
    timestamp bucket) count of live matching docs — "when was this
    discussed" over a transcript corpus. ``ts_attrs``: (doc_id, ts) — the
    per-doc timestamp attribute, joined against the CANDIDATE set only.
    Shares :func:`facet_candidates`' pruned-scan plan (term_bucket
    partition pruning + tombstone anti-join); the histogram is one
    partial-aggregated count on (query, bucket) — never a corpus scan,
    never a sort."""
    cand = facet_candidates(queries, segment)
    return (
        cand.join(ts_attrs.select("doc_id", "ts"), "doc_id")
        .withColumn("bucket", F.date_trunc(granularity, "ts"))
        .groupBy("query_id", "bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def value_histogram(
    queries: DataFrame,
    segment,
    feats: DataFrame,
    value_col: str,
    interval: int,
) -> DataFrame:
    """Fixed-interval numeric histogram over the matching set (the ES
    ``histogram`` aggregation under a query): per (query, floor(value /
    interval) * interval) count of live matching docs — the numeric twin
    of :func:`date_histogram`. ``feats``: (doc_id, <value_col>) joined
    against the CANDIDATE set only; bucketing is exact integer arithmetic
    so any oracle replays it bit-for-bit. Same pruned-scan plan as every
    facet aggregation; one partial-aggregated count, never a sort."""
    cand = facet_candidates(queries, segment)
    bucket = (F.floor(F.col(value_col) / F.lit(int(interval))) * int(interval)).cast(
        "long"
    )
    return (
        cand.join(feats.select("doc_id", value_col), "doc_id")
        .withColumn("bucket", bucket)
        .groupBy("query_id", "bucket")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def histogram_pipeline(
    hist: DataFrame,
    mavg_window: int = 3,
    round_decimals: int = 6,
) -> DataFrame:
    """Pipeline aggregations over a histogram (the ES ``cumulative_sum`` /
    ``derivative`` / ``moving_avg`` pipeline aggs): given any (query_id,
    bucket, n_docs) frame — :func:`date_histogram` or
    :func:`value_histogram` output — compute per query, in bucket order:
    the running total, the bucket-over-bucket delta (first bucket deltas
    from 0, matching a histogram that starts empty), and the trailing
    ``mavg_window``-bucket moving average (partial windows average what
    exists, the ES ``moving_fn`` default).

    Scale shape: pipeline aggs are post-aggregation — the input is
    (queries x buckets) rows, never corpus-sized (ES runs these on the
    coordinating node). One window partitioned by query_id; sums/counts
    are exact integer arithmetic, the average divides once and rounds, so
    any oracle replays every column bit-for-bit."""
    wb = Window.partitionBy("query_id").orderBy(F.asc("bucket"))
    wsum = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wavg = wb.rowsBetween(-(int(mavg_window) - 1), Window.currentRow)
    return hist.select(
        "query_id",
        "bucket",
        "n_docs",
        F.sum("n_docs").over(wsum).cast("long").alias("cum_docs"),
        (F.col("n_docs") - F.coalesce(F.lag("n_docs", 1).over(wb), F.lit(0)))
        .cast("long")
        .alias("deriv"),
        F.round(
            F.sum("n_docs").over(wavg) / F.count("n_docs").over(wavg),
            round_decimals,
        ).alias("mavg"),
    )


def attr_cardinality(
    queries: DataFrame,
    segment,
    attrs: DataFrame,
    attr: str,
) -> DataFrame:
    """Cardinality aggregation under a query (the ES ``cardinality`` agg):
    per query, the matching-doc count AND the distinct count of a doc
    attribute over the matching set — "how many conversations discuss
    this". Candidates share :func:`facet_candidates`' pruned-scan plan;
    the distinct count is one partial-aggregated groupBy. This is the
    EXACT form (oracle-replayable); at 100 TB swap
    ``F.approx_count_distinct`` (HyperLogLog++, one pass, bounded sketch
    memory — what ES itself does) for the same plan shape."""
    cand = facet_candidates(queries, segment)
    return (
        cand.join(attrs.select("doc_id", attr), "doc_id")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct(attr).cast("long").alias(f"n_{attr}"),
        )
    )


def term_vectors(
    doc_ids: DataFrame,
    docs: DataFrame,
    dictionary: DataFrame,
) -> DataFrame:
    """Per-document term vectors (the ES ``_termvectors`` API / Lucene
    TermVectors): for a REQUESTED set of docs, per (doc, term) the tf plus
    the corpus df — the debugging / MLT-seed surface. ``doc_ids``:
    (doc_id) — request-sized, broadcast; the docs SOURCE table is probed
    by doc_id pushdown (semi-join -> scan prune), never the term-major
    index (reading a doc's vector from an inverted index is a full
    dictionary scan — the classic anti-pattern this operator exists to
    avoid). Tokenize runs over the requested docs only."""
    sel = docs.join(F.broadcast(doc_ids.select("doc_id")), "doc_id", "leftsemi")
    tf = (
        sel.select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    return tf.join(F.broadcast(dictionary.select("term", "df")), "term").select(
        "doc_id", "term", "tf", F.col("df").cast("long").alias("df")
    )


def bm25_topk_boolean(
    queries: DataFrame,
    tf: DataFrame,
    dictionary: DataFrame,
    dl: DataFrame,
    avgdl: float,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Lucene BooleanQuery semantics over whitespace-split query text:
    ``+term`` = MUST, ``-term`` = MUST_NOT, bare = SHOULD.

    A ranked doc must contain every MUST term, no MUST_NOT term, and
    scores as the BM25 sum over its matched MUST + SHOULD terms. Edge
    rules (all mirroring Lucene and the conjunctive path's conventions):
    an out-of-vocabulary MUST term can never be satisfied, so the query
    returns nothing; an OOV MUST_NOT excludes nothing; a term listed
    under several operators resolves to the strongest
    (MUST_NOT > MUST > SHOULD), so ``+a -a`` matches nothing.

    Scale shape: all query-side frames are tiny and broadcast; positives
    probe the tf fact table exactly like :func:`bm25_scores` (J1 —
    broadcast-hash, no index-side shuffle); exclusions are one more
    term-probe whose DISTINCT (query_id, doc_id) pairs anti-join the
    scored candidates on their grouping key. Nothing scans terms outside
    the query. Beyond the reference (pure OR semantics,
    /root/reference/SearchEngine.cpp:148-157).
    """
    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        .withColumn(
            "r",
            F.when(F.col("tok").startswith("-"), F.lit(0))
            .when(F.col("tok").startswith("+"), F.lit(1))
            .otherwise(F.lit(2)),
        )
        .withColumn("term", F.regexp_replace("tok", "[^a-z0-9]", ""))
        .filter(F.length("term") > 0)
        .groupBy("query_id", "term")
        .agg(F.min("r").alias("r"))  # strongest operator wins per term
    )
    pos = toks.filter(F.col("r") >= 1)
    n_must = (
        toks.filter(F.col("r") == 1)
        .groupBy("query_id")
        .agg(F.count("*").alias("n_must"))  # counts OOV musts too (unmatchable)
    )
    cand = tf.join(F.broadcast(pos), "term")
    cand = cand.join(F.broadcast(dictionary.select("term", "idf")), "term")
    cand = cand.join(dl, "doc_id").withColumn("avgdl", F.lit(float(avgdl)))
    scored = (
        cand.withColumn("partial", bm25_partial_score(cfg))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("partial").alias("score"),
            F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).alias("n_must_match"),
        )
        .join(F.broadcast(n_must), "query_id", "left")
        .filter(F.col("n_must_match") == F.coalesce(F.col("n_must"), F.lit(0)))
    )
    neg = toks.filter(F.col("r") == 0).select("query_id", "term")
    excl = tf.join(F.broadcast(neg), "term").select("query_id", "doc_id").distinct()
    scored = scored.join(excl, ["query_id", "doc_id"], "left_anti")
    return topk(scored.select("query_id", "doc_id", "score"), k, cfg)
