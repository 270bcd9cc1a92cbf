"""Positional search over fused positional twin rows: phrase, proximity,
span-first and highlighting.

The reference stores no positions (its queries are bag-of-cells,
/root/reference/SearchEngine.cpp:112-212); phrase/proximity search is the
biggest user-facing gap of that design. A ``with_positions=1`` build writes
each posting's sorted token offsets as a positional TWIN row
(``postings.is_twin``) beside the posting blocks, in the same ``blocks/``
dataset and term_bucket layout, from the same tokenize pass. That is the one positions
layout: ``merge_segments``, ``compact_segment`` and ``SegmentSet`` carry the
twin rows with the blocks, and a segment built without them must be rebuilt
with ``with_positions=1`` to answer positional queries.

:func:`_positions` reads ``(term, doc_id, positions)`` for the probed terms
with the posting scan's pruning (term IN + term_bucket partition prune).
The phrase scan is conjunctive-prefiltered JVM-side (docs containing every
phrase term), then a vectorized kernel intersects offset lists (occurrence
i of phrase w0..wn-1 <=> i in ∩_j (P_j - j)).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.operators.segments import (
    Segment,
    SegmentSet,
    _shift_doc_ids,
    in_list,
    term_buckets,
)

PHRASE_RESULT_SCHEMA = "query_id long, rank int, doc_id long, n_occ long"


def _positions(segment: Segment | SegmentSet, terms: list[str]) -> DataFrame:
    """(term, doc_id, positions) of ``terms`` from the fused positional twin
    rows of a Segment or a SegmentSet; a set's doc ids are shifted into the
    union's space by each member's doc offset, as federation does for
    posting blocks. Tombstoned docs are dropped here, once for every
    positional operator. Raises when a segment has no twin rows."""
    from ivfadc_spark.operators.deletes import drop_deleted
    from ivfadc_spark.operators.postings import decode_position_rows

    buckets = sorted(set(term_buckets(segment, terms).values()))  # no job

    def member(s: Segment, offset: int, _salt_offset: int = 0) -> DataFrame:
        if not int(s.meta["config"].get("with_positions") or 0):
            raise ValueError(
                f"segment {s.path} has no positional rows — rebuild it with "
                "with_positions=1 for phrase, proximity and highlight search"
            )
        probed = s.raw_blocks.filter(in_list("term_bucket", buckets) & in_list("term", terms))
        rows = decode_position_rows(probed).select("term", "doc_id", "positions")
        return _shift_doc_ids(rows, offset)

    rows = segment._union(member) if isinstance(segment, SegmentSet) else member(segment, 0)
    return drop_deleted(rows, segment)


def phrase_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Exact phrase top-k: (query_id, rank, doc_id, n_occ), ranked by
    occurrence count desc then doc_id; docs with zero occurrences drop out.

    Plan: tokenize phrases (ORDER KEPT) -> probe the positional twin rows
    with an IN-filter + term_bucket prune -> conjunctive prefilter JVM-side
    (a doc must contain every distinct phrase term) -> vectorized
    offset-list intersection per (query, doc): occurrence starts =
    ∩_j (P_j - j).

    ``segment`` may be a :class:`SegmentSet`: each member contributes its
    own twin rows, doc ids shifted by the member's cumulative doc_base —
    the same U1 offset remap federation applies to posting blocks. Phrases never
    span documents, so the union of per-member matches IS the corpus
    answer; only the final occurrence-count top-k sees all members.
    """
    from ivfadc_spark.functions.tokenize import tokens_col

    k = k or cfg.top_k
    spark = segment.spark

    # phrase terms with their in-phrase offsets (duplicates kept: "a b a")
    qt = queries.select(
        "query_id", F.posexplode(tokens_col("text")).alias("j", "term")
    ).toPandas()  # queries x phrase length — tiny
    if qt.empty:
        return spark.createDataFrame([], PHRASE_RESULT_SCHEMA)
    terms = sorted(set(qt["term"]))
    by_query = qt.groupby("query_id")["term"]

    positions = _positions(segment, terms)

    # small driver-side frames go through Arrow from pandas: one local
    # relation each, no Python worker tasks
    qt_df = F.broadcast(spark.createDataFrame(qt, "query_id long, j int, term string"))
    cand = positions.join(qt_df, "term")
    # conjunctive prefilter: keep (query, doc) pairs holding every DISTINCT
    # phrase term — pure Catalyst, prunes the Python verify step
    nd = F.broadcast(spark.createDataFrame(
        by_query.nunique().rename("n_need").reset_index(), "query_id long, n_need long"
    ))
    have = (
        cand.groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("n_have"))
        .join(nd, "query_id")
        .filter(F.col("n_have") == F.col("n_need"))
        .select("query_id", "doc_id")
    )
    cand = cand.join(have, ["query_id", "doc_id"], "leftsemi")

    par = spark.sparkContext.defaultParallelism

    # phrase length per query (duplicate terms kept: every (j, term) slot)
    qlen = {int(q): int(n) for q, n in by_query.size().items()}

    def verify(batches):
        # ONE flattened pass, no per-(query, doc) Python: an occurrence of
        # the phrase at start s in doc d means EVERY slot j sees position
        # s + j, i.e. the shifted offset s appears exactly L times for the
        # (query, doc) pair (offsets within a term are unique, so each slot
        # contributes at most one hit per s). n_occ = number of shifted
        # offsets with multiplicity == L — one np.unique over the batch.
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        q = whole["query_id"].to_numpy(np.int64)
        d = whole["doc_id"].to_numpy(np.int64)
        j = whole["j"].to_numpy(np.int64)
        plists = [np.asarray(p, dtype=np.int64) for p in whole["positions"]]
        lens = np.fromiter((p.size for p in plists), dtype=np.int64, count=len(plists))
        if not lens.sum():
            return
        flat = np.concatenate(plists)
        starts = flat - np.repeat(j, lens)
        # factorize (query, doc) rows -> small group ids (query_id values are
        # arbitrary longs, so factorize q first to keep the packed key small)
        uq_l, qx = np.unique(q, return_inverse=True)
        pair = qx * (int(d.max()) + 1) + d
        gids, gidx = np.unique(pair, return_inverse=True)
        g_row = np.repeat(gidx, lens)
        smin = int(starts.min())
        span = int(starts.max()) - smin + 1
        key = g_row * span + (starts - smin)
        uk, cnt = np.unique(key, return_counts=True)
        # required multiplicity per group = its query's phrase length
        g_q = uq_l[(gids // (int(d.max()) + 1)).astype(np.int64)]
        l_g = np.fromiter((qlen[int(x)] for x in g_q), dtype=np.int64, count=gids.size)
        kg = uk // span
        matched = cnt == l_g[kg]
        n_occ = np.bincount(kg[matched], minlength=gids.size)
        hit = n_occ > 0
        if hit.any():
            yield pd.DataFrame({
                "query_id": g_q[hit],
                "doc_id": (gids % (int(d.max()) + 1))[hit],
                "n_occ": n_occ[hit],
            })

    occ = cand.repartition(par, "query_id").mapInPandas(
        verify, "query_id long, doc_id long, n_occ long"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        occ.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "doc_id", "n_occ")
    )


HIGHLIGHT_RESULT_SCHEMA = (
    "query_id long, rank int, doc_id long, term string, first_pos long, n_occ long"
)


def highlight_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Search-result highlighting: for each query's BM25 top-k docs, every
    matched query term's FIRST token offset (0-based) and occurrence count
    — the Lucene unified-highlighter analog, read from the positional
    twin rows (the reference returns bare ranked ids,
    /root/reference/SearchEngine.cpp:221-297; offsets are what a UI needs
    to render snippets without re-tokenizing documents).

    Plan: the normal block-pruned indexed top-k ranks docs; the winner set
    (queries x k rows — tiny) and the query terms broadcast against the
    positional twin rows, probed with the same term IN + term_bucket partition
    prune as phrase search. Positions of non-query terms or non-winner
    docs are never read; per-doc work is two array expressions
    (element_at, size), no Python. ``segment`` may be a SegmentSet (each
    member contributes its twin rows, doc ids shifted by doc_base).
    """
    from ivfadc_spark.functions.tokenize import tokens_col
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    k = k or cfg.top_k
    spark = segment.spark

    top = bm25_topk_indexed(queries, segment, k=k, cfg=cfg).select(
        "query_id", "rank", "doc_id"
    )
    qt = queries.select(
        "query_id", F.explode(F.array_distinct(tokens_col("text"))).alias("term")
    ).toPandas()  # query metadata only — the documented broker
    terms = sorted(set(qt["term"]))
    if not terms:
        return spark.createDataFrame([], HIGHLIGHT_RESULT_SCHEMA)
    positions = _positions(segment, terms)

    qt_df = F.broadcast(spark.createDataFrame(qt, "query_id long, term string"))
    return (
        positions.join(qt_df, "term")
        .join(F.broadcast(top), ["query_id", "doc_id"])
        .select(
            "query_id",
            F.col("rank").cast("int").alias("rank"),
            "doc_id",
            "term",
            F.element_at("positions", 1).cast("long").alias("first_pos"),
            F.size("positions").cast("long").alias("n_occ"),
        )
    )


def span_first_topk(
    queries: DataFrame,
    segment: Segment,
    end: int,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Position-bounded term search (the Lucene SpanFirstQuery analog): a
    doc matches when the query term occurs with token position < ``end``
    (span end <= end in Lucene terms) — "the term appears in the opening
    of the document/turn". Each query must tokenize to exactly ONE term.
    Returns (query_id, rank, doc_id, first_pos, n_occ_within): ranked by
    first qualifying position asc (earlier mention ranks higher), doc_id
    tiebreak; ``n_occ_within`` counts occurrences inside the window.

    Scale shape: identical to phrase/proximity — term IN + term_bucket
    partition pruning on the twin rows, the position test is a
    codegen'd array expression on in-doc occurrence lists (positions are
    stored ascending, so the first element decides the match). SegmentSet
    members probe independently with doc_base shifts."""
    from ivfadc_spark.functions.tokenize import tokens_col

    k = k or cfg.top_k
    spark = segment.spark

    qrows = queries.select(
        "query_id", tokens_col("text").alias("toks")
    ).collect()  # query metadata only — the documented broker
    bad = [r["query_id"] for r in qrows if len(r["toks"]) != 1]
    if bad:
        raise ValueError(
            f"span_first_topk: queries must have exactly one term, got {bad}"
        )
    if not qrows:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, first_pos long, n_occ_within long"
        )
    terms = sorted({r["toks"][0] for r in qrows})
    positions = _positions(segment, terms)

    pairs = spark.createDataFrame(
        pd.DataFrame({
            "query_id": [r["query_id"] for r in qrows],
            "term": [r["toks"][0] for r in qrows],
        }),
        "query_id long, term string",
    )
    # positions are stored ascending -> element 1 is the first occurrence;
    # the window filter is a codegen'd higher-order expression
    within = F.filter("positions", lambda p: p < F.lit(int(end)))
    cand = (
        positions.join(F.broadcast(pairs), "term")
        .select(
            "query_id",
            "doc_id",
            F.try_element_at(within, F.lit(1)).alias("first_pos"),
            F.size(within).cast("long").alias("n_occ_within"),
        )
        .filter(F.col("first_pos").isNotNull())
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.asc("first_pos"), F.asc("doc_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "first_pos", "n_occ_within")
    )


def near_topk(
    queries: DataFrame,
    segment: Segment,
    slop: int = 2,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    ordered: bool = True,
) -> DataFrame:
    """Two-term proximity search (``A NEAR/slop B`` — the Lucene
    SpanNearQuery analog). Ordered (default): an occurrence is a position
    p0 of the first term with SOME position p1 of the second term in
    (p0, p0 + slop + 1]; each start position counts once, so slop=0 is
    exact bigram adjacency (consistent with :func:`phrase_topk`).
    ``ordered=False`` (SpanNearQuery inOrder=false): p1 may fall on either
    side — 0 < |p1 - p0| <= slop + 1 — so "B ... A" matches too. Ranked
    by occurrence count desc then doc_id; zero-count docs drop out.
    Every query must tokenize to exactly two terms.

    Scale shape: same positions probe as phrase search (term IN +
    term_bucket partition prune); the per-doc count is a higher-order
    array expression (filter/exists — JVM codegen, no Python), O(|P0|x|P1|)
    on in-doc occurrence lists only. SegmentSet-aware via doc_base shifts.
    """
    from ivfadc_spark.functions.tokenize import tokens_col

    k = k or cfg.top_k
    spark = segment.spark

    qrows = queries.select(
        "query_id", tokens_col("text").alias("toks")
    ).collect()  # query metadata only — the documented broker
    bad = [r["query_id"] for r in qrows if len(r["toks"]) != 2]
    if bad:
        raise ValueError(f"near_topk: queries must have exactly two terms, got {bad}")
    if not qrows:
        return spark.createDataFrame([], PHRASE_RESULT_SCHEMA)
    terms = sorted({t for r in qrows for t in r["toks"]})
    positions = _positions(segment, terms)

    pairs = spark.createDataFrame(
        pd.DataFrame({
            "query_id": [r["query_id"] for r in qrows],
            "t0": [r["toks"][0] for r in qrows],
            "t1": [r["toks"][1] for r in qrows],
        }),
        "query_id long, t0 string, t1 string",
    )
    p0 = positions.join(
        F.broadcast(pairs.select("query_id", F.col("t0").alias("term"))), "term"
    ).select("query_id", "doc_id", F.col("positions").alias("p0s"))
    p1 = positions.join(
        F.broadcast(pairs.select("query_id", F.col("t1").alias("term"))), "term"
    ).select("query_id", "doc_id", F.col("positions").alias("p1s"))
    win = int(slop) + 1
    if ordered:
        hit = lambda a: F.exists(  # noqa: E731
            "p1s", lambda b: (b > a) & (b <= a + F.lit(win))
        )
    else:
        hit = lambda a: F.exists(  # noqa: E731
            "p1s",
            lambda b: (b != a) & (b >= a - F.lit(win)) & (b <= a + F.lit(win)),
        )
    cand = p0.join(p1, ["query_id", "doc_id"]).select(
        "query_id",
        "doc_id",
        F.size(F.filter("p0s", hit)).cast("long").alias("n_occ"),
    ).filter(F.col("n_occ") > 0)
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("n_occ"), F.asc("doc_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "n_occ")
    )
