"""Positional postings sidecar + phrase search.

The reference stores no positions (its queries are bag-of-cells,
/root/reference/SearchEngine.cpp:112-212); phrase/proximity search is the
biggest user-facing gap of that design, so we add it as an OPTIONAL sidecar
dataset — built separately, never touching the default build path or its
throughput::

    <segment>/positions/   (term, doc_id, positions array<long>),
                           partitioned by term_bucket

Positions parquet-encodes per-(doc, term) sorted token offsets; term_bucket
partitioning gives phrase queries the same partition pruning as posting
blocks. The phrase scan is conjunctive-prefiltered JVM-side (docs containing
every phrase term), then a vectorized kernel intersects offset lists
(occurrence i of phrase w0..wn-1 <=> i in ∩_j (P_j - j)).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.operators.segments import Segment, SegmentSet

PHRASE_RESULT_SCHEMA = "query_id long, rank int, doc_id long, n_occ long"


def _member_positions(segment: Segment, buckets, terms) -> DataFrame:
    """One segment's (term, doc_id, positions) for the probed terms, from
    its sidecar if present else its fused positional twin rows; doc ids are
    SEGMENT-LOCAL (callers shift by doc_base for federation)."""
    spark = segment.spark
    pos_path = os.path.join(segment.path, "positions")
    if os.path.exists(pos_path):
        return spark.read.parquet(pos_path).filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        ).select("term", "doc_id", "positions")
    if bool(int(segment.meta["config"].get("with_positions", 0) or 0)):
        # fused build: positional twin rows (block_id <= -10) live in the
        # blocks dataset under the same term_bucket layout — identical
        # partition pruning, zero extra corpus passes at build time
        from ivfadc_spark.operators.postings import decode_position_rows

        twin = segment.raw_blocks.filter(
            (F.col("block_id") <= -10)
            & F.col("term_bucket").isin(buckets)
            & F.col("term").isin(terms)
        )
        return decode_position_rows(twin).select("term", "doc_id", "positions")
    raise ValueError(
        f"phrase_topk: segment {segment.path} has neither a positions "
        "sidecar (build_positions) nor fused positional rows "
        "(cfg.with_positions=1 at build time)"
    )


def doc_term_positions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """(doc_id, term, positions) with 0-based token offsets — one Arrow
    pass, no shuffle, no Python string objects (RE2 split +
    dictionary-encode + lexsort). Honors the cfg analyzer (stop_terms/min_token_len) so sidecar offsets
    match a filtered build's fused twin rows: offsets index the KEPT
    token stream, exactly like the combiner kernel."""
    pattern = cfg.token_pattern
    stop, min_len = cfg.stop_set(), int(cfg.min_token_len)

    def gen(batches):
        from ivfadc_spark.functions.arrow_pool import use_scalable_pool

        use_scalable_pool()
        import pyarrow as pa
        import pyarrow.compute as pc

        from ivfadc_spark.functions.tokenize import arrow_flat_tokens, filter_tokens

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            flat, par = filter_tokens(
                *arrow_flat_tokens(tbl.column(text_col), pattern), stop, min_len
            )
            if len(flat) == 0:
                continue
            # 0-based offset within each doc's kept-token stream
            starts = np.flatnonzero(np.r_[True, par[1:] != par[:-1]])
            counts = np.diff(np.r_[starts, par.size])
            pos = np.arange(par.size, dtype=np.int64) - np.repeat(starts, counts)
            enc = pc.dictionary_encode(flat)
            enc = enc.combine_chunks() if isinstance(enc, pa.ChunkedArray) else enc
            codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            vocab = enc.dictionary
            # group tokens by (doc, term); stable sort keeps offsets ascending
            order = np.lexsort((pos, codes, par))
            par, codes, pos = par[order], codes[order], pos[order]
            gs = np.r_[True, (par[1:] != par[:-1]) | (codes[1:] != codes[:-1])]
            gstart = np.flatnonzero(gs)
            glen = np.diff(np.r_[gstart, par.size])
            offsets = np.empty(gstart.size + 1, dtype=np.int32)
            offsets[:-1] = gstart
            offsets[-1] = par.size
            pos_list = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(pos, type=pa.int64())
            )
            doc_ids = tbl.column(id_col).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[par[gstart]], type=pa.int64()),
                    vocab.take(pa.array(codes[gstart])),
                    pos_list,
                ],
                names=["doc_id", "term", "positions"],
            )

    return docs.mapInArrow(gen, "doc_id long, term string, positions array<long>")


def build_positions(
    spark: SparkSession,
    transcripts: DataFrame,
    segment_path: str,
    cfg: EngineConfig = DEFAULT,
) -> str:
    """Build the positions sidecar next to an existing segment. Re-derives
    doc ids with the same deterministic assignment the segment used (ids are
    data-derived, sources/transcripts.plan_doc_ids), so no coordination
    with the block build is needed."""
    from ivfadc_spark.sources.transcripts import plan_doc_ids

    with_ids, _ = plan_doc_ids(transcripts, cfg.doc_shards)
    out = os.path.join(segment_path, "positions")
    (
        doc_term_positions(with_ids.select("doc_id", "text"), cfg=cfg)
        .withColumn(
            "term_bucket",
            F.pmod(F.xxhash64("term"), F.lit(cfg.term_buckets)).cast("int"),
        )
        .repartition("term_bucket")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out)
    )
    return out


def phrase_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Exact phrase top-k: (query_id, rank, doc_id, n_occ), ranked by
    occurrence count desc then doc_id; docs with zero occurrences drop out.

    Plan: tokenize phrases (ORDER KEPT) -> probe the positions sidecar with
    an IN-filter + term_bucket prune -> conjunctive prefilter JVM-side (a
    doc must contain every distinct phrase term) -> vectorized offset-list
    intersection per (query, doc): occurrence starts = ∩_j (P_j - j).

    ``segment`` may be a :class:`SegmentSet`: each member contributes its
    own positions source (sidecar or fused twin rows, independently per
    member), doc ids shifted by the member's cumulative doc_base — the same
    U1 offset remap federation applies to posting blocks. Phrases never
    span documents, so the union of per-member matches IS the corpus
    answer; only the final occurrence-count top-k sees all members.
    """
    from ivfadc_spark.functions.tokenize import tokens_col

    k = k or cfg.top_k
    spark = segment.spark
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    # phrase terms with their in-phrase offsets (duplicates kept: "a b a")
    qt = queries.select(
        "query_id", F.posexplode(tokens_col("text")).alias("j", "term")
    )
    qt_rows = qt.collect()  # queries x phrase length — tiny
    if not qt_rows:
        return spark.createDataFrame([], PHRASE_RESULT_SCHEMA)
    terms = sorted({r["term"] for r in qt_rows})
    # bucket ids of the probed terms (xxhash64 is a JVM expression; one
    # driver-local job over the tiny term list)
    buckets = sorted({
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .collect()
    })
    need = {}
    for r in qt_rows:
        need.setdefault(r["query_id"], []).append((r["j"], r["term"]))
    n_distinct = {q: len({t for _, t in js}) for q, js in need.items()}

    if isinstance(segment, SegmentSet):
        positions = None
        for s, off in zip(segment.segments, segment.offsets):
            p = _member_positions(s, buckets, terms)
            if off:
                p = p.withColumn(
                    "doc_id", (F.col("doc_id") + F.lit(int(off))).cast("long")
                )
            positions = p if positions is None else positions.unionByName(p)
    else:
        positions = _member_positions(segment, buckets, terms)

    qt_df = F.broadcast(spark.createDataFrame(qt_rows))
    cand = positions.join(qt_df, "term")
    # conjunctive prefilter: keep (query, doc) pairs holding every DISTINCT
    # phrase term — pure Catalyst, prunes the Python verify step
    nd = F.broadcast(
        spark.createDataFrame(
            [(q, n) for q, n in n_distinct.items()], "query_id long, n_need long"
        )
    )
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
    qlen = {q: len(js) for q, js in need.items()}

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
    sidecar / fused twin rows (the reference returns bare ranked ids,
    /root/reference/SearchEngine.cpp:221-297; offsets are what a UI needs
    to render snippets without re-tokenizing documents).

    Plan: the normal block-pruned indexed top-k ranks docs; the winner set
    (queries x k rows — tiny) and the query terms broadcast against the
    positions source, probed with the same term IN + term_bucket partition
    prune as phrase search. Positions of non-query terms or non-winner
    docs are never read; per-doc work is two array expressions
    (element_at, size), no Python. ``segment`` may be a SegmentSet (each
    member contributes its positions source, doc ids shifted by doc_base).
    """
    from ivfadc_spark.functions.tokenize import tokens_col
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    k = k or cfg.top_k
    spark = segment.spark
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    top = bm25_topk_indexed(queries, segment, k=k, cfg=cfg).select(
        "query_id", "rank", "doc_id"
    )
    qt = queries.select(
        "query_id", F.explode(F.array_distinct(tokens_col("text"))).alias("term")
    )
    qt_rows = qt.collect()  # query metadata only — the documented broker
    terms = sorted({r["term"] for r in qt_rows})
    if not terms:
        return spark.createDataFrame([], HIGHLIGHT_RESULT_SCHEMA)
    buckets = sorted({
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .collect()
    })
    if isinstance(segment, SegmentSet):
        positions = None
        for s, off in zip(segment.segments, segment.offsets):
            p = _member_positions(s, buckets, terms)
            if off:
                p = p.withColumn(
                    "doc_id", (F.col("doc_id") + F.lit(int(off))).cast("long")
                )
            positions = p if positions is None else positions.unionByName(p)
    else:
        positions = _member_positions(segment, buckets, terms)

    qt_df = F.broadcast(spark.createDataFrame(qt_rows))
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
    partition pruning on the positions source, the position test is a
    codegen'd array expression on in-doc occurrence lists (positions are
    stored ascending, so the first element decides the match). SegmentSet
    members probe independently with doc_base shifts."""
    from ivfadc_spark.functions.tokenize import tokens_col

    k = k or cfg.top_k
    spark = segment.spark
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

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
    buckets = sorted({
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .collect()
    })
    if isinstance(segment, SegmentSet):
        positions = None
        for s, off in zip(segment.segments, segment.offsets):
            p = _member_positions(s, buckets, terms)
            if off:
                p = p.withColumn(
                    "doc_id", (F.col("doc_id") + F.lit(int(off))).cast("long")
                )
            positions = p if positions is None else positions.unionByName(p)
    else:
        positions = _member_positions(segment, buckets, terms)

    pairs = spark.createDataFrame(
        [(r["query_id"], r["toks"][0]) for r in qrows], "query_id long, term string"
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
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    qrows = queries.select(
        "query_id", tokens_col("text").alias("toks")
    ).collect()  # query metadata only — the documented broker
    bad = [r["query_id"] for r in qrows if len(r["toks"]) != 2]
    if bad:
        raise ValueError(f"near_topk: queries must have exactly two terms, got {bad}")
    if not qrows:
        return spark.createDataFrame([], PHRASE_RESULT_SCHEMA)
    terms = sorted({t for r in qrows for t in r["toks"]})
    buckets = sorted({
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int").alias("b"))
        .collect()
    })
    if isinstance(segment, SegmentSet):
        positions = None
        for s, off in zip(segment.segments, segment.offsets):
            p = _member_positions(s, buckets, terms)
            if off:
                p = p.withColumn(
                    "doc_id", (F.col("doc_id") + F.lit(int(off))).cast("long")
                )
            positions = p if positions is None else positions.unionByName(p)
    else:
        positions = _member_positions(segment, buckets, terms)

    pairs = spark.createDataFrame(
        [(r["query_id"], r["toks"][0], r["toks"][1]) for r in qrows],
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
