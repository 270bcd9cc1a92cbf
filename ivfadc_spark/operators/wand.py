"""Block-max top-k BM25 over compressed segments (mode-3 graft).

Reference query path (/root/reference/SearchEngine.cpp:112-212): probe the
``ma`` assigned cells' posting lists, reconstruct each posting's residual
from its PQ codes, score, full-sort, truncate. Ours replaces the full scan +
full sort with an **exact MaxScore/block-max scan + bounded candidate set**:

1. Query terms are processed in descending upper-bound order
   (ub_t = idf_t * max block impact — the block-max metadata, O3 analog of
   the coarse-cell residual bound).
2. While unrestricted, whole posting sub-lists are decoded and merged into a
   numpy accumulator (vectorized TAAT; the reference's ``entrymap`` hash-agg,
   /root/reference/SearchEngine.cpp:404-407, done with np.unique/np.add.at).
3. Once the remaining terms' summed upper bound R falls below the current
   k-th accumulated score θ, no unseen doc can reach the top-k: the scan
   *restricts* to the candidate set (docs with acc + R >= θ), and remaining
   terms only intersect candidates — skipping every block whose
   [first_doc, last_doc] range misses them (block-max skipping).
4. Bounded heap equivalent: candidates are pruned each round; the final
   top-k sorts (-score, doc_id) — ties by doc_id ASC, deterministic.

The result is **rank-identical** to the brute-force path (proved in tests):
restriction only ever drops docs whose maximum achievable score is strictly
below the final k-th score.

Scale notes: only blocks of probed terms are read (IN-filter on term +
partition pruning on term_bucket — O1 inverted-file pruning); the per-query
group carries a few posting sub-lists, never the corpus. Salted sub-lists of
one term are independent cursors (scores additive over disjoint doc sets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.functions.codecs import varint_decode
from ivfadc_spark.operators.query import query_terms
from ivfadc_spark.operators.segments import Segment

RESULT_SCHEMA = "query_id long, rank int, doc_id long, score double"

# auto collect_prune threshold: a queries x terms set at or under this many
# rows is collected to the driver for static scan pruning (cheap — it is
# query metadata, never postings); above it the no-collect broadcast
# semi-join path keeps the pipeline fully distributed
_COLLECT_PRUNE_MAX_ROWS = 20_000


def _decode_block_rows(rows: pd.DataFrame, dl_arr: np.ndarray):
    """Decode ALL given block rows in two codec calls (varint streams are
    self-delimiting and concatenable); absolute docIDs via segmented cumsum
    reset at block starts. dl is GATHERED from the resident per-doc lookup
    (format v3 blocks carry no dl stream). Returns (ids, tf, dl) arrays."""
    counts = rows["n"].to_numpy(np.int64)
    total = int(counts.sum())
    deltas = varint_decode(b"".join(bytes(x) for x in rows["doc_ids"]), total).astype(np.int64)
    tf = varint_decode(b"".join(bytes(x) for x in rows["tfs"]), total).astype(np.float64)
    c = np.cumsum(deltas)
    bstarts = np.cumsum(counts) - counts
    base = np.where(bstarts > 0, c[bstarts - 1], 0)
    ids = c - np.repeat(base, counts)
    dl = dl_arr[ids].astype(np.float64)
    return ids, tf, dl


def _scan_one_query(
    pdf: pd.DataFrame, k: int, k1: float, b: float, avgdl: float, dl_arr: np.ndarray,
    live: "np.ndarray | None" = None,
) -> pd.DataFrame:
    """Exact MaxScore scan over one query's candidate blocks (numpy).

    Whole-column decode per term — no per-block python (the v1 form paid a
    ~0.3ms codec call per block via iterrows, unbounded for head terms)."""

    def _impact(tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
        return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))

    qid = int(pdf["query_id"].iloc[0])
    # per-term upper bound from the avgdl-free block stats:
    # idf * impact(max_tf, min_dl, avgdl) >= idf * impact(tf_i, dl_i, avgdl)
    # (impact is increasing in tf, decreasing in dl)
    mt = pdf["max_tf"].to_numpy(np.float64)
    md = pdf["min_dl"].to_numpy(np.float64)
    ub_imp = (mt * (k1 + 1.0)) / (mt + k1 * (1.0 - b + b * md / avgdl))
    term_ub = (
        pdf.assign(ub=pdf["idf"].to_numpy(np.float64) * ub_imp)
        .groupby("term", sort=False)["ub"]
        .max()
        .sort_values(ascending=False)
    )
    terms = list(term_ub.index)
    ubs = term_ub.to_numpy(np.float64)
    suffix = np.concatenate([np.cumsum(ubs[::-1])[::-1][1:], [0.0]])
    by_term = dict(iter(pdf.groupby("term", sort=False)))

    acc_ids = np.empty(0, dtype=np.int64)
    acc_sc = np.empty(0, dtype=np.float64)
    restricted = False
    for j, term in enumerate(terms):
        rows = by_term[term]
        idf = float(rows["idf"].iloc[0])
        R = float(suffix[j])
        if not restricted:
            ids, tf, dl = _decode_block_rows(rows, dl_arr)
            if live is not None and ids.size:
                # mask only REMOVES candidates: every MaxScore bound stays a
                # certified upper bound, top-k stays exact over live docs
                lm = live[ids]
                ids, tf, dl = ids[lm], tf[lm], dl[lm]
            if ids.size:
                all_ids = np.concatenate([acc_ids, ids])
                all_sc = np.concatenate([acc_sc, idf * _impact(tf, dl)])
                acc_ids, inv = np.unique(all_ids, return_inverse=True)
                acc_sc = np.zeros(acc_ids.size, dtype=np.float64)
                np.add.at(acc_sc, inv, all_sc)
            if acc_ids.size >= k and R > 0.0:
                theta = np.partition(acc_sc, acc_sc.size - k)[acc_sc.size - k]
                if R < theta:
                    restricted = True
                    keep = acc_sc + R >= theta
                    acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]
        else:
            if acc_ids.size == 0:
                break
            lo, hi = int(acc_ids[0]), int(acc_ids[-1])
            # block-max range skip, vectorized over the term's blocks
            live_blocks = (rows["last_doc"].to_numpy(np.int64) >= lo) & (
                rows["first_doc"].to_numpy(np.int64) <= hi
            )
            if live_blocks.any():
                ids, tf, dl = _decode_block_rows(rows.loc[live_blocks], dl_arr)
                if live is not None and ids.size:
                    lm = live[ids]
                    ids, tf, dl = ids[lm], tf[lm], dl[lm]
                pos = np.searchsorted(acc_ids, ids)
                pos_ok = pos < acc_ids.size
                hit = np.zeros(ids.size, dtype=bool)
                hit[pos_ok] = acc_ids[pos[pos_ok]] == ids[pos_ok]
                if hit.any():
                    # a doc holds ONE posting per term (one salt), so the
                    # hit positions are unique — plain fancy-index add
                    acc_sc[pos[hit]] += idf * _impact(tf[hit], dl[hit])
            # re-tighten θ and prune candidates with the bound over the
            # still-unprocessed terms (j+1..end) = suffix[j]
            if acc_ids.size >= k:
                theta = np.partition(acc_sc, acc_sc.size - k)[acc_sc.size - k]
                keep = acc_sc + R >= theta
                acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]

    if acc_ids.size == 0:
        return pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])
    order = np.lexsort((acc_ids, -acc_sc))[:k]
    return pd.DataFrame(
        {
            "query_id": qid,
            "rank": np.arange(1, order.size + 1, dtype=np.int32),
            "doc_id": acc_ids[order],
            "score": acc_sc[order],
        }
    )


def bm25_topk_batch(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
    use_dict_cache: bool = False,
) -> DataFrame:
    """Doc-sharded batch top-k BM25 — the throughput path.

    The term-partitioned path (:func:`bm25_topk_indexed`) copies every
    candidate posting block to every query that probes its term: shuffle
    volume grows with n_queries x posting bytes. Here the segment's doc
    shards (one contiguous doc range per build partition; shard =
    salt // SALT_CHUNK_SPAN, S = meta n_shards) are exploited instead: each
    shard is a complete sub-index over its doc range, so

      1. ship each shard's (query-term-filtered) blocks ONCE to one task —
         duplication factor is S, independent of batch size (the reference's
         process-level scatter over segment shards,
         /root/reference/vk_word_complete/startup.py:31-42);
      2. the task decodes each (term, shard) list once, then answers EVERY
         query against its shard with vectorized TAAT accumulation and emits
         a local exact top-k (scores are doc-local, global stats broadcast);
      3. global top-k = per-query merge of S local top-ks (S*k tiny rows).

    Rank-identical to the term-partitioned path and the brute-force oracle.

    ``doc_mask``: optional doc_space-sized boolean keep-mask (attribute
    scoping, boolean NOT, ...). Tombstones recorded by ``delete_docs`` are
    ALWAYS applied on top (Lucene semantics: deleted docs never surface;
    corpus stats stay the segment's until compaction).
    """
    import numpy as np

    from pyspark.sql.window import Window

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    spark = segment.spark

    from ivfadc_spark.operators.deletes import combine_masks, live_mask

    _lm = combine_masks(live_mask(segment), doc_mask)
    bmask = spark.sparkContext.broadcast(_lm) if _lm is not None else None

    # query prep: tokenize distributed (JVM explode) and collect the
    # QUERY-sized term frame (the broker role: n_queries x terms rows,
    # bounded by the batch — documented broker bound). idf then comes from
    # a TERM-PRUNED dictionary scan: ``term IN (...)`` pushes down to the
    # dict parquet (row-group stats / dictionary pages), so only matching
    # slices are read and the driver never materializes the vocabulary —
    # at 100x (hundreds of millions of terms) the old full-dictionary
    # ``dict_pdf`` merge was the first OOM. ``use_dict_cache=True`` keeps
    # the resident merge as an explicit opt-in for small segments where
    # the cached frame amortizes across many batches.
    qt_pdf = query_terms(queries).toPandas()
    if qt_pdf.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    if use_dict_cache:
        qt_pdf = qt_pdf.merge(segment.dict_pdf[["term", "idf"]], on="term")  # drops OOV
    else:
        idf_pdf = (
            segment.dictionary.select("term", "idf")
            .filter(F.col("term").isin(sorted(set(qt_pdf["term"]))))
            .toPandas()
        )
        qt_pdf = qt_pdf.merge(idf_pdf, on="term")  # drops OOV
    if qt_pdf.empty:
        return spark.createDataFrame([], RESULT_SCHEMA)
    bq = spark.sparkContext.broadcast(qt_pdf)
    terms = sorted(set(qt_pdf["term"]))

    # sentinel doc-stats rows (term NULL, block_id -1) ride along: they carry
    # each chunk's (doc_id -> dl) table, which is where the scan takes dl
    # from since format v3 dropped the per-posting dl stream. dl thus ships
    # ONCE PER SHARD (bytes ~ docs/shard), not once per posting.
    blocks = segment.raw_blocks.filter(
        # sentinels (block_id -1) ride along; positional twin rows (<= -10)
        # must NOT enter the scoring scan
        (F.col("block_id") >= -1)
        & (F.col("term").isNull() | F.col("term").isin(terms))
    ).select(
        "term", "salt", "block_id", "n", "doc_ids", "tfs", "dls",
        "max_tf", "min_dl",
    )
    # the shard count comes from the segment's own build meta (Segment
    # refuses to open anything but a doc-sharded v3 build)
    n_shards = int(segment.meta["n_shards"])
    # scan granularity = the PARTITION-level doc shard (salt // span): the
    # fine chunk salts only bounded the encoder's working set — grouping by
    # them would pay per-group fixed costs hundreds of times per task.
    # range-partition on shard: hash repartition collides shard ids into
    # uneven tasks (~1/e of partitions empty, stragglers with 2-3 shards);
    # contiguous ranges give one-ish shard per task.
    from ivfadc_spark.operators.postings import SALT_CHUNK_SPAN, _ranges

    par = spark.sparkContext.defaultParallelism
    # salt = pid * SALT_CHUNK_SPAN + chunk
    shard_col = (F.col("salt") / F.lit(SALT_CHUNK_SPAN)).cast("int")
    # salt is KEPT: within a term, chunk salts are consecutive doc ranges of
    # the source partition, so (salt, block_id) order makes the concatenated
    # term slice globally doc-sorted — the restricted path binary-searches it
    blocks = blocks.withColumn("shard", shard_col)
    cand = blocks.repartitionByRange(min(n_shards, par * 2), "shard")

    # key stride = the TOTAL doc id space (zero-token docs included: ids are
    # dense over all transcript rows, so max doc_id can exceed the BM25
    # n_docs — using n_docs here would alias adjacent queries' keys)
    n_docs_total = int(segment.doc_space) + 1
    chunk_target = 262_144

    def _topk_per_query(qids, docs, scores, kk, doc_sorted=False):
        """Vectorized per-query top-k over (qid, doc, score) triples.
        Order: qid asc, score desc, doc asc (exact tie-break).

        doc_sorted=True: rows already ordered by (qid asc, doc asc) — then a
        STABLE 2-key lexsort (score desc, qid asc) inherits doc-asc tie
        order from the input, saving a third sort pass."""
        if doc_sorted:
            order = np.lexsort((-scores, qids))
        else:
            order = np.lexsort((docs, -scores, qids))
        qo = qids[order]
        starts = np.flatnonzero(np.r_[True, qo[1:] != qo[:-1]])
        counts = np.diff(np.r_[starts, qo.size])
        within = np.arange(qo.size) - np.repeat(starts, counts)
        keep = within < kk
        return order[keep], (within[keep] + 1).astype(np.int32)

    def scan_shards(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        qp = bq.value
        is_sent = whole["block_id"].to_numpy() == -1
        sent_by_shard = (
            dict(iter(whole[is_sent].groupby("shard", sort=False)))
            if is_sent.any()
            else {}
        )
        for _shard, sg in whole[~is_sent].groupby("shard", sort=False):
            # whole-shard vectorized decode: varint streams are
            # self-delimiting, so ALL blocks decode in two codec calls
            # (per-block calls cost ~0.3ms each and dominate otherwise);
            # docIDs then need a segmented cumsum reset at block starts.
            t_start: dict = {}
            t_len: dict = {}
            t_maximp: dict = {}
            id_bufs, tf_bufs, counts_l = [], [], []
            pos = 0
            for term, tg in sg.groupby("term", sort=False):
                tg = tg.sort_values(["salt", "block_id"], kind="mergesort")
                id_bufs.extend(bytes(x) for x in tg["doc_ids"])
                tf_bufs.extend(bytes(x) for x in tg["tfs"])
                counts_l.extend(int(x) for x in tg["n"])
                tl = int(tg["n"].sum())
                t_start[term] = pos
                t_len[term] = tl
                pos += tl
                # per-term impact bound from the avgdl-free block stats —
                # feeds the MaxScore restriction below
                mt = tg["max_tf"].to_numpy(np.float64)
                md = tg["min_dl"].to_numpy(np.float64)
                t_maximp[term] = float(
                    ((mt * (k1 + 1.0)) / (mt + k1 * (1.0 - b + b * md / avgdl))).max()
                )
            if pos == 0:
                continue
            counts = np.asarray(counts_l, dtype=np.int64)
            deltas = varint_decode(b"".join(id_bufs), pos).astype(np.int64)
            tf = varint_decode(b"".join(tf_bufs), pos).astype(np.float64)
            # segmented cumsum: absolute ids = cumsum(deltas) minus the
            # running total at each block's start
            c = np.cumsum(deltas)
            bstarts = np.cumsum(counts) - counts
            base = np.where(bstarts > 0, c[bstarts - 1], 0)
            all_ids = c - np.repeat(base, counts)
            # per-doc norm from this shard's SENTINEL rows — each chunk's
            # (doc_id -> dl) table, decoded once per shard
            sent = sent_by_shard.get(_shard)
            if sent is None or not len(sent):
                raise ValueError(
                    "bm25_topk_batch: shard has posting blocks but "
                    "no sentinel doc-stats rows — segment is corrupt or "
                    "was filtered without term IS NULL"
                )
            s_counts = sent["n"].to_numpy(np.int64)
            s_tot = int(s_counts.sum())
            s_deltas = varint_decode(
                b"".join(bytes(x) for x in sent["doc_ids"]), s_tot
            ).astype(np.int64)
            s_dl = varint_decode(
                b"".join(bytes(x) for x in sent["dls"]), s_tot
            ).astype(np.float64)
            sc = np.cumsum(s_deltas)
            s_starts = np.cumsum(s_counts) - s_counts
            s_base = np.where(s_starts > 0, sc[s_starts - 1], 0)
            s_ids = sc - np.repeat(s_base, s_counts)
            lo_id = int(s_ids.min())
            # NaN-initialized so a posting doc id NOT covered by the
            # sentinel table (corrupt / partially-filtered segment)
            # raises instead of gathering uninitialized garbage; ids
            # below lo_id would index negatively — checked explicitly.
            norm = np.full(int(s_ids.max()) - lo_id + 1, np.nan, dtype=np.float64)
            norm[s_ids - lo_id] = k1 * (1.0 - b + b * s_dl / avgdl)
            gidx = all_ids - lo_id
            if gidx.size and (int(gidx.min()) < 0 or int(gidx.max()) >= norm.size):
                raise ValueError(
                    "bm25_topk_batch: posting doc_id outside the shard's "
                    "sentinel doc-stats range — segment is corrupt"
                )
            denom = norm[gidx]
            if np.isnan(denom).any():
                raise ValueError(
                    "bm25_topk_batch: posting doc_id missing from the "
                    "sentinel doc-stats table — segment is corrupt"
                )
            all_imp = (tf * (k1 + 1.0)) / (tf + denom)
            if bmask is not None:
                # drop masked-out (deleted / out-of-scope) postings and
                # recompute the term slice offsets — surviving ids keep
                # their order, so the doc-sorted-slice invariant holds and
                # every bound (built pre-filter) stays an upper bound
                lv_post = bmask.value[all_ids]
                if not lv_post.all():
                    tl_arr = np.fromiter(
                        t_len.values(), dtype=np.int64, count=len(t_len)
                    )
                    ord_post = np.repeat(np.arange(tl_arr.size), tl_arr)[lv_post]
                    all_ids, all_imp = all_ids[lv_post], all_imp[lv_post]
                    new_len = np.bincount(ord_post, minlength=tl_arr.size)
                    new_start = np.r_[0, np.cumsum(new_len)[:-1]]
                    for i, t in enumerate(list(t_start)):
                        t_start[t] = int(new_start[i])
                        t_len[t] = int(new_len[i])
            # multi-query vectorized MaxScore TAAT, processed in ROUNDS of
            # descending per-query term upper bound (ub = idf * max block
            # impact). Keys pack (chunk-local query ordinal << SHIFT | doc),
            # so one sorted accumulator serves every query at once and the
            # query part is a SHIFT instead of an int64 division.
            #
            # Per round, three query states:
            #   ACTIVE    — postings union-merged into the accumulator
            #               (np.unique + bincount, the flat-TAAT kernel)
            #   RESTRICTED— the query already holds k candidates whose k-th
            #               score θ exceeds the remaining-terms bound R: no
            #               unseen doc can reach its top-k, so its remaining
            #               (low-ub = LONG posting list) terms never enter a
            #               union again — each is scored by binary-searching
            #               the query's frozen candidate docs into the term's
            #               doc-sorted slice, O(C log P) instead of O(P)
            #   EXHAUSTED — no terms left; candidates leave the accumulator
            #               so later unions stay small
            # Restriction is detected WITHOUT sorting: θ > R  <=>  at least
            # k accumulated scores strictly exceed R (one bincount); the
            # exact k-th is computed only at freeze time per newly-restricted
            # query (np.partition of its segment), where candidates that
            # cannot reach θ with bound R are also dropped — the same exact
            # top-k argument as _scan_one_query, vectorized across the chunk.
            qt = qp[qp["term"].isin(t_start.keys())]
            if qt.empty:
                continue
            ub_col = (
                qt["idf"].to_numpy(np.float64)
                * qt["term"].map(t_maximp).to_numpy(np.float64)
            )
            qt = qt.assign(_ub=ub_col)
            # per-query descending-ub order (ties by term: deterministic);
            # mergesort keeps it stable
            qt = qt.sort_values(
                ["query_id", "_ub", "term"], ascending=[True, False, True],
                kind="mergesort",
            )
            qt_ids = qt["query_id"].to_numpy(np.int64)
            qt_idf = qt["idf"].to_numpy(np.float64)
            starts_j = qt["term"].map(t_start).to_numpy(np.int64)
            lens_j = qt["term"].map(t_len).to_numpy(np.int64)
            ubs_j = qt["_ub"].to_numpy(np.float64)
            csum = np.cumsum(lens_j)
            # chunk on query boundaries; cache-resident chunks: big chunks saturate
            # memory bandwidth when every core runs this loop (measured 3x wall
            # regression at 2M elements x 32 workers)
            qb = np.r_[np.flatnonzero(qt_ids[1:] != qt_ids[:-1]) + 1, qt_ids.size]
            q_first = np.r_[0, qb[:-1]]
            q_sizes = np.diff(np.r_[0, qb])
            # term rank within its query (= round index) and the ub mass of
            # the query's LATER rounds (the MaxScore remaining bound R)
            round_j = np.arange(qt_ids.size) - np.repeat(q_first, q_sizes)
            cs_ub = np.cumsum(ubs_j)
            R_after = np.repeat(cs_ub[qb - 1], q_sizes) - cs_ub
            # cumsum differences are NOT exact suffix sums: cancellation can
            # understate the remaining-terms bound by ~n*eps*|cs|, and the
            # pruning argument needs R to be a CERTIFIED upper bound. For
            # nonnegative ubs the cumsum error at any index is bounded by
            # n*eps*cs[-1]; inflating by twice that keeps R >= true suffix.
            R_after += 2.0 * np.finfo(np.float64).eps * qt_ids.size * float(cs_ub[-1])
            edges, base = [0], 0
            while edges[-1] < qt_ids.size:
                j = int(np.searchsorted(csum[qb - 1], base + chunk_target))
                nxt = int(qb[min(j, qb.size - 1)])
                if nxt <= edges[-1]:
                    nxt = int(qb[np.searchsorted(qb, edges[-1], side="right")])
                edges.append(nxt)
                base = csum[nxt - 1]
            shift = int(n_docs_total - 1).bit_length()
            mask = (1 << shift) - 1
            out_q, out_d, out_s = [], [], []
            for lo, hi in zip(edges[:-1], edges[1:]):
                if int(lens_j[lo:hi].sum()) == 0:
                    continue
                p_q = qt_ids[lo:hi]
                p_idf = qt_idf[lo:hi]
                p_start = starts_j[lo:hi]
                p_len = lens_j[lo:hi]
                p_round = round_j[lo:hi]
                p_R = R_after[lo:hi]
                uq, q_inv = np.unique(p_q, return_inverse=True)
                q_last = np.zeros(uq.size, dtype=np.int64)
                np.maximum.at(q_last, q_inv, p_round)
                restricted = np.zeros(uq.size, dtype=bool)
                acc_keys = np.empty(0, dtype=np.int64)
                acc_sc = np.empty(0, dtype=np.float64)
                frozen: dict = {}  # qloc -> [docs_sorted, scores]
                done: list = []  # exhausted queries' (qloc, doc, score)
                n_rounds = int(p_round.max()) + 1
                for r in range(n_rounds):
                    sel = np.flatnonzero(p_round == r)
                    res = sel[restricted[q_inv[sel]]]
                    unres = sel[~restricted[q_inv[sel]]]
                    for j in res:
                        ql = q_inv[j]
                        docs_f, sc_f = frozen[ql]
                        s0 = p_start[j]
                        sl = all_ids[s0 : s0 + p_len[j]]
                        pos = np.searchsorted(sl, docs_f)
                        ok = pos < sl.size
                        hit = np.zeros(docs_f.size, dtype=bool)
                        hit[ok] = sl[pos[ok]] == docs_f[ok]
                        if hit.any():
                            sc_f[hit] += p_idf[j] * all_imp[s0 + pos[hit]]
                        # progressive prune: θ rises as terms land while the
                        # remaining bound falls — candidates below θ - R out
                        if docs_f.size > 4 * k:
                            kth = np.partition(sc_f, sc_f.size - k)[sc_f.size - k]
                            fk = sc_f + p_R[j] >= kth
                            if not fk.all():
                                frozen[ql] = [docs_f[fk], sc_f[fk]]
                    if unres.size:
                        ln = p_len[unres]
                        idx = _ranges(p_start[unres], ln)
                        keys = np.concatenate([
                            acc_keys,
                            (q_inv[unres].repeat(ln) << shift) | all_ids[idx],
                        ])
                        vals = np.concatenate([
                            acc_sc,
                            p_idf[unres].repeat(ln) * all_imp[idx],
                        ])
                        acc_keys, inv = np.unique(keys, return_inverse=True)
                        acc_sc = np.bincount(inv, weights=vals)
                    if acc_keys.size == 0 or r == n_rounds - 1:
                        if r == n_rounds - 1:
                            break
                        continue
                    aql = acc_keys >> shift
                    Rnow = np.full(uq.size, np.inf)
                    Rnow[q_inv[sel]] = p_R[sel]
                    Rnow[q_last <= r] = 0.0
                    above = acc_sc > Rnow[aql]
                    cnt = np.bincount(aql, weights=above, minlength=uq.size)
                    newly = (cnt >= k) & ~restricted & (q_last > r)
                    exhaust = (~restricted) & (q_last <= r)
                    if newly.any() or exhaust.any():
                        is_new = newly[aql]
                        is_done = exhaust[aql]
                        if exhaust.any():
                            done.append((
                                aql[is_done],
                                acc_keys[is_done] & mask,
                                acc_sc[is_done],
                            ))
                        if newly.any():
                            mv_keys = acc_keys[is_new]
                            mv_sc = acc_sc[is_new]
                            mv_q = aql[is_new]
                            bnd = np.flatnonzero(np.r_[True, mv_q[1:] != mv_q[:-1]])
                            for s, e in zip(bnd, np.r_[bnd[1:], mv_q.size]):
                                ql = int(mv_q[s])
                                seg_sc = mv_sc[s:e]
                                kth = np.partition(seg_sc, seg_sc.size - k)[
                                    seg_sc.size - k
                                ]
                                fk = seg_sc + Rnow[ql] >= kth
                                frozen[ql] = [
                                    (mv_keys[s:e][fk] & mask).astype(np.int64),
                                    seg_sc[fk].copy(),
                                ]
                            restricted |= newly
                        stay = ~(is_new | is_done)
                        acc_keys, acc_sc = acc_keys[stay], acc_sc[stay]
                # emit: per-query THRESHOLD selection (>= k-th score; tie
                # supersets are fine — merge_topk re-ranks exactly). A
                # np.partition per query beats a full lexsort here.
                ql_l, d_l, s_l = [], [], []
                if acc_keys.size:
                    ql_l.append(acc_keys >> shift)
                    d_l.append(acc_keys & mask)
                    s_l.append(acc_sc)
                for ql, (docs_f, sc_f) in frozen.items():
                    ql_l.append(np.full(docs_f.size, ql, dtype=np.int64))
                    d_l.append(docs_f)
                    s_l.append(sc_f)
                for t3 in done:
                    ql_l.append(t3[0])
                    d_l.append(t3[1])
                    s_l.append(t3[2])
                if not ql_l:
                    continue
                eq = np.concatenate(ql_l)
                ed = np.concatenate(d_l)
                es = np.concatenate(s_l)
                order = np.argsort(eq, kind="stable")
                eq, ed, es = eq[order], ed[order], es[order]
                bnd = np.flatnonzero(np.r_[True, eq[1:] != eq[:-1]])
                keep = np.zeros(eq.size, dtype=bool)
                for s, e in zip(bnd, np.r_[bnd[1:], eq.size]):
                    seg_sc = es[s:e]
                    if seg_sc.size <= k:
                        keep[s:e] = True
                    else:
                        kth = np.partition(seg_sc, seg_sc.size - k)[seg_sc.size - k]
                        keep[s:e] = seg_sc >= kth
                out_q.append(uq[eq[keep]])
                out_d.append(ed[keep])
                out_s.append(es[keep])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "doc_id": np.concatenate(out_d),
                        "score": np.concatenate(out_s),
                    }
                )

    local = cand.mapInPandas(scan_shards, "query_id long, doc_id long, score double")

    # final merge: per query pick k best of <= S*k local candidates —
    # vectorized (one lexsort + segment-rank per task, no per-group loop)
    def merge_topk(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        qids = whole["query_id"].to_numpy(np.int64)
        docs = whole["doc_id"].to_numpy(np.int64)
        scores = whole["score"].to_numpy(np.float64)
        keep, rank = _topk_per_query(qids, docs, scores, k)
        yield pd.DataFrame(
            {
                "query_id": qids[keep],
                "rank": rank,
                "doc_id": docs[keep],
                "score": scores[keep],
            }
        )

    return local.repartition(par, "query_id").mapInPandas(merge_topk, RESULT_SCHEMA)


def bm25_topk_indexed(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    collect_prune: bool | None = None,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 from a compressed segment, rank-identical to the
    DataFrame path. queries: (query_id, text).

    ``collect_prune=None`` (default) auto-switches on the query-terms batch
    size: small batches take the driver-side static-prune path, large ones
    the no-collect broadcast semi-join path — the caller no longer has to
    know which regime they are in.

    ``doc_mask``: optional doc_space-sized boolean keep-mask (attribute
    scoping, boolean NOT, ...). Tombstones recorded by ``delete_docs`` are
    ALWAYS applied on top (Lucene semantics: deleted docs never surface;
    corpus stats stay the segment's until compaction)."""
    from ivfadc_spark.operators.deletes import combine_masks, live_mask

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    _lm = combine_masks(live_mask(segment), doc_mask)

    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))
    qt = (
        query_terms(queries)
        .join(F.broadcast(segment.dictionary.select("term", "idf")), "term")  # drops OOV
        .withColumn("term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
    )
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, _lm, collect_prune)


def _topk_scan_from_qt(
    segment: Segment,
    qt: DataFrame,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    _lm: "np.ndarray | None",
    collect_prune: bool | None,
) -> DataFrame:
    """Shared pruned-scan core of the indexed top-k paths: takes a resolved
    (query_id, term, idf, term_bucket) frame (however the caller produced
    it — exact dictionary join, prefix expansion, ...) and runs the
    block-pruned MaxScore scan."""
    spark = segment.spark
    qt_rows = None
    if collect_prune is None:
        probe = qt.limit(_COLLECT_PRUNE_MAX_ROWS + 1).collect()
        if len(probe) <= _COLLECT_PRUNE_MAX_ROWS:
            collect_prune, qt_rows = True, probe  # limit() returned everything
        else:
            collect_prune = False
    if collect_prune:
        # small-batch / low-latency path: collect the (tiny) query-terms set
        # and prune the blocks scan STATICALLY — term_bucket partition prune
        # + term row-group min/max prune (O1 inverted-file pruning).
        if qt_rows is None:
            qt_rows = qt.collect()
        if not qt_rows:
            return spark.createDataFrame([], RESULT_SCHEMA)
        terms = sorted({r["term"] for r in qt_rows})
        buckets = sorted({r["term_bucket"] for r in qt_rows})
        qt_df = F.broadcast(
            spark.createDataFrame(qt_rows).select("term", "query_id", "idf")
        )
        blocks = segment.blocks.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )
    else:
        # large-batch / throughput path: no driver round-trip — the query
        # term set is broadcast JVM-side and prunes the scan via a broadcast
        # semi-join (partition pruning via DPP on term_bucket where
        # applicable). Use for batches where a Python collect of
        # queries x terms would serialize the pipeline.
        qt_df = F.broadcast(qt.select("term", "query_id", "idf"))
        blocks = segment.blocks.join(
            F.broadcast(qt.select("term").distinct()), "term", "leftsemi"
        )
    cand = blocks.join(qt_df, "term")

    # hash-partition by query, then scan MANY queries per task inside one
    # mapInPandas pass. groupBy().applyInPandas here pays per-GROUP Arrow +
    # invocation overhead (~10ms x n_queries — it dominates the batch);
    # mapInPandas pays it per PARTITION. A query's rows may span Arrow
    # batches, so each task concatenates its partition (bounded: one
    # partition holds ~n_queries/par query working sets) before grouping.
    par = spark.sparkContext.defaultParallelism
    cand = cand.repartition(par, "query_id")
    bdl = segment.dl_broadcast  # resident per-doc dl (v3: blocks carry no dl)
    bmask = spark.sparkContext.broadcast(_lm) if _lm is not None else None

    def scan(batches):
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        whole = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        dl_arr = bdl.value
        lv = bmask.value if bmask is not None else None
        for _, g in whole.groupby("query_id", sort=False):
            yield _scan_one_query(g, k, k1, b, avgdl, dl_arr, live=lv)

    return cand.mapInPandas(scan, RESULT_SCHEMA)


def prefix_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 with Lucene-style trailing-wildcard terms (``quer*``).

    Query text is whitespace-split; a token ending in ``*`` is a PREFIX and
    expands against the term dictionary (Lucene's scoring multi-term
    rewrite: every expanded term scores with its OWN idf, deduped per query
    so a term never counts twice even when several prefixes or an exact
    token also match it). Plain tokens behave exactly as in
    :func:`bm25_topk_indexed`.

    Scale shape: expansion never touches postings — the prefix set is query
    metadata (collected driver-side, the documented broker pattern) and
    becomes ONE filtered pass over the dictionary; ``startswith`` pushes to
    the parquet scan as StringStartsWith, so a term-sorted dictionary gets
    row-group range pruning for free. The expanded (query_id, term) set
    then drives the same block-pruned MaxScore scan as exact search.
    """
    from ivfadc_spark.operators.deletes import combine_masks, live_mask

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    _lm = combine_masks(live_mask(segment), doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))
    spark = segment.spark

    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        # a token is a prefix when a star ends its alphanumeric part —
        # trailing punctuation after the star ("quer*," at a clause end)
        # must not demote it to an exact term
        .withColumn("is_prefix", F.col("tok").rlike(r"\*[^a-z0-9]*$"))
        .withColumn("stem", F.regexp_replace("tok", "[^a-z0-9]", ""))
        .filter(F.length("stem") > 0)
        .select("query_id", "stem", "is_prefix")
        .distinct()
    )
    d = segment.dictionary.select("term", "idf")
    exact = (
        toks.filter(~F.col("is_prefix"))
        .select("query_id", F.col("stem").alias("term"))
        .join(F.broadcast(d), "term")
        .select("query_id", "term", "idf")
    )
    prefixes = [
        r["stem"]
        for r in toks.filter("is_prefix").select("stem").distinct().collect()
    ]
    if prefixes:
        pred = None
        for p in prefixes:
            c = F.col("term").startswith(p)
            pred = c if pred is None else (pred | c)
        pref_df = toks.filter("is_prefix").select(
            "query_id", F.col("stem").alias("p")
        )
        expanded = (
            d.filter(pred)  # one dictionary pass, predicate pushed to scan
            .join(F.broadcast(pref_df), F.col("term").startswith(F.col("p")))
            .select("query_id", "term", "idf")
        )
        qt = exact.unionByName(expanded).distinct()
    else:
        qt = exact.distinct()
    qt = qt.withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, _lm, None)


def fuzzy_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 with Lucene fuzzy terms (``spakr~`` or ``spakr~2``).

    Query text is whitespace-split; a token ending in ``~`` (optionally
    ``~N``, N capped at 2, default 1) is FUZZY and expands to every
    dictionary term within plain Levenshtein distance N — Lucene's scoring
    multi-term rewrite, same as :func:`prefix_topk`: each expanded term
    scores with its OWN idf, deduped per query (the stem itself matches at
    distance 0). Plain tokens behave exactly as in ``bm25_topk_indexed``.

    Scale shape: fully declarative — the tiny fuzzy stem set broadcasts
    against ONE dictionary pass (a broadcast nested-loop join with a
    length-band prune ahead of the levenshtein evaluation; the postings
    are never touched by expansion). Lucene walks its term FST with a
    Levenshtein automaton to the same effect — here the O(vocabulary)
    columnar scan is the Spark-native equivalent, and the vocabulary is
    corpus-bounded, not corpus-sized. The expanded (query_id, term) set
    then drives the shared block-pruned MaxScore scan.
    """
    from ivfadc_spark.operators.deletes import combine_masks, live_mask

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    _lm = combine_masks(live_mask(segment), doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        # the ~[N] marker ends the token (trailing punctuation tolerated,
        # mirroring prefix_topk); strip it BEFORE the alnum squeeze so
        # "term~1" never collapses to the unrelated stem "term1"
        .withColumn("is_fuzzy", F.col("tok").rlike(r"~[0-9]?[^a-z0-9]*$"))
        .withColumn(
            "dist",
            F.least(
                F.coalesce(
                    F.nullif(
                        F.regexp_extract("tok", r"~([0-9])[^a-z0-9]*$", 1), F.lit("")
                    ).cast("int"),
                    F.lit(1),
                ),
                F.lit(2),
            ),
        )
        .withColumn(
            "stem",
            F.regexp_replace(
                F.regexp_replace("tok", r"~[0-9]?[^a-z0-9]*$", ""), "[^a-z0-9]", ""
            ),
        )
        .filter(F.length("stem") > 0)
        .select("query_id", "stem", "is_fuzzy", "dist")
        .distinct()
    )
    d = segment.dictionary.select("term", "idf")
    exact = (
        toks.filter(~F.col("is_fuzzy"))
        .select("query_id", F.col("stem").alias("term"))
        .join(F.broadcast(d), "term")
        .select("query_id", "term", "idf")
    )
    fz = toks.filter("is_fuzzy").select("query_id", F.col("stem").alias("s"), "dist")
    expanded = d.join(
        F.broadcast(fz),
        (F.abs(F.length("term") - F.length("s")) <= F.col("dist"))
        & (F.levenshtein(F.col("term"), F.col("s")) <= F.col("dist")),
    ).select("query_id", "term", "idf")
    qt = exact.unionByName(expanded).distinct().withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, _lm, None)


def mlt_topk(
    seed_ids,
    segment: Segment,
    docs: DataFrame,
    k: int | None = None,
    max_terms: int = 10,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """More-Like-This: for each seed doc, the top-k most similar OTHER docs
    — Lucene's MoreLikeThis rewrite: the seed's terms are ranked by
    tf x idf (ties by term asc), the best ``max_terms`` become an OR query
    that scores through the normal BM25 kernel, and the seed itself is
    excluded from its results. query_id in the output IS the seed doc_id.

    Scale shape: seed term vectors come from the SOURCE docs table, not
    the index — postings are term-major, so reading a doc's vector from
    blocks would scan every term, while ``docs.filter(doc_id IN seeds)``
    is a predicate-pushdown point lookup (Lucene reads its stored
    per-doc term vectors to the same end). Seed stats are seed-sized,
    idf comes from the broadcast dictionary, and the expanded
    (query_id, term) set drives the shared block-pruned MaxScore scan.
    """
    from pyspark.sql.window import Window

    from ivfadc_spark.functions.tokenize import tokens_col
    from ivfadc_spark.operators.deletes import combine_masks, live_mask

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    _lm = combine_masks(live_mask(segment), doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    seeds = docs.filter(
        F.col("doc_id").isin([int(x) for x in seed_ids])
    ).select(F.col("doc_id").alias("query_id"), "text")
    stf = (
        seeds.select("query_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    w = stf.join(
        F.broadcast(segment.dictionary.select("term", "idf")), "term"
    ).withColumn("weight", F.col("tf") * F.col("idf"))
    sel = Window.partitionBy("query_id").orderBy(F.desc("weight"), F.asc("term"))
    qt = (
        w.withColumn("rn", F.row_number().over(sel))
        .filter(F.col("rn") <= int(max_terms))
        .select("query_id", "term", "idf")
        .withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
        )
    )
    res = _topk_scan_from_qt(segment, qt, k + 1, k1, b, avgdl, _lm, None)
    rerank = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        res.filter(F.col("doc_id") != F.col("query_id"))  # k+1 absorbs the self-hit
        .withColumn("rank", F.row_number().over(rerank).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def suggest_terms(
    queries: DataFrame,
    segment: Segment,
    max_dist: int = 2,
    n_suggest: int = 3,
) -> DataFrame:
    """Did-you-mean: for each OUT-OF-VOCABULARY query token, the top
    spelling suggestions from the term dictionary — ranked by edit
    distance asc, then document frequency desc, then term asc (the Lucene
    DirectSpellChecker default comparator). In-vocabulary tokens produce
    no rows (nothing to correct); tokens with no dictionary term within
    ``max_dist`` produce none either.

    Output: (query_id, token, suggestion, dist, df).

    Scale shape: same as :func:`fuzzy_topk`'s expansion — the OOV token
    set is tiny and broadcasts against ONE dictionary pass (length-band
    prune ahead of levenshtein); the ranking window partitions by
    (query, token) over at most vocabulary-sized candidates. Postings are
    never touched.
    """
    from pyspark.sql.window import Window

    from ivfadc_spark.functions.tokenize import tokens_col

    toks = (
        queries.select(
            "query_id", F.explode(F.array_distinct(tokens_col("text"))).alias("token")
        )
        .distinct()
        .join(
            F.broadcast(
                segment.dictionary.select(F.col("term").alias("token"))
            ),
            "token",
            "left_anti",  # only OOV tokens need correcting
        )
    )
    cand = segment.dictionary.select("term", "df").join(
        F.broadcast(toks),
        F.abs(F.length("term") - F.length("token")) <= F.lit(int(max_dist)),
    ).withColumn("dist", F.levenshtein(F.col("term"), F.col("token"))).filter(
        F.col("dist") <= int(max_dist)
    )
    sel = Window.partitionBy("query_id", "token").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rn", F.row_number().over(sel))
        .filter(F.col("rn") <= int(n_suggest))
        .select(
            "query_id",
            "token",
            F.col("term").alias("suggestion"),
            F.col("dist").cast("int").alias("dist"),
            F.col("df").cast("long").alias("df"),
        )
    )


def complete_prefix(
    queries: DataFrame,
    segment: Segment,
    n_suggest: int = 5,
) -> DataFrame:
    """Completion suggester (the ES suggest-as-you-type / Lucene
    completion-field contract): for each query's partial token, the top
    dictionary terms extending it — ranked by document frequency desc then
    term asc (popularity-weighted completions). ``queries``: (query_id,
    text) where text IS the partial token; a prefix with no extensions
    produces no rows.

    Scale shape: the prefix set is query metadata broadcast against ONE
    dictionary pass (the :func:`fuzzy_topk` expansion shape); the ranking
    window partitions per query over at most vocabulary-sized candidates.
    Postings are never touched — completion is a dictionary-only surface.
    """
    from pyspark.sql.window import Window

    pref = queries.select("query_id", F.lower(F.trim(F.col("text"))).alias("prefix"))
    cand = segment.dictionary.select("term", "df").join(
        F.broadcast(pref), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= int(n_suggest))
        .select(
            "query_id",
            "prefix",
            F.col("rn").cast("int").alias("rn"),
            F.col("term").alias("suggestion"),
            F.col("df").cast("long").alias("df"),
        )
    )


def regex_topk(
    queries: DataFrame,
    segment: Segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
    doc_mask: "np.ndarray | None" = None,
) -> DataFrame:
    """Top-k BM25 with Lucene RegexpQuery terms: a whitespace token wrapped
    in slashes (``/sc.n/``) expands to every dictionary term whose ENTIRE
    text matches the pattern (anchored ``^pat$`` — Lucene regexp semantics);
    plain tokens behave exactly as in ``bm25_topk_indexed``. Same scoring
    multi-term rewrite as :func:`prefix_topk` / :func:`fuzzy_topk`: each
    expansion scores with its own idf, deduped per query.

    Scale shape: fully declarative — the tiny pattern set broadcasts
    against ONE dictionary pass (a broadcast nested-loop join evaluating
    regexp_like per (term, pattern)); postings are never touched by
    expansion, and the expanded set drives the shared block-pruned
    MaxScore scan. Lucene compiles the regex to an automaton and
    intersects it with the term FST — the O(vocabulary) columnar scan is
    the Spark-native equivalent over a corpus-bounded vocabulary.
    """
    from ivfadc_spark.operators.deletes import combine_masks, live_mask

    k = k or cfg.top_k
    k1, b = float(cfg.k1), float(cfg.b)
    avgdl = float(segment.meta["avgdl"])
    _lm = combine_masks(live_mask(segment), doc_mask)
    n_buckets = int(segment.meta["config"].get("term_buckets", cfg.term_buckets))

    toks = (
        queries.select(
            "query_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        .withColumn(
            "is_re", F.col("tok").rlike("^/.+/$")
        )
        .withColumn(
            "pat",
            F.concat(
                F.lit("^"),
                F.expr("substring(tok, 2, length(tok) - 2)"),
                F.lit("$"),
            ),
        )
        .withColumn("stem", F.regexp_replace("tok", "[^a-z0-9]", ""))
        .select("query_id", "tok", "is_re", "pat", "stem")
        .distinct()
    )
    d = segment.dictionary.select("term", "idf")
    exact = (
        toks.filter(~F.col("is_re") & (F.length("stem") > 0))
        .select("query_id", F.col("stem").alias("term"))
        .join(F.broadcast(d), "term")
        .select("query_id", "term", "idf")
    )
    pats = toks.filter("is_re").select("query_id", "pat")
    expanded = d.join(
        F.broadcast(pats), F.regexp_like(F.col("term"), F.col("pat"))
    ).select("query_id", "term", "idf")
    qt = exact.unionByName(expanded).distinct().withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")
    )
    return _topk_scan_from_qt(segment, qt, k, k1, b, avgdl, _lm, None)
