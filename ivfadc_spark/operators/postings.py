"""Posting-list construction — the mode-2 index build, Spark-first.

Reference pipeline (/root/reference/Index.cpp:5-155): quantize each doc to a
cell, append ``[cell, codes...]`` to a doc-ordered log behind a mutex, then
pivot to cell-ordered posting lists (``gen_idx_sz_file``). Ours is a
combiner (:func:`build_blocks_inplace`): each range partition of the corpus
(one contiguous doc_id range) is tokenized, tf-aggregated, docID-sorted and
delta+varint block-encoded in ONE map pass, with per-block max-impact
ingredients (O2/O3). No posting row crosses the network; only the encoded
blocks move, in the term_bucket layout write.

Skew: the reference serializes hot-centroid file writes behind a spin lock
(reference IO.h:503-522) — the Zipfian pathology that would make one Spark
task build the "the" posting list at 10^12 turns. Here every posting list
is split by doc range instead: a block's ``salt`` is its source partition
and encode chunk (``pid * SALT_CHUNK_SPAN + chunk``), so a head term is
split across every partition by construction, each (term, salt) sub-list
is independently docID-sorted, and the query scan treats sub-lists as
independent cursors (scores are additive across disjoint doc sets).

Block-max metadata: per block we store ``(max_tf, min_dl)`` plus the docID
range; the query side computes the bound idf * impact(max_tf, min_dl, avgdl)
— the analog of the coarse-cell residual bound that lets IVFADC prune
(SURVEY.md §4 O3). idf AND avgdl apply at query time, so block bounds
survive segment merges that change either, and the encoder needs no corpus
statistics at all.

Format v3 (the only format): posting blocks carry NO per-posting dl stream;
dl lives once per doc in the sentinel rows / doc_lens sidecar.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig

BLOCKS_SCHEMA = (
    "term string, salt int, block_id int, n int, first_doc long, last_doc long, "
    "doc_ids binary, tfs binary, dls binary, max_tf long, min_dl long, "
    "sum_tf long, bytes long"
)
# Block upper bounds are avgdl-FREE: per block we store (max_tf, min_dl);
# the query side computes ub = idf * impact(max_tf, min_dl, avgdl) — a valid
# bound for ANY avgdl since impact is increasing in tf and decreasing in dl.
# This frees the encoder from every corpus-level statistic, which is what
# lets the whole build run in one pass, and makes bounds survive merges that
# change avgdl.
#
# SENTINEL rows (term = NULL, block_id = -1) carry the per-chunk doc-length
# sidecar: doc_ids = the chunk's doc ids (delta varint), dls = per-doc token
# counts, n = docs in chunk; max_tf = the chunk's POSITIVE-dl doc count and
# sum_tf = its token total (plain columns, so stage 01's write observation
# yields n_docs/avgdl with zero extra jobs). They live in partition
# term_bucket = -1, are excluded from Segment.blocks, and give stage 02 the
# (doc_id, dl) table without any extra corpus pass.

# combiner salt layout: salt = source_partition_id * SALT_CHUNK_SPAN + chunk.
# salt // SALT_CHUNK_SPAN therefore recovers the PARTITION-level doc shard —
# the granularity batch scans group by (a complete sub-index per source
# partition); individual chunk salts only bound encoder working sets.
SALT_CHUNK_SPAN = 4096

# per-RecordBatch byte budget for binary columns: Arrow binary() offsets are
# int32, so a batch whose concatenated varint streams exceed 2^31 bytes would
# silently wrap (corrupt blocks). Chunking the emitted batches keeps every
# column's offset span well under the limit.
_BATCH_BYTE_LIMIT = (1 << 31) - (1 << 20)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized multi-range index: concat(arange(s, s+l) for s, l in zip)."""
    tot = int(lens.sum())
    if tot == 0:
        return np.zeros(0, dtype=np.int64)
    offs = np.cumsum(lens) - lens
    rel = np.arange(tot, dtype=np.int64) - np.repeat(offs, lens)
    return rel + np.repeat(starts, lens)


def _encode_sorted(vocab, codes, ids, tfs, dls, salts, bsz, positions=None):
    """Encode postings ALREADY sorted by (code, salt, doc_id) into block
    RecordBatches.

    Blocks tile whole-column varint streams contiguously, so each
    per-block binary column is a ZERO-COPY Arrow BinaryArray over
    (offsets, stream) — no per-block python bytes objects. Emitted batches
    are chunked so every binary column's int32 offsets stay valid (a
    partition whose concatenated streams exceed 2^31 bytes would otherwise
    wrap silently — plausible at large-corpus scale).

    Format v3: the per-posting dl stream is NOT written (the ``dls``
    column is empty) — dl is per-DOC data and already lives once per doc in
    the sentinel sidecar; repeating it per posting made the dls stream ~1/3
    of every block's bytes. ``dls`` is still an input: min_dl block bounds
    are computed from it.

    ``positions``: optional (stream, per_posting_nbytes) pair of the
    delta-varint token-offset streams (fused positional build). Each block
    then gets a TWIN row (block_id = -10 - block_id) sharing its doc_ids /
    tfs slices, with the positions slice in the dls column — same
    term_bucket layout, pruned out of every scoring path by block_id."""
    import pyarrow as pa

    from ivfadc_spark.functions.codecs import varint_encode_with_lengths

    m = ids.size
    # group starts: term or salt changes
    gs = np.empty(m, dtype=bool)
    gs[0] = True
    gs[1:] = (codes[1:] != codes[:-1]) | (salts[1:] != salts[:-1])
    gidx = np.cumsum(gs) - 1  # group ordinal per row
    gfirst = np.flatnonzero(gs)  # first row of each group
    within = np.arange(m) - gfirst[gidx]  # position within group
    # block starts: group start or every bsz-th row within the group
    bs = gs | (within % bsz == 0)
    bstart = np.flatnonzero(bs)  # first row of each block
    bend = np.r_[bstart[1:], m]  # one past last row
    n_blk = (bend - bstart).astype(np.int64)
    blk_of_row = np.cumsum(bs) - 1
    # block_id within its group
    first_blk_of_group = blk_of_row[gfirst]
    block_id = np.arange(bstart.size) - first_blk_of_group[gidx[bstart]]
    # per-row deltas with an absolute value at each block start
    deltas = np.empty(m, dtype=np.uint64)
    deltas[0] = np.uint64(ids[0])
    diffs = ids[1:] - ids[:-1]
    deltas[1:] = diffs.astype(np.uint64)
    deltas[bstart] = ids[bstart].astype(np.uint64)
    # per-block stats: avgdl-free bound ingredients + tf total
    max_tf = np.maximum.reduceat(tfs, bstart)
    min_dl = np.minimum.reduceat(dls, bstart)
    sum_tf = np.add.reduceat(tfs, bstart)
    col_vals = {"doc_ids": deltas, "tfs": tfs.astype(np.uint64)}
    streams, col_lo, col_hi = {}, {}, {}
    tot_bytes = np.zeros(bstart.size, dtype=np.int64)
    for name, vals in col_vals.items():
        stream, nb = varint_encode_with_lengths(vals)
        ends = np.cumsum(nb)
        lo = (ends - nb)[bstart]
        hi = ends[bend - 1]
        streams[name], col_lo[name], col_hi[name] = stream, lo, hi
        tot_bytes += hi - lo
    if positions is not None:
        pstream, pnb = positions  # per-POSTING byte lengths
        pends = np.cumsum(pnb)
        pos_lo = (pends - pnb)[bstart]
        pos_hi = pends[bend - 1]
        tot_bytes += pos_hi - pos_lo
    cum = np.cumsum(tot_bytes)
    edges = [0]
    while edges[-1] < bstart.size:
        base = cum[edges[-1] - 1] if edges[-1] else 0
        j = int(np.searchsorted(cum, base + _BATCH_BYTE_LIMIT, side="right"))
        edges.append(max(j, edges[-1] + 1))
    for a, z in zip(edges[:-1], edges[1:]):
        enc = {}
        for name in col_vals:
            clo, chi = int(col_lo[name][a]), int(col_hi[name][z - 1])
            offsets = np.empty(z - a + 1, dtype=np.int32)
            offsets[:-1] = col_lo[name][a:z] - clo
            offsets[-1] = chi - clo
            enc[name] = pa.Array.from_buffers(
                pa.binary(),
                z - a,
                [None, pa.py_buffer(offsets.tobytes()),
                 pa.py_buffer(memoryview(streams[name])[clo:chi])],
            )
        enc["dls"] = pa.Array.from_buffers(
            pa.binary(), z - a,
            [None, pa.py_buffer(np.zeros(z - a + 1, dtype=np.int32).tobytes()),
             pa.py_buffer(b"")],
        )
        shared = [
            vocab.take(pa.array(codes[bstart[a:z]])),
            pa.array(salts[bstart[a:z]], type=pa.int32()),
            pa.array(block_id[a:z].astype(np.int32)),
            pa.array(n_blk[a:z].astype(np.int32)),
            pa.array(ids[bstart[a:z]], type=pa.int64()),
            pa.array(ids[bend[a:z] - 1], type=pa.int64()),
        ]
        stats_cols = [
            pa.array(max_tf[a:z].astype(np.int64)),
            pa.array(min_dl[a:z].astype(np.int64)),
            pa.array(sum_tf[a:z].astype(np.int64)),
        ]
        names = [
            "term", "salt", "block_id", "n", "first_doc", "last_doc",
            "doc_ids", "tfs", "dls", "max_tf", "min_dl", "sum_tf", "bytes",
        ]
        yield pa.RecordBatch.from_arrays(
            shared + [enc["doc_ids"], enc["tfs"], enc["dls"]] + stats_cols
            + [pa.array(tot_bytes[a:z], type=pa.int64())],
            names=names,
        )
        if positions is not None:
            plo_c, phi_c = int(pos_lo[a]), int(pos_hi[z - 1])
            poffs = np.empty(z - a + 1, dtype=np.int32)
            poffs[:-1] = pos_lo[a:z] - plo_c
            poffs[-1] = phi_c - plo_c
            penc = pa.Array.from_buffers(
                pa.binary(), z - a,
                [None, pa.py_buffer(poffs.tobytes()),
                 pa.py_buffer(memoryview(pstream)[plo_c:phi_c])],
            )
            twin = list(shared)
            twin[2] = pa.array((-10 - block_id[a:z]).astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                twin + [enc["doc_ids"], enc["tfs"], penc] + stats_cols
                + [pa.array(pos_hi[a:z] - pos_lo[a:z], type=pa.int64())],
                names=names,
            )


def build_blocks_inplace(
    docs: DataFrame,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Tokenize -> tf -> docID-sort -> block-encode in ONE map pass — the
    combiner-style index build. NO exchange of posting rows, ever.

    Requires ``docs(doc_id, text)`` range-partitioned so each partition owns
    a CONTIGUOUS doc_id range (what plan_doc_ids produces). The doc-shard
    ``salt`` is then simply the partition ordinal: a doc's postings land in
    one salt for EVERY term (per-doc consistent, disjoint, complete
    sub-indexes — all the batch scan needs), head terms split across all
    partitions by construction, and the classic (term, salt) pivot shuffle
    (/root/reference/Index.cpp gen_idx_sz_file's cell-ordered rewrite; 20 TB
    of posting rows at the 10^12-turn target) disappears entirely. Only the
    encoded blocks (~2 orders of magnitude smaller) move in the later
    layout repartition.

    The in-pass tf aggregation is one ``np.unique`` over packed
    (term_code, doc_rel) keys per partition — which also leaves postings in
    exactly the (term, doc) order the block encoder needs.
    """
    bsz = int(cfg.block_size)
    pattern = cfg.token_pattern
    stop, min_len = cfg.stop_set(), int(cfg.min_token_len)
    chunk_tokens = int(cfg.encode_chunk_tokens)
    want_pos = bool(int(getattr(cfg, "with_positions", 0) or 0))

    docs = docs.withColumn("_pid", F.spark_partition_id())

    def encode(batches):
        from ivfadc_spark.functions.arrow_pool import use_scalable_pool

        use_scalable_pool()
        import pyarrow as pa
        import pyarrow.compute as pc

        state = {"flats": [], "pars": [], "docs": [], "rows": 0, "toks": 0,
                 "pid": None, "chunk": 0}

        def flush():
            if state["rows"] == 0 or not state["flats"]:
                return
            # chunk salt: unique per (partition, flush) and per-doc
            # consistent (a doc's rows never split across flushes)
            if state["chunk"] >= SALT_CHUNK_SPAN or state["pid"] >= (1 << 19):
                raise RuntimeError(
                    "build_blocks_inplace: salt space exhausted "
                    f"(pid={state['pid']}, chunk={state['chunk']}) — lower "
                    "input split size or raise encode_chunk_tokens"
                )
            salt_val = state["pid"] * SALT_CHUNK_SPAN + state["chunk"]
            row_base = state["rows"]
            doc_ids = np.concatenate(state["docs"]).astype(np.int64)
            par = np.concatenate(state["pars"])
            flat_all = pa.concat_arrays(
                [c for f in state["flats"]
                 for c in (f.chunks if isinstance(f, pa.ChunkedArray) else [f])]
            )
            state["flats"], state["pars"], state["docs"] = [], [], []
            state["rows"], state["toks"] = 0, 0
            state["chunk"] += 1
            dl_by_row = np.bincount(par, minlength=row_base).astype(np.int64)
            # sentinel doc-stats row: the chunk's (doc_id -> dl) table,
            # zero-token docs included — stage 02 derives n_docs/avgdl and
            # the doc-length sidecar from these, so no other stage ever
            # tokenizes the corpus. The sentinel's max_tf column (always 0
            # before, never read on sentinels by any scorer/fsck path)
            # carries the chunk's POSITIVE-dl doc count and sum_tf its token
            # total, so corpus stats ride the stage-01 write as a plain
            # column aggregate — no decode pass needed before the stage-02
            # dictionary job can start
            from ivfadc_spark.functions.codecs import delta_encode, varint_encode

            dstream = delta_encode(doc_ids)
            lstream = varint_encode(dl_by_row.astype(np.uint64))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([None], type=pa.string()),
                    pa.array([salt_val], type=pa.int32()),
                    pa.array([-1], type=pa.int32()),
                    pa.array([row_base], type=pa.int32()),
                    pa.array([int(doc_ids[0])], type=pa.int64()),
                    pa.array([int(doc_ids[-1])], type=pa.int64()),
                    pa.array([dstream], type=pa.binary()),
                    pa.array([b""], type=pa.binary()),
                    pa.array([lstream], type=pa.binary()),
                    pa.array([int((dl_by_row > 0).sum())], type=pa.int64()),
                    pa.array([0], type=pa.int64()),
                    pa.array([int(dl_by_row.sum())], type=pa.int64()),
                    pa.array([len(dstream) + len(lstream)], type=pa.int64()),
                ],
                names=[
                    "term", "salt", "block_id", "n", "first_doc", "last_doc",
                    "doc_ids", "tfs", "dls", "max_tf", "min_dl", "sum_tf", "bytes",
                ],
            )
            if len(flat_all) == 0:
                return
            enc_t = pc.dictionary_encode(flat_all)
            enc_t = enc_t.combine_chunks() if isinstance(enc_t, pa.ChunkedArray) else enc_t
            codes_tok = enc_t.indices.to_numpy(zero_copy_only=False)
            vocab = enc_t.dictionary
            # pack (term_code, row) into ONE key: np.unique aggregates tf AND
            # sorts postings into encoder order in a single call. int32 keys
            # when the bit budget fits (the common case: chunk-local rows x
            # chunk vocab) — half the sort bandwidth of int64 on the build's
            # hottest array (measured 23 -> 17 ms per 840k-token chunk)
            rb_bits = max(int(row_base - 1), 1).bit_length()
            cb_bits = max(len(vocab) - 1, 1).bit_length()
            tok_order = None
            if rb_bits + cb_bits <= 63:
                if rb_bits + cb_bits <= 31:
                    keys = (codes_tok.astype(np.int32) << np.int32(rb_bits)) | (
                        par.astype(np.int32)
                    )
                else:
                    keys = (codes_tok.astype(np.int64) << rb_bits) | par
                if want_pos:
                    # token-level posting order; stable keeps each posting's
                    # offsets ascending (tokens arrive in document order)
                    tok_order = np.argsort(keys, kind="stable")
                    sk = keys[tok_order]
                    starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
                    uk = sk[starts]
                    tf = np.diff(np.r_[starts, sk.size])
                else:
                    uk, tf = np.unique(keys, return_counts=True)
                code_p = (uk >> rb_bits).astype(np.int64)
                row_p = (uk.astype(np.int64)) & ((1 << rb_bits) - 1)
            else:  # gigantic chunk fallback: explicit 2-key sort
                tok_order = np.lexsort((par, codes_tok))
                ck, pk = codes_tok[tok_order], par[tok_order]
                new = np.r_[True, (ck[1:] != ck[:-1]) | (pk[1:] != pk[:-1])]
                starts = np.flatnonzero(new)
                tf = np.diff(np.r_[starts, ck.size])
                code_p, row_p = ck[starts], pk[starts]
            positions = None
            if want_pos:
                # 0-based offset of each kept token within its doc (rows are
                # contiguous and ascending in the chunk's token stream)
                row_first = np.cumsum(dl_by_row) - dl_by_row
                tokpos = np.arange(par.size, dtype=np.int64) - row_first[par]
                pos_sorted = tokpos[tok_order]
                pstarts = np.cumsum(tf) - tf  # first token of each posting
                pdelta = np.empty(pos_sorted.size, dtype=np.uint64)
                pdelta[0] = np.uint64(pos_sorted[0])
                pdelta[1:] = (pos_sorted[1:] - pos_sorted[:-1]).astype(np.uint64)
                pdelta[pstarts] = pos_sorted[pstarts].astype(np.uint64)
                from ivfadc_spark.functions.codecs import varint_encode_with_lengths

                pstream, pnb = varint_encode_with_lengths(pdelta)
                per_posting_nb = np.add.reduceat(pnb, pstarts)
                positions = (pstream, per_posting_nb)
            ids_p = doc_ids[row_p]
            dls_p = dl_by_row[row_p]
            salts = np.full(code_p.size, salt_val, dtype=np.int32)
            # format v3: no per-posting dl stream — the sentinel row above
            # already carries this chunk's (doc_id -> dl) table once
            yield from _encode_sorted(
                vocab, code_p, ids_p, tf.astype(np.int64), dls_p, salts, bsz,
                positions=positions,
            )

        from ivfadc_spark.functions.tokenize import arrow_flat_tokens, filter_tokens

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            if state["pid"] is None:
                state["pid"] = int(tbl.column("_pid")[0].as_py())
            flat, par = filter_tokens(
                *arrow_flat_tokens(tbl.column("text"), pattern), stop, min_len
            )
            state["flats"].append(flat)
            state["pars"].append(par + state["rows"])
            state["docs"].append(tbl.column("doc_id").to_numpy(zero_copy_only=False))
            state["rows"] += rb.num_rows
            state["toks"] += len(flat)
            if state["toks"] >= chunk_tokens:
                yield from flush()
        yield from flush()

    return docs.mapInArrow(encode, BLOCKS_SCHEMA)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Inverse of the block encoders: blocks -> (term, doc_id, tf, dl) rows.

    Used by round-trip tests, the conjunctive query path and compaction.
    Whole-batch vectorized (the wand.py trick): varint
    streams are self-delimiting, so ALL blocks of a batch decode in a few
    codec calls; absolute docIDs come from a segmented cumsum reset at
    block starts; the term column expands by repeat on the ARROW array
    (no Python string objects).

    Format v3 blocks carry no per-posting dl stream (dl lives once per doc
    in the sentinel / doc_lens sidecar): rows decode with ``dl`` NULL —
    join :attr:`Segment.doc_lengths` if dl is needed.
    """
    from ivfadc_spark.functions.codecs import varint_decode

    blocks = blocks.filter(F.col("term").isNotNull())  # skip doc-stat sentinels

    def decode(batches):
        from ivfadc_spark.functions.arrow_pool import use_scalable_pool

        use_scalable_pool()
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            counts = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
            total = int(counts.sum())
            if total == 0:
                continue

            def cat(col):
                # a BinaryArray's data buffer IS the in-order concatenation
                # of its values — slice it once, zero per-block objects
                a = tbl.column(col).combine_chunks()
                offs = np.frombuffer(a.buffers()[1], dtype=np.int32)
                lo = int(offs[a.offset])
                hi = int(offs[a.offset + len(a)])
                return memoryview(a.buffers()[2])[lo:hi]

            deltas = varint_decode(cat("doc_ids"), total).astype(np.int64)
            tfs = varint_decode(cat("tfs"), total).astype(np.int64)
            bstarts = np.cumsum(counts) - counts
            c = np.cumsum(deltas)
            base = np.where(bstarts > 0, c[bstarts - 1], 0)
            ids = c - np.repeat(base, counts)
            term_rep = tbl.column("term").combine_chunks().take(
                pa.array(np.repeat(np.arange(counts.size), counts))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    term_rep,
                    pa.array(ids, type=pa.int64()),
                    pa.array(tfs),
                    pa.nulls(total, pa.int64()),
                ],
                names=["term", "doc_id", "tf", "dl"],
            )

    return blocks.mapInArrow(decode, "term string, doc_id long, tf long, dl long")


def block_metrics(blocks: DataFrame) -> DataFrame:
    """Per-term build metrics: postings, bytes, salts — the ``voc_sz`` analog
    (/root/reference/Index.cpp:144-148) plus compression accounting.

    ``postings`` doubles as the term's df (one posting per (doc, term)) and
    ``cf`` is the collection frequency — which is what lets the build derive
    the dictionary FROM the encoded blocks instead of a separate tf pre-pass
    (:func:`ivfadc_spark.operators.stats.dictionary_from_metrics`)."""
    return blocks.filter(
        F.col("term").isNotNull() & (F.col("block_id") >= 0)
    ).groupBy("term").agg(
        F.sum("n").alias("postings"),
        F.sum("bytes").alias("bytes"),
        F.countDistinct("salt").alias("n_salts"),
        F.count("*").alias("n_blocks"),
        F.max("max_tf").alias("max_tf"),
        F.sum("sum_tf").alias("cf"),
    )


def decode_position_rows(pos_rows: DataFrame) -> DataFrame:
    """(term, doc_id, positions array<long>) from the fused positional TWIN
    rows (block_id <= -10) the in-place encoder emits when
    cfg.with_positions is set — phrase search input recovered without a
    second corpus tokenize. Each twin row shares its block's doc_ids/tfs
    streams; the dls column holds the per-posting delta-varint token
    offsets (absolute first value per posting). A doc appears in exactly
    one chunk, so each decoded posting carries the doc's COMPLETE offset
    list for that term."""
    from ivfadc_spark.functions.codecs import varint_decode

    def gen(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            counts = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
            total = int(counts.sum())
            if total == 0:
                continue
            ids_d = varint_decode(
                b"".join(bytes(x) for x in tbl.column("doc_ids").to_pylist()), total
            ).astype(np.int64)
            c = np.cumsum(ids_d)
            rstarts = np.cumsum(counts) - counts
            base = np.where(rstarts > 0, c[rstarts - 1], 0)
            ids = c - np.repeat(base, counts)
            tf = varint_decode(
                b"".join(bytes(x) for x in tbl.column("tfs").to_pylist()), total
            ).astype(np.int64)
            npos = int(tf.sum())
            pdelta = varint_decode(
                b"".join(bytes(x) for x in tbl.column("dls").to_pylist()), npos
            ).astype(np.int64)
            pc_ = np.cumsum(pdelta)
            pstarts = np.cumsum(tf) - tf
            pbase = np.where(pstarts > 0, pc_[pstarts - 1], 0)
            pos = pc_ - np.repeat(pbase, tf)
            offsets = np.empty(total + 1, dtype=np.int32)
            offsets[:-1] = pstarts
            offsets[-1] = npos
            term_rep = tbl.column("term").combine_chunks().take(
                pa.array(np.repeat(np.arange(counts.size), counts))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    term_rep,
                    pa.array(ids, type=pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(offsets, type=pa.int32()),
                        pa.array(pos, type=pa.int64()),
                    ),
                ],
                names=["term", "doc_id", "positions"],
            )

    return pos_rows.select("term", "n", "doc_ids", "tfs", "dls").mapInArrow(
        gen, "term string, doc_id long, positions array<long>"
    )


def decode_doc_stats(raw_blocks: DataFrame) -> DataFrame:
    """(doc_id, dl) from the SENTINEL doc-stats rows (term IS NULL) the
    in-place encoder emits per chunk — the doc-length sidecar, recovered
    without tokenizing the corpus again. Zero-token docs are included."""
    from ivfadc_spark.functions.codecs import varint_decode

    sent = raw_blocks.filter(F.col("term").isNull()).select("n", "doc_ids", "dls")

    def gen(batches):
        from ivfadc_spark.functions.arrow_pool import use_scalable_pool

        use_scalable_pool()
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            counts = tbl.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
            total = int(counts.sum())
            if total == 0:
                continue
            dbuf = b"".join(bytes(x) for x in tbl.column("doc_ids").to_pylist())
            lbuf = b"".join(bytes(x) for x in tbl.column("dls").to_pylist())
            deltas = varint_decode(dbuf, total).astype(np.int64)
            dls = varint_decode(lbuf, total).astype(np.int64)
            c = np.cumsum(deltas)
            starts = np.cumsum(counts) - counts
            base = np.where(starts > 0, c[starts - 1], 0)
            ids = c - np.repeat(base, counts)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(dls, type=pa.int64())],
                names=["doc_id", "dl"],
            )

    return sent.mapInArrow(gen, "doc_id long, dl long")


def remap_blocks(blocks: DataFrame, offset: int) -> DataFrame:
    """Shift every docID in a blocks dataset by ``offset`` WITHOUT decoding.

    A block's varint stream starts with the ABSOLUTE first docID
    (``encode_partition`` resets the delta at each block start), so adding a
    global offset rewrites only that leading varint — an O(bytes) splice,
    never a decode→sort→re-encode. This is the positional docID remap the
    reference merge does on its entry log
    (/root/reference/SearchEngine.cpp:250-287), applied to compressed blocks.

    Salts stay valid: a doc's shard key was derived from its ORIGINAL id, the
    id mapping is 1:1, so each doc's postings still land in exactly one salt
    group consistently across terms (all the batch scan requires).
    """
    if int(offset) == 0:
        return blocks
    off = int(offset)
    schema = blocks.schema
    names = [f.name for f in schema.fields]

    def gen(batches):
        from ivfadc_spark.functions.arrow_pool import use_scalable_pool

        use_scalable_pool()
        import pyarrow as pa

        from ivfadc_spark.functions.codecs import (
            varint_encode_with_lengths,
            varint_lengths,
        )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            first = tbl.column("first_doc").to_numpy(zero_copy_only=False).astype(np.int64)
            arr = tbl.column("doc_ids").combine_chunks()
            offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)
            lo = offs[arr.offset : arr.offset + len(arr)].astype(np.int64)
            hi = offs[arr.offset + 1 : arr.offset + len(arr) + 1].astype(np.int64)
            data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            skip = varint_lengths(first.astype(np.uint64))  # old leading varint
            pstream_b, pnb = varint_encode_with_lengths((first + off).astype(np.uint64))
            pstream = np.frombuffer(pstream_b, dtype=np.uint8)
            pends = np.cumsum(pnb)
            rest = hi - lo - skip
            new_len = pnb + rest
            nends = np.cumsum(new_len)
            nlo = nends - new_len
            if nends[-1] >= _BATCH_BYTE_LIMIT:
                raise RuntimeError("remap_blocks: batch exceeds int32 offset budget")
            out = np.empty(int(nends[-1]), dtype=np.uint8)
            out[_ranges(nlo, pnb)] = pstream[_ranges(pends - pnb, pnb)]
            out[_ranges(nlo + pnb, rest)] = data[_ranges(lo + skip, rest)]
            offsets32 = np.empty(len(arr) + 1, dtype=np.int32)
            offsets32[:-1] = nlo
            offsets32[-1] = nends[-1]
            new_doc_ids = pa.Array.from_buffers(
                pa.binary(), len(arr),
                [None, pa.py_buffer(offsets32.tobytes()), pa.py_buffer(out.tobytes())],
            )
            cols = []
            for name in names:
                if name == "doc_ids":
                    cols.append(new_doc_ids)
                elif name in ("first_doc", "last_doc"):
                    cols.append(pa.array(
                        tbl.column(name).to_numpy(zero_copy_only=False).astype(np.int64) + off,
                        type=pa.int64(),
                    ))
                elif name == "bytes":
                    cols.append(pa.array(
                        tbl.column(name).to_numpy(zero_copy_only=False).astype(np.int64)
                        + (pnb - skip),
                        type=pa.int64(),
                    ))
                else:
                    cols.append(tbl.column(name).combine_chunks())
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return blocks.mapInArrow(gen, schema)
