"""Index integrity audit (fsck) — verify a segment's structural invariants
without trusting any of them.

The reference never validates its binary index files (a truncated entry
file in /root/reference/IO.h:236-271 reads garbage); at 100 TB an index
WILL eventually see partial writes, bit rot parquet checksums catch only
per-page, or a buggy writer. Every invariant the query kernels rely on is
checked here, so corruption surfaces as a finding instead of silently
wrong BM25 results (the failure mode ADVICE r3 flagged for the dl gather).

Checks, and what breaks if they lie:

per block (one vectorized mapInArrow pass over payloads):
- varint stream shape: doc_ids/tfs carry exactly ``n`` values and dls is
  empty (format v3 keeps dl in the doc_lens sidecar) — a short stream
  would misalign the whole-batch decode every reader uses;
- docIDs strictly increasing — the binary-search candidate stores and
  the block-skip logic require sorted postings;
- ``first_doc``/``last_doc`` match the decoded ends — block-level
  pruning keys off them without decoding;
- ``max_tf``/``sum_tf``/``min_dl`` match the payload — max_tf/min_dl
  bound the MaxScore upper bounds (a lying bound unsoundly prunes),
  sum_tf feeds the dictionary's cf;
- ``bytes`` equals the payload size — merge's O(bytes) cost model.

per (term, salt) posting list (metadata-only window, payloads pruned
before the shuffle):
- block_ids dense 0..k-1 and doc ranges non-overlapping in block order —
  the doc-sorted whole-list invariant decode relies on.

per segment (sidecar cross-checks, tiny aggregates):
- doc_lens covers exactly [0, doc_space) once; meta.n_docs equals the
  sidecar's count of docs with >= 1 token;
- dictionary df/cf equal the blocks' per-term posting/tf totals
  (``deep=True``: full metrics recompute — one index scan).

Returns a findings DataFrame ``(check, key, detail)`` — EMPTY means
healthy. Scale shape: the payload pass is embarrassingly parallel, the
window shuffles only (term, salt, block_id, first/last) metadata, and the
sidecar checks aggregate to scalars.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ivfadc_spark.operators.postings import binary_buffers, is_posting

FINDINGS_SCHEMA = "check string, key string, detail string"


def _block_findings(blocks: DataFrame) -> DataFrame:
    """Per-block payload checks: one mapInArrow pass, findings-only output."""

    def kernel(batches):
        from ivfadc_spark.functions.arrow_pool import use_scalable_pool

        use_scalable_pool()
        import pyarrow as pa

        from ivfadc_spark.functions.codecs import varint_decode

        def emit(check, keys, details):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([check] * len(keys), type=pa.string()),
                    pa.array(keys, type=pa.string()),
                    pa.array(details, type=pa.string()),
                ],
                names=["check", "key", "detail"],
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            n = rb.column("n").to_numpy(zero_copy_only=False).astype(np.int64)
            terms = rb.column("term").to_pylist()
            salts = rb.column("salt").to_numpy(zero_copy_only=False)
            bids = rb.column("block_id").to_numpy(zero_copy_only=False)
            keys = [f"{t}/s{s}/b{b}" for t, s, b in zip(terms, salts, bids)]

            def buf_and_lens(col):
                buf, offs = binary_buffers(rb.column(col))
                return np.frombuffer(buf, dtype=np.uint8), offs[:-1], np.diff(offs)

            d_buf, d_off, d_len = buf_and_lens("doc_ids")
            t_buf, t_off, t_len = buf_and_lens("tfs")
            _, _, l_len = buf_and_lens("dls")

            # varint value count per block = bytes with the high bit clear
            def vcounts(buf, off, ln):
                terminators = (buf & 0x80) == 0
                ends = off + ln
                cs = np.concatenate([[0], np.cumsum(terminators)])
                return cs[ends] - cs[off]

            ok = np.ones(len(n), dtype=bool)
            for name, buf, off, ln, want in (
                ("doc_ids", d_buf, d_off, d_len, n),
                ("tfs", t_buf, t_off, t_len, n),
            ):
                got = vcounts(buf, off, ln)
                bad = got != want
                if bad.any():
                    ok &= ~bad
                    idx = np.flatnonzero(bad)
                    yield emit(
                        f"varint_count_{name}",
                        [keys[i] for i in idx],
                        [f"decoded {got[i]} values, n={n[i]}" for i in idx],
                    )
            # dls: format v3 posting blocks carry no per-posting dl stream
            bad = l_len > 0
            if bad.any():
                ok &= ~bad
                idx = np.flatnonzero(bad)
                yield emit(
                    "dls_not_empty",
                    [keys[i] for i in idx],
                    [f"{l_len[i]} dl stream bytes, want 0" for i in idx],
                )

            stated = rb.column("bytes").to_numpy(zero_copy_only=False).astype(np.int64)
            actual = d_len + t_len + l_len
            bad = stated != actual
            if bad.any():
                idx = np.flatnonzero(bad)
                yield emit(
                    "bytes_mismatch",
                    [keys[i] for i in idx],
                    [f"meta {stated[i]} != payload {actual[i]}" for i in idx],
                )

            if not ok.all():
                continue  # value checks need aligned streams
            total = int(n.sum())
            if total == 0:
                continue
            deltas = varint_decode(d_buf, total).astype(np.int64)
            tfs = varint_decode(t_buf, total).astype(np.int64)
            starts = np.cumsum(n) - n
            ends = np.cumsum(n) - 1
            # strictly increasing docIDs: every non-leading delta >= 1
            d2 = deltas.copy()
            d2[starts] = 1
            bad = np.minimum.reduceat(d2, starts) < 1
            if bad.any():
                idx = np.flatnonzero(bad)
                yield emit(
                    "docids_not_increasing",
                    [keys[i] for i in idx],
                    ["a delta of 0 (duplicate or regressing doc_id)"] * len(idx),
                )
            c = np.cumsum(deltas)
            base = np.where(starts > 0, c[starts - 1], 0)
            first = c[starts] - base
            last = c[ends] - base
            f_meta = rb.column("first_doc").to_numpy(zero_copy_only=False).astype(np.int64)
            l_meta = rb.column("last_doc").to_numpy(zero_copy_only=False).astype(np.int64)
            for name, got, want in (("first_doc", first, f_meta), ("last_doc", last, l_meta)):
                bad = got != want
                if bad.any():
                    idx = np.flatnonzero(bad)
                    yield emit(
                        f"{name}_mismatch",
                        [keys[i] for i in idx],
                        [f"decoded {got[i]} != meta {want[i]}" for i in idx],
                    )
            mx = np.maximum.reduceat(tfs, starts)
            sm = np.add.reduceat(tfs, starts)
            mx_meta = rb.column("max_tf").to_numpy(zero_copy_only=False).astype(np.int64)
            sm_meta = rb.column("sum_tf").to_numpy(zero_copy_only=False).astype(np.int64)
            for name, got, want in (("max_tf", mx, mx_meta), ("sum_tf", sm, sm_meta)):
                bad = got != want
                if bad.any():
                    idx = np.flatnonzero(bad)
                    yield emit(
                        f"{name}_mismatch",
                        [keys[i] for i in idx],
                        [f"payload {got[i]} != meta {want[i]}" for i in idx],
                    )

    return blocks.filter(is_posting()).mapInArrow(kernel, FINDINGS_SCHEMA)


def _list_findings(blocks: DataFrame) -> DataFrame:
    """Per (term, salt) cross-block checks — METADATA columns only, so the
    window shuffle never moves payload bytes."""
    meta = blocks.filter(is_posting()).select(
        "term", "salt", "block_id", "first_doc", "last_doc"
    )
    w = Window.partitionBy("term", "salt").orderBy("block_id")
    x = meta.withColumn("_prev_last", F.lag("last_doc").over(w)).withColumn(
        "_prev_bid", F.lag("block_id").over(w)
    )
    gaps = x.filter(
        (F.col("_prev_bid").isNotNull() & (F.col("block_id") != F.col("_prev_bid") + 1))
        | (F.col("_prev_bid").isNull() & (F.col("block_id") != 0))
    ).select(
        F.lit("block_ids_not_dense").alias("check"),
        F.format_string("%s/s%d/b%d", "term", "salt", "block_id").alias("key"),
        F.format_string("prev block_id %s", F.col("_prev_bid").cast("string")).alias("detail"),
    )
    overlap = x.filter(
        F.col("_prev_last").isNotNull() & (F.col("first_doc") <= F.col("_prev_last"))
    ).select(
        F.lit("blocks_overlap").alias("check"),
        F.format_string("%s/s%d/b%d", "term", "salt", "block_id").alias("key"),
        F.format_string(
            "first_doc %d <= prev last_doc %d", "first_doc", "_prev_last"
        ).alias("detail"),
    )
    return gaps.unionByName(overlap)


def _sidecar_findings(seg) -> DataFrame:
    """doc_lens coverage + meta consistency — tiny aggregates to scalars."""
    spark = seg.spark
    dl = seg.doc_lengths
    row = dl.agg(
        F.count("*").alias("rows"),
        F.countDistinct("doc_id").alias("docs"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.sum((F.col("dl") > 0).cast("long")).alias("n_docs"),
    ).collect()[0]
    found = []
    doc_space = int(seg.meta["doc_space"])
    if int(row["rows"]) != int(row["docs"]):
        found.append(("doc_lens_duplicate_ids", "doc_lens",
                      f"{row['rows']} rows, {row['docs']} distinct"))
    if int(row["docs"]) != doc_space or int(row["lo"]) != 0 or int(row["hi"]) != doc_space - 1:
        found.append(("doc_lens_coverage", "doc_lens",
                      f"ids [{row['lo']},{row['hi']}] x{row['docs']} != [0,{doc_space})"))
    if int(row["n_docs"]) != int(seg.meta["n_docs"]):
        found.append(("meta_n_docs_mismatch", "meta.json",
                      f"sidecar {row['n_docs']} != meta {seg.meta['n_docs']}"))
    return spark.createDataFrame(found or [], FINDINGS_SCHEMA)


def _dictionary_findings(seg) -> DataFrame:
    """deep check: dictionary df/cf vs a full per-term recompute from the
    blocks (one index scan — the expensive audit)."""
    from ivfadc_spark.operators.postings import block_metrics

    truth = block_metrics(seg.blocks).select(
        "term", F.col("postings").alias("_df"), F.col("cf").alias("_cf")
    )
    d = seg.dictionary.select("term", "df", "cf")
    joined = d.join(truth, "term", "full")
    return joined.filter(
        (F.col("df") != F.col("_df"))
        | (F.col("cf") != F.col("_cf"))
        | F.col("df").isNull()
        | F.col("_df").isNull()
    ).select(
        F.lit("dictionary_mismatch").alias("check"),
        F.col("term").alias("key"),
        F.format_string(
            "dict df=%s cf=%s != blocks df=%s cf=%s",
            F.col("df").cast("string"), F.col("cf").cast("string"),
            F.col("_df").cast("string"), F.col("_cf").cast("string"),
        ).alias("detail"),
    )


def fsck_segment(seg, deep: bool = False) -> DataFrame:
    """Audit one segment (or a SegmentSet member-wise caller loop).
    Returns findings (check, key, detail); empty = healthy."""
    out = _block_findings(seg.blocks).unionByName(_list_findings(seg.blocks))
    out = out.unionByName(_sidecar_findings(seg))
    if deep:
        out = out.unionByName(_dictionary_findings(seg))
    return out
