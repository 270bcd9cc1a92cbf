"""Document deletes (tombstones), live-doc masks, and LSM compaction.

The reference has no delete path — its index is immutable once built
(/root/reference/Index.cpp:5-50 writes once; SearchEngine only reads). A
production LSM-style full-text engine needs one: the Lucene tombstone model.

Semantics (Lucene/ES "deleted docs", kept deliberately):

- :func:`delete_docs` appends doc ids to a ``tombstones/`` parquet sidecar
  inside the segment directory. Nothing else is touched — O(deletes), no
  index rewrite, safe to call repeatedly (appends accumulate; duplicate ids
  are fine).
- Query time: scoring scans drop tombstoned docs from CANDIDATES but keep
  the segment's original corpus statistics (idf, avgdl, N) — exactly what
  Lucene does between delete and merge. The mask only ever REMOVES
  candidates, so MaxScore/WAND upper bounds stay certified upper bounds and
  top-k stays exact over the live doc set.
- :func:`compact_segment` is the merge-time rewrite: posting blocks are
  decoded, tombstoned postings dropped, blocks re-encoded in place (same
  term/salt/block layout), per-term df recomputed from the survivors, and
  n_docs/avgdl recomputed from the live doc lengths — after which the
  segment scores as if the deleted docs never existed. Doc ids are NOT
  re-densified (``doc_space`` is preserved): ids are stable external
  handles and every reader tolerates id gaps — the analog of Lucene
  keeping id gaps until a full rewrite.

Scale shape: the mask is one broadcast boolean array (1 byte per doc_id of
doc_space — 1 GB per billion docs per executor; beyond that ship it
shard-aligned like the sentinel dl sidecar). Compaction is one mapInPandas
pass over the blocks dataset (decode -> filter -> re-encode; the layout is
preserved so the rewrite needs NO shuffle to keep the term_bucket
partitioning) plus one survivors aggregation for the dictionary.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ivfadc_spark.functions.codecs import delta_decode, delta_encode, varint_decode, varint_encode
from ivfadc_spark.operators.postings import decode_blocks, is_sentinel, is_twin
from ivfadc_spark.operators.segments import (
    Segment,
    SegmentSet,
    _idf_col,
    read_dataset,
    write_dictionary,
)

TOMBSTONES = "tombstones"


def _doc_id_frame(spark: SparkSession, ids) -> DataFrame:
    """A small driver-side (doc_id long) frame. Built from pandas, it goes to
    the JVM through Arrow as one local relation; a list of tuples would
    run Python worker tasks to unpickle its rows."""
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64)}), "doc_id long"
    )


def delete_docs(segment: Segment, doc_ids: "Iterable[int] | DataFrame") -> int:
    """Mark docs deleted in ``segment`` (O(deletes) append; no rewrite).

    ``doc_ids``: iterable of ints or a DataFrame with a ``doc_id`` column,
    in the SEGMENT's doc_id space. Returns the number of ids written."""
    spark = segment.spark
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long"))
    else:
        df = _doc_id_frame(spark, [int(x) for x in doc_ids])
    path = os.path.join(segment.path, TOMBSTONES)
    n = df.count()
    df.write.mode("append").parquet(path)
    return int(n)


def tombstone_ids(segment: Segment) -> np.ndarray:
    """Sorted unique tombstoned doc ids of one segment ([] if none)."""
    path = os.path.join(segment.path, TOMBSTONES)
    if not os.path.exists(path):
        return np.empty(0, dtype=np.int64)
    tbl = read_dataset(segment.spark, segment.path, TOMBSTONES).toArrow()
    ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    return np.unique(ids)


def live_mask(segment: "Segment | SegmentSet") -> "np.ndarray | None":
    """doc_space-sized boolean keep-mask (True = live), or None when the
    segment has no tombstones at all (the fast common case — scans then
    skip the mask gather entirely).

    For a :class:`SegmentSet`, member masks concatenate in member order:
    federation offsets doc ids by cumulative ``doc_space``, so member i's
    local id d maps to global ``offsets[i] + d`` — exactly its slice here."""
    if isinstance(segment, SegmentSet):
        parts, any_dead = [], False
        for s in segment.segments:
            dead = tombstone_ids(s)
            m = np.ones(int(s.doc_space), dtype=bool)
            if dead.size:
                any_dead = True
                m[dead] = False
            parts.append(m)
        return np.concatenate(parts) if any_dead else None
    dead = tombstone_ids(segment)
    if not dead.size:
        return None
    m = np.ones(int(segment.doc_space), dtype=bool)
    m[dead] = False
    return m


def drop_deleted(df: DataFrame, segment: "Segment | SegmentSet") -> DataFrame:
    """``df`` without the rows of tombstoned docs: one broadcast anti-join of
    its ``doc_id`` column (in the segment's id space; a SegmentSet's is the
    federated one, as :func:`live_mask` lays it out) against the dead ids.
    ``df`` itself when nothing is deleted."""
    lm = live_mask(segment)
    if lm is None or lm.all():
        return df
    dead = _doc_id_frame(segment.spark, np.flatnonzero(~lm))
    return df.join(F.broadcast(dead), "doc_id", "left_anti")


def attribute_mask(segment: "Segment | SegmentSet", predicate) -> np.ndarray:
    """doc_space-sized keep-mask from a doc_map attribute predicate — the
    query-time ``WHERE role = ...`` of attribute-scoped search. ``predicate``
    is a pyspark Column over doc_map columns (doc_id, conv_id, turn_idx,
    role, tool). Corpus statistics are NOT rescoped — same contract as
    tombstones: a filtered search over one corpus, not a different corpus."""
    tbl = segment.doc_map.filter(predicate).select("doc_id").toArrow()
    ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    m = np.zeros(int(segment.doc_space), dtype=bool)
    m[ids] = True
    return m


def combine_masks(*masks) -> "np.ndarray | None":
    """AND of keep-masks, ignoring Nones; None if all are None."""
    live = [m for m in masks if m is not None]
    if not live:
        return None
    out = live[0].copy()
    for m in live[1:]:
        out &= m
    return out


def compact_segment(
    spark: SparkSession, segment: Segment, out_path: str
) -> Segment:
    """Rewrite ``segment`` without its tombstoned docs (the LSM merge step).

    One decode -> filter -> re-encode pass over the blocks dataset. The
    term/salt/block layout and the chunk-doc-range invariants are preserved
    (surviving ids keep their order), so the batch kernel's doc-sorted-slice
    binary search and per-shard sentinel dl spans keep working. Positional
    twin rows filter by the same per-posting liveness as their base blocks
    (they share the doc_ids stream); sentinel doc-stat rows drop the deleted
    docs' dl entries. Per-block re-encode is a Python loop — compaction is
    the rare heavy path, and the loop is per BLOCK (bsz postings), not per
    posting."""
    dead = tombstone_ids(segment)
    meta = dict(segment.meta)
    bc_dead = spark.sparkContext.broadcast(dead)

    os.makedirs(out_path, exist_ok=True)
    p_blocks = os.path.join(out_path, "blocks")
    raw = segment.raw_blocks
    cols = [f.name for f in raw.schema.fields]  # includes term_bucket

    def rewrite(batches):
        dd = bc_dead.value
        for pdf in batches:
            out_rows = []
            for row in pdf.itertuples(index=False):
                n = int(row.n)
                ids = delta_decode(row.doc_ids, n)
                lv = ~np.isin(ids, dd)
                if not lv.any():
                    continue  # block fully deleted
                live_ids = ids[lv]
                if is_sentinel(row.block_id):
                    # doc-stat row: drop the deleted docs' dl entries and keep
                    # its stat columns truthful (max_tf = live positive-dl
                    # doc count, sum_tf = live token total — the stage-01
                    # convention)
                    live_dls = varint_decode(row.dls, n)[lv]
                    new_tfs, new_dls = b"", varint_encode(live_dls)
                    max_tf, sum_tf = int((live_dls > 0).sum()), int(live_dls.sum())
                else:
                    tfs = varint_decode(row.tfs, n).astype(np.int64)
                    live_tfs = tfs[lv]
                    new_tfs, new_dls = varint_encode(live_tfs.astype(np.uint64)), b""
                    max_tf, sum_tf = int(live_tfs.max()), int(live_tfs.sum())
                    if is_twin(row.block_id):
                        # dls = one offset run per posting (each delta'd on
                        # its own) — keep the live postings' runs whole
                        offs = varint_decode(row.dls, int(tfs.sum()))
                        new_dls = varint_encode(offs[np.repeat(lv, tfs)])
                new_ids = delta_encode(live_ids)
                out_rows.append({
                    "term": row.term,
                    "salt": row.salt,
                    "block_id": row.block_id,
                    "n": int(live_ids.size),
                    "first_doc": int(live_ids[0]),
                    "last_doc": int(live_ids[-1]),
                    "doc_ids": new_ids,
                    "tfs": new_tfs,
                    "dls": new_dls,
                    "max_tf": max_tf,
                    # a deleted doc can carry the block min dl, so the kept
                    # min_dl is only a LOWER bound of the live minimum — the
                    # block max-score bound stays a certified UPPER bound
                    # (impact decreases in dl), the one property scans use
                    "min_dl": int(row.min_dl),
                    "sum_tf": sum_tf,
                    "bytes": len(new_ids) + len(new_tfs) + len(new_dls),
                    "term_bucket": row.term_bucket,
                })
            if out_rows:
                yield pd.DataFrame(out_rows)[cols]

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in raw.schema.fields)
    new_blocks = raw.mapInPandas(rewrite, schema)
    new_blocks.write.mode("overwrite").partitionBy("term_bucket").parquet(p_blocks)

    # dictionary: a doc holds ONE posting per term across salts, so the
    # survivor posting count IS the live df; cf = summed live tf
    live_posts = decode_blocks(read_dataset(spark, out_path, "blocks"))
    live_dl = segment.doc_lengths
    dm = segment.doc_map
    if dead.size:
        dead_df = F.broadcast(_doc_id_frame(spark, dead))
        live_dl = live_dl.join(dead_df, "doc_id", "left_anti")
        dm = dm.join(dead_df, "doc_id", "left_anti")
    st = live_dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(st["n"]), float(st["avgdl"])
    write_dictionary(
        live_posts.groupBy("term")
        .agg(F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf"))
        .withColumn("idf", _idf_col(n_docs)),
        out_path,
    )
    live_dl.write.mode("overwrite").parquet(os.path.join(out_path, "doc_lens"))
    dm.write.mode("overwrite").parquet(os.path.join(out_path, "doc_map"))
    segment.metrics.write.mode("overwrite").parquet(os.path.join(out_path, "metrics"))

    meta["n_docs"] = n_docs
    meta["avgdl"] = avgdl
    meta["doc_space"] = int(segment.doc_space)  # ids unchanged, gaps allowed
    meta["lineage"] = {
        **meta.get("lineage", {}),
        "compacted_from": segment.path,
        "n_deleted": int(dead.size),
    }
    with open(os.path.join(out_path, "meta.json"), "w") as f:
        json.dump(meta, f)
    return Segment(spark, out_path)
