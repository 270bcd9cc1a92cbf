"""Segment layout, discovery, multi-segment federation, and O(bytes) merge.

Reference: one segment = a directory of three files — ``idx`` (doc-ordered
entry log), ``nl`` (doc names), ``voc_sz`` (posting lengths)
(/root/reference/Index.cpp:9-11); the engine loads every segment and remaps
docIDs into one global space by positional offset
(/root/reference/SearchEngine.cpp:221-297, U1).

Ours: one segment = a parquet dataset directory::

    <path>/blocks/      posting blocks, partitioned by term_bucket
    <path>/doc_map/     (doc_id, conv_id, turn_idx)           [nl analog]
    <path>/doc_lens/    (doc_id, dl) doc-length sidecar
    <path>/dict/        (term, df, cf, idf)                   [voc_sz analog]
    <path>/metrics/     per-term build metrics
    <path>/meta.json    n_docs, avgdl, doc_space, n_shards, lineage, config,
                        format_version (3: dl-free posting blocks + sentinel
                        doc-stat rows; the only format readers accept)

docIDs are data-derived within a segment (dense rank over the segment's own
rows); cross-segment remap adds each segment's ``doc_base`` offset — the
same offset trick as the reference, but recorded in metadata instead of
depending on load order. Offsets use ``doc_space`` (TOTAL id space,
including zero-token docs), never the BM25 ``n_docs``.

Two ways to see many segments as one corpus:

- :class:`SegmentSet` — query-time federation, NO compaction: blocks are
  remapped lazily (an O(bytes) leading-varint splice, postings.remap_blocks),
  idf/avgdl recomputed from summed per-segment stats. Matches the
  reference's query-time union (/root/reference/SearchEngine.cpp:94-102).
- :func:`merge_segments` — LSM compaction: the SAME remapped blocks written
  back once. O(bytes) concat+splice; postings are never decoded, sorted, or
  re-encoded. The merged dictionary recomputes idf from the summed df and
  merged scoring uses the union's avgdl — both legal because block bounds
  store idf- and avgdl-free (max_tf, min_dl).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.operators.postings import remap_blocks

FORMAT_VERSION = 3


def _idf_col(n_docs: int):
    return F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )


class Segment:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        if (
            self.meta.get("format_version") != FORMAT_VERSION
            or int(self.meta.get("n_shards") or 0) <= 0
        ):
            raise ValueError(
                f"segment {path}: format_version="
                f"{self.meta.get('format_version')}, n_shards="
                f"{self.meta.get('n_shards')}; readers need format_version "
                f"{FORMAT_VERSION} with n_shards > 0 (a doc-sharded combiner "
                "build) — rebuild it with build_index"
            )

    @property
    def blocks(self) -> DataFrame:
        """Posting blocks only (sentinel doc-stat rows and positional twin
        rows excluded)."""
        return self.raw_blocks.filter(
            F.col("term").isNotNull() & (F.col("block_id") >= 0)
        )

    @property
    def raw_blocks(self) -> DataFrame:
        """Blocks INCLUDING the sentinel doc-stats rows (term IS NULL,
        partition term_bucket=-1) — what merge/federation must carry."""
        return self.spark.read.parquet(os.path.join(self.path, "blocks"))

    @property
    def doc_lengths(self) -> DataFrame:
        """(doc_id, dl) sidecar: the materialized dataset if stage 02 wrote
        one, else decoded from the sentinel rows."""
        p = os.path.join(self.path, "doc_lens")
        if os.path.exists(p):
            return self.spark.read.parquet(p)
        from ivfadc_spark.operators.postings import decode_doc_stats

        return decode_doc_stats(self.raw_blocks)

    @property
    def doc_map(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "doc_map"))

    @property
    def dictionary(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "dict"))

    @property
    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.path, "metrics"))

    @property
    def doc_space(self) -> int:
        """Total doc_id space (max id + 1; ids are dense over ALL transcript
        rows, including zero-token docs — so this can exceed the BM25
        ``n_docs``). Key stride / offset base for batch scans and merges."""
        return int(self.meta["doc_space"])

    @property
    def dict_pdf(self):
        """Driver-cached pandas dictionary (term, df, cf, idf) — the resident
        coarse-codebook analog (/root/reference/Vocab.cpp:152-166: codebooks
        are always fully loaded). VOCABULARY-SIZED: an explicit OPT-IN cache
        for small segments (``bm25_topk_batch(use_dict_cache=True)``) where
        the resident frame amortizes across many batches; the default query
        path resolves idf via a term-pruned dictionary scan instead, so the
        driver never materializes a 100x-scale vocabulary."""
        if not hasattr(self, "_dict_pdf"):
            self._dict_pdf = self.dictionary.toPandas()
        return self._dict_pdf

    @property
    def dl_broadcast(self):
        """Broadcast dense doc_id -> dl int32 array (doc_space-sized) — the
        resident per-doc-norm table the reference loads at index open
        (/root/reference/SearchEngine.cpp:359-391). Since format v3 drops
        the per-posting dl stream, the low-latency indexed scan gathers dl
        from this lookup. Memory bound: 4 bytes/doc per executor — fine to
        billions of docs; beyond that use the doc-sharded batch path, whose
        dl travels shard-aligned in the sentinel sidecar instead."""
        if not hasattr(self, "_dl_bc"):
            self._dl_bc = self.spark.sparkContext.broadcast(_dl_array(self))
        return self._dl_bc


def _dl_array(seg) -> "np.ndarray":
    """Dense dl lookup for a Segment/SegmentSet via one Arrow collect."""
    import numpy as np

    tbl = seg.doc_lengths.toArrow()
    ids = tbl.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    dls = tbl.column("dl").to_numpy(zero_copy_only=False).astype(np.int64)
    arr = np.zeros(int(seg.doc_space), dtype=np.int32)
    arr[ids] = dls  # zero-token / postings-absent docs stay dl=0
    return arr


class SegmentSet:
    """N segments queried as ONE corpus — no compaction required (U1 at
    query time, /root/reference/SearchEngine.cpp:94-102,221-297).

    Presents the same surface as :class:`Segment` (blocks / dictionary /
    doc_map / meta / dict_pdf), so ``bm25_topk_indexed`` and
    ``bm25_topk_batch`` run against it unchanged:

    - ``blocks``: per-segment blocks with docIDs shifted by the segment's
      cumulative ``doc_space`` offset — a lazy O(bytes) leading-varint
      splice (postings.remap_blocks), nothing is decoded or re-encoded.
    - ``dictionary``: per-term df/cf summed across segments; idf recomputed
      from the union's n_docs (idf is not additive).
    - ``meta``: n_docs summed, avgdl token-weighted, doc_space summed.

    All segments must share doc_shards / term_buckets / k1 / b (the score
    and layout contract); enforced at construction.
    """

    def __init__(self, spark: SparkSession, paths: list[str]):
        self.spark = spark
        self.segments = [p if isinstance(p, Segment) else Segment(spark, p) for p in paths]
        if not self.segments:
            raise ValueError("SegmentSet needs at least one segment")
        c0 = self.segments[0].meta.get("config", {})
        for s in self.segments[1:]:
            c = s.meta.get("config", {})
            for key in ("doc_shards", "term_buckets", "k1", "b"):
                if c.get(key) != c0.get(key):
                    raise ValueError(
                        f"SegmentSet: segment {s.path} config {key}={c.get(key)} "
                        f"differs from {c0.get(key)}"
                    )
        self.offsets = []
        acc, n_docs, tokens = 0, 0, 0.0
        self.salt_offsets = []
        salt_acc = 0
        for s in self.segments:
            self.offsets.append(acc)
            acc += s.doc_space
            n_docs += s.meta["n_docs"]
            tokens += s.meta["avgdl"] * s.meta["n_docs"]
            # segments keep DISJOINT salt ranges in the union: member salts
            # are rebased by the cumulative shard count, so a (term, salt)
            # group never mixes two segments' blocks. The batch kernel needs
            # this twice over — its scan shard is salt // span (colliding
            # shards would interleave non-monotone doc ranges inside a term
            # slice, breaking the doc-sorted binary-search invariant), and
            # its per-shard sentinel dl table must span one segment's doc
            # range, not the whole union's.
            self.salt_offsets.append(salt_acc)
            salt_acc += int(s.meta["n_shards"])
        # rebased salts live in an int32 column: the build guards pid < 2^19
        # to keep one segment's salts inside int32, but cumulative rebasing
        # across members must re-check — a silent wrap would collide shards
        # and break the batch kernel's doc-sorted binary-search invariant.
        # (merge_segments goes through this constructor, so one guard covers
        # both the federation and the compaction rebase.)
        from ivfadc_spark.operators.postings import SALT_CHUNK_SPAN

        if salt_acc * SALT_CHUNK_SPAN > 2**31:
            raise ValueError(
                f"SegmentSet: {salt_acc} cumulative shards x span "
                f"{SALT_CHUNK_SPAN} overflows int32 salts — merge members "
                "first or raise the salt dtype"
            )
        self.meta = {
            "n_docs": int(n_docs),
            "avgdl": (tokens / n_docs) if n_docs else 0.0,
            "doc_space": int(acc),
            # every member is per-doc-consistently sharded, so the union is
            # too; rebased salts make shard ids disjoint, so the union has
            # the SUM of the members' shards
            "n_shards": salt_acc,
            "doc_base": 0,
            "config": c0,
            "lineage": {
                "segments": [
                    {"path": s.path, "doc_base": o}
                    for s, o in zip(self.segments, self.offsets)
                ]
            },
        }

    @property
    def blocks(self) -> DataFrame:
        return self.raw_blocks.filter(
            F.col("term").isNotNull() & (F.col("block_id") >= 0)
        )

    @property
    def raw_blocks(self) -> DataFrame:
        from ivfadc_spark.operators.postings import SALT_CHUNK_SPAN

        out = None
        for s, off, soff in zip(self.segments, self.offsets, self.salt_offsets):
            b = remap_blocks(s.raw_blocks, off)
            if soff:
                b = b.withColumn(
                    "salt",
                    (F.col("salt") + F.lit(int(soff) * SALT_CHUNK_SPAN)).cast("int"),
                )
            out = b if out is None else out.unionByName(b)
        return out

    @property
    def doc_lengths(self) -> DataFrame:
        out = None
        for s, off in zip(self.segments, self.offsets):
            d = s.doc_lengths.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(off)).cast("long")
            )
            out = d if out is None else out.unionByName(d)
        return out

    @property
    def doc_map(self) -> DataFrame:
        out = None
        for s, off in zip(self.segments, self.offsets):
            d = s.doc_map.withColumn("doc_id", (F.col("doc_id") + F.lit(off)).cast("long"))
            out = d if out is None else out.unionByName(d)
        return out

    @property
    def dictionary(self) -> DataFrame:
        # df/cf are additive across segments (disjoint doc sets); idf is not
        out = None
        for s in self.segments:
            d = s.dictionary.select("term", "df", "cf")
            out = d if out is None else out.unionByName(d)
        return (
            out.groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .withColumn("idf", _idf_col(self.meta["n_docs"]))
        )

    @property
    def metrics(self) -> DataFrame:
        out = None
        for s in self.segments:
            mt = s.metrics
            out = mt if out is None else out.unionByName(mt)
        return out.groupBy("term").agg(
            F.sum("postings").alias("postings"),
            F.sum("bytes").alias("bytes"),
            F.sum("n_salts").alias("n_salts"),
            F.sum("n_blocks").alias("n_blocks"),
            F.max("max_tf").alias("max_tf"),
            F.sum("cf").alias("cf"),
        )

    @property
    def doc_space(self) -> int:
        return int(self.meta["doc_space"])

    @property
    def dict_pdf(self):
        if not hasattr(self, "_dict_pdf"):
            self._dict_pdf = self.dictionary.toPandas()
        return self._dict_pdf

    @property
    def dl_broadcast(self):
        if not hasattr(self, "_dl_bc"):
            self._dl_bc = self.spark.sparkContext.broadcast(_dl_array(self))
        return self._dl_bc


def merge_segments(
    spark: SparkSession,
    paths: list[str],
    out_path: str,
    cfg: EngineConfig = DEFAULT,
) -> Segment:
    """LSM compaction by O(bytes) splice — the reference's merge cost model
    (/root/reference/SearchEngine.cpp:250-287: concat entry logs + offset).

    Postings are NEVER decoded: each input block's docID stream is remapped
    by rewriting only its leading varint (remap_blocks), and blocks keep
    their source term_bucket layout, so the write is shuffle-free (each
    segment appends its bucket-aligned files). Only the vocabulary-sized
    dictionary (summed df/cf, recomputed idf) and the doc_map offsets are
    recomputed. Cost is proportional to the BYTES of the inputs — compare
    the v1 merge, which decoded, re-sorted, and re-encoded every posting.
    """
    ss = SegmentSet(spark, paths)
    os.makedirs(out_path, exist_ok=True)
    p_blocks = os.path.join(out_path, "blocks")
    # per-segment append: inputs are already term_bucket-partitioned, so each
    # write task streams its own buckets — no exchange, no wide dependency.
    # Salts are rebased per source (cumulative shard offsets) exactly as the
    # query-time SegmentSet does: the merged segment's (term, salt) groups
    # stay doc-sorted and its shard ids disjoint — the batch kernel's
    # invariants hold on merged output too.
    from ivfadc_spark.operators.postings import SALT_CHUNK_SPAN

    for i, (s, off, soff) in enumerate(
        zip(ss.segments, ss.offsets, ss.salt_offsets)
    ):
        b = remap_blocks(s.raw_blocks, off)
        if soff:
            b = b.withColumn(
                "salt",
                (F.col("salt") + F.lit(int(soff) * SALT_CHUNK_SPAN)).cast("int"),
            )
        b.write.mode(
            "overwrite" if i == 0 else "append"
        ).partitionBy("term_bucket").parquet(p_blocks)
    ss.doc_map.write.mode("overwrite").parquet(os.path.join(out_path, "doc_map"))
    # materialize the doc-length sidecar from the inputs' (offset-shifted)
    # doc_lengths, so the merged segment never decodes sentinels for dl
    ss.doc_lengths.write.mode("overwrite").parquet(os.path.join(out_path, "doc_lens"))
    ss.dictionary.write.mode("overwrite").parquet(os.path.join(out_path, "dict"))
    ss.metrics.write.mode("overwrite").parquet(os.path.join(out_path, "metrics"))
    meta = {
        "n_docs": ss.meta["n_docs"],
        "avgdl": ss.meta["avgdl"],
        "doc_space": ss.meta["doc_space"],
        "n_shards": ss.meta["n_shards"],
        "doc_base": 0,
        "created_at": time.time(),
        "lineage": {"merged_from": ss.meta["lineage"]["segments"]},
        # the layout contract (doc_shards, term_buckets, k1, b) comes from
        # the INPUT segments — SegmentSet enforced their consistency
        "config": ss.meta["config"] or json.loads(cfg.to_json()),
        # members all opened as v3 (Segment refuses anything else) and
        # their blocks are carried verbatim
        "format_version": FORMAT_VERSION,
    }
    with open(os.path.join(out_path, "meta.json"), "w") as f:
        json.dump(meta, f, indent=2)
    return Segment(spark, out_path)


def segment_stats(segment) -> DataFrame:
    """Index statistics (the ES ``_stats`` / Lucene ``IndexReader`` counts,
    the reference's post-build summary print, /root/reference/main.cpp:88):
    ONE row — n_docs, distinct terms, total postings (Σ df), total tokens
    (Σ cf), avgdl — computed from the segment's own metadata + dictionary,
    NEVER a corpus or postings scan (the dictionary is vocabulary-sized).
    avgdl is re-derived as Σcf / n_docs (exact integer sums, so any oracle
    replays the division bit-for-bit). Works for a Segment or a federated
    SegmentSet (both expose meta["n_docs"] and a dictionary view)."""
    n_docs = int(segment.meta["n_docs"])
    return (
        segment.dictionary.agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum("cf").cast("long").alias("total_tokens"),
        )
        .withColumn("n_docs", F.lit(n_docs).cast("long"))
        .withColumn(
            "avgdl",
            F.round(F.col("total_tokens") / F.lit(float(n_docs)), 6),
        )
        .select("n_docs", "n_terms", "n_postings", "total_tokens", "avgdl")
    )
