"""Checkpointed, resumable index-build pipeline (mode-2 orchestration).

The reference's stages are file-granular and restartable by re-running a
mode (train -> index -> search, each reading the previous stage's files).
Ours checkpoints every stage as a parquet dataset plus a manifest entry with
lineage and metrics; ``resume=True`` re-enters a half-built index at the
first incomplete stage (north_rule requirement).

Stages (segment format v3 — a COMBINER build: each range partition of the
corpus is tokenized, tf-aggregated and block-encoded in one map pass; no
posting row ever crosses the network, there is no tf fact-table round-trip
and no dictionary pre-pass)::

    00_doc_map   doc_id assignment (plan_doc_ids)              [nl analog]
                 -> segment/doc_map (doc_id, conv_id, turn_idx, role, tool)
                 (doc lengths live in doc_lens / sentinel rows, not here)
    01_blocks    tokenize -> tf -> sort -> encode, per          [idx analog]
                 doc-range partition -> segment/blocks
                 (overlapped with 00's write: both read pruned executions
                 of the same lazy id frame)
    02_dict      dictionary DERIVED from block metrics         [voc_sz analog]
                 (sorted by term within each file, write_dictionary)
                 + doc_lens decoded from the sentinel rows
                 -> segment/dict + segment/metrics + segment/doc_lens
                    + meta.json

Deriving df/cf from the encoded blocks (block_metrics: postings == df,
summed block tf == cf) is what makes the fusion legal: no tf pre-pass is
needed to learn the vocabulary before encoding. Block bounds are
avgdl-free, and n_docs/avgdl ride stage 01's write as an observation over
the encoder's sentinel rows, so no stage waits on corpus statistics.

Each manifest entry records wall seconds and row counts — the scaled-up
version of the reference's stage-boundary debug dumps (SURVEY.md §5.2).
``doc_space`` (total doc_id space, INCLUDING zero-token docs) is recorded
separately from the BM25 ``n_docs`` (docs with >=1 token): doc ids are dense
over all transcript rows, so offsets/strides must use doc_space.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig
from ivfadc_spark.operators import stats as S
from ivfadc_spark.operators.postings import (
    block_metrics,
    build_blocks_inplace,
    decode_doc_stats,
    is_sentinel,
)
from ivfadc_spark.operators.segments import (
    FORMAT_VERSION,
    Segment,
    dataset_fields,
    read_dataset,
    term_bucket_col,
    write_dictionary,
)
from ivfadc_spark.sources.transcripts import _tokens_for_partitions, plan_doc_ids

LAYOUT_VERSION = 3  # 3: doc_map carries the input's role/tool attributes

# Rows per doc shard: a build of ``rows`` rows gets
# ``min(cfg.doc_shards, ceil(rows / SHARD_ROWS))`` shards, so the layout
# follows the data size, never the cluster size. Every shard is one encode
# task with a fixed Python-worker cost, so a small build cut into
# cfg.doc_shards slivers pays that cost per sliver for tens of rows each;
# from SHARD_ROWS * cfg.doc_shards rows on (262,144 at the defaults) the
# build keeps the full cfg.doc_shards layout.
SHARD_ROWS = 8192


def write_width(n_shards: int, term_buckets: int) -> int:
    """Tasks of the term-bucket blocks write: two per doc shard plus one for
    the sentinel bucket, at most one per bucket (``term_buckets + 1``,
    sentinel bucket -1 included) — the index bytes a task writes follow the
    rows, as the shards do."""
    return min(int(term_buckets) + 1, 2 * int(n_shards) + 1)


def _manifest_path(out: str) -> str:
    return os.path.join(out, "_manifest.json")


def _load_manifest(out: str) -> dict:
    p = _manifest_path(out)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stages": {}}


def _save_manifest(out: str, m: dict) -> None:
    os.makedirs(out, exist_ok=True)
    with open(_manifest_path(out), "w") as f:
        json.dump(m, f, indent=2)


def _doc_map_fingerprint(dm: DataFrame):
    """(rows, order-independent hash) of (doc_id, conv_id, turn_idx) — cheap
    identity check between a recomputed id assignment and the checkpoint.
    The hashes are summed as decimals: a long sum of 64-bit hashes
    overflows (an ANSI error) from a few rows on."""
    row = dm.agg(
        F.count("*").alias("rows"),
        F.sum(F.xxhash64("doc_id", "conv_id", "turn_idx").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["rows"]), int(row["h"] or 0)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out: str,
    cfg: EngineConfig = DEFAULT,
    resume: bool = False,
    lineage: dict | None = None,
) -> Segment:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> segment at ``out``."""
    m = _load_manifest(out) if resume else {"stages": {}}
    done = m["stages"]
    if resume and done and m.get("layout_version", 1) != LAYOUT_VERSION:
        raise ValueError(
            f"cannot resume: checkpoint at {out} has layout_version="
            f"{m.get('layout_version', 1)}, engine writes {LAYOUT_VERSION}; rebuild"
        )
    st1 = done.get("01_blocks", {})
    if st1.get("complete") and not (
        st1.get("n_shards", 0) > 0 and "n_docs" in st1 and "n_sentinel_rows" in st1
    ):
        raise ValueError(
            f"cannot resume: stage 01_blocks at {out} predates the doc-sharded "
            "combiner layout (no n_shards / n_docs / n_sentinel_rows); rebuild"
        )
    m["layout_version"] = LAYOUT_VERSION

    def stage(name: str):
        # stage 01 counts as done only with stage 00: the two run
        # overlapped, so a resume redoes both unless both completed
        need = ("00_doc_map", name) if name == "01_blocks" else (name,)
        return resume and all(done.get(n, {}).get("complete", False) for n in need)

    def record(name: str, t0: float, **extra):
        done[name] = {"complete": True, "wall_s": round(time.time() - t0, 3), **extra}
        m["lineage"] = lineage or {}
        m["config"] = json.loads(cfg.to_json())
        _save_manifest(out, m)

    p_seg = os.path.join(out, "segment")
    p_docs = os.path.join(p_seg, "doc_map")
    p_blocks = os.path.join(p_seg, "blocks")
    p_metrics = os.path.join(p_seg, "metrics")
    # doc_map in its declared types, so every written doc_map reads back
    # under the declared schema whatever key types the input carried
    dm_cols = [F.col(c).cast(t) for c, t in dataset_fields("doc_map")]

    # Partition count = min(cfg.doc_shards, ceil(rows / SHARD_ROWS)), NOT a
    # multiple of the session's parallelism: the segment layout (and
    # therefore the per-query work of the doc-sharded batch path) must not
    # depend on how many executors happened to run the build — identical
    # input must yield an identical index at any cluster size. The id-assign
    # head's exact bucket counts pick it (plan_doc_ids shard_rows=); doc ids
    # themselves are partitioning-independent either way (global range
    # order).
    shard_cap = int(cfg.doc_shards)
    n_shards = 0
    with_ids = None
    dm_fut = dm_pool = dm_obs = None
    dm_t0 = 0.0
    # the build touches every transcript column EXCEPT ts — dropping it here
    # keeps its bytes out of the id-assign shuffle (the serial head of the
    # build)
    tx_cols = [c for c in ("conv_id", "turn_idx", "role", "text", "tool") if c in transcripts.columns]
    transcripts = transcripts.select(*tx_cols)
    id_rows = None
    head_timings: dict = {}
    if not stage("00_doc_map"):
        dm_t0 = time.time()
        # CACHELESS id assignment: boundaries + exact per-bucket counts
        # come from two cheap key-only jobs, so the expensive full-row
        # shuffle is never materialized into a cache — each downstream
        # job consumes its own COLUMN-PRUNED execution of this lazy
        # frame (doc_map: meta columns; blocks: keys + text). Profiling
        # showed the cache materialization was the single worst-scaling
        # span of the build (a serial head before any overlapped job
        # could start, BENCH/NARRATIVE.md); these pruned jobs are ~5%
        # of its wall.
        with_ids, id_counts = plan_doc_ids(transcripts, shard_cap, shard_rows=SHARD_ROWS)
        id_rows, n_shards = sum(id_counts), len(id_counts)
        head_timings = getattr(with_ids, "_ivfadc_timings", {})
        # serial head of the build: the sample + count jobs — recorded so
        # scaling runs attribute wall-time to it
        assign_s = round(time.time() - dm_t0, 3)
        # the row count rides on the write job via an Observation (no second
        # pass) and cross-checks the pruned bucket counts the ids were
        # derived from. n_docs/avgdl are NOT needed yet: the encoder's block
        # bounds are avgdl-free, and stage 02 recovers the per-doc token
        # counts from the encoder's sentinel rows.
        dm_obs = Observation("doc_map")
        dm_df = (
            with_ids.select(*dm_cols)
            .observe(dm_obs, F.count(F.lit(1)).alias("rows"))
        )
        # OVERLAP stages 00 and 01 (01 never counts as done without 00):
        # the two jobs run pruned executions of the same lazy id frame and
        # write disjoint outputs, so nothing orders them. The doc_map write
        # is JVM-bound (meta columns only — its shuffle never carries text);
        # the combiner is python-worker-bound — under FAIR pools
        # (session.py) they share the same cores productively instead of
        # serializing. Stage 00 is recorded complete only after its write
        # really finished; a crash mid-overlap records neither stage and
        # resume redoes both.
        from concurrent.futures import ThreadPoolExecutor

        sc = spark.sparkContext

        def _write_doc_map():
            sc.setLocalProperty("spark.scheduler.pool", "build_docmap")
            dm_df.write.mode("overwrite").parquet(p_docs)
            return time.time()

        dm_pool = ThreadPoolExecutor(max_workers=1)
        dm_fut = dm_pool.submit(_write_doc_map)

    if not stage("01_blocks"):
        t0 = time.time()
        if with_ids is None:
            # resuming past a completed 00 in a fresh session: re-derive ids
            # and PROVE the recompute reproduces the checkpointed doc_map
            # (duplicate keys or a changed input layout could permute ties)
            with_ids, id_counts = plan_doc_ids(transcripts, shard_cap, shard_rows=SHARD_ROWS)
            n_shards = len(id_counts)
            got = _doc_map_fingerprint(with_ids.select(*dm_cols))
            want = _doc_map_fingerprint(read_dataset(spark, p_seg, "doc_map"))
            if got != want:
                raise ValueError(
                    f"resume: recomputed doc ids disagree with checkpoint at {p_docs} "
                    f"(rows/hash {got} != {want}); input changed or keys are not "
                    "unique — rebuild without resume"
                )
        # combiner: tokenize -> tf -> sort -> encode in ONE map pass over
        # the range-partitioned frame; the doc shard is a bounded doc-range
        # chunk of the partition, so NO posting row ever crosses the
        # network — only encoded blocks move, in the term_bucket layout
        # repartition below. Sentinel rows land in the term_bucket=-1
        # partition.
        blocks = build_blocks_inplace(with_ids.select("doc_id", "text"), cfg)
        # corpus stats ride the write: sentinel rows carry the chunk's
        # positive-doc count (max_tf) and token total (sum_tf) as plain
        # columns, so n_docs/avgdl land in the manifest with ZERO extra
        # jobs — stage 02's dictionary job can then overlap the doc_lens
        # decode instead of waiting for its observation
        sobs = Observation("corpus_stats")
        blocks = blocks.observe(
            sobs,
            F.sum(F.when(is_sentinel(), F.col("max_tf"))).alias("n_docs"),
            F.sum(F.when(is_sentinel(), F.col("sum_tf"))).alias("tokens"),
            F.sum(is_sentinel().cast("long")).alias("sentinels"),
        )
        n_buckets = int(cfg.term_buckets) + 1  # sentinel bucket -1 included
        width = write_width(n_shards, cfg.term_buckets)
        toks = _tokens_for_partitions(spark, width)
        if dm_fut is not None:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "build_blocks")
        try:
            (
                blocks.withColumn(
                    "term_bucket",
                    # xxhash64(NULL) is the seed hash, not NULL — route the
                    # sentinel rows (term NULL) explicitly
                    F.when(is_sentinel(), F.lit(-1)).otherwise(
                        term_bucket_col(cfg.term_buckets)
                    ),
                )
                # Repartition on term_bucket before the partitioned write:
                # the write cost is FILE OPERATIONS, not bytes — without it
                # every encode task opens a writer per bucket (tasks x
                # buckets ≈ thousands of tiny files; measured 10s at sf0.1
                # even with raw local FS), while the one cheap shuffle of
                # the already-encoded blocks (the index is a few % of corpus
                # bytes) collapses that to one file per bucket (measured
                # 1.2s — 8x). Earlier rounds profiled this shuffle as a
                # loss; that was before the byte tokenizer made encode cheap
                # and checksum sidecars were the hidden constant. Write
                # parallelism = write_width(n_shards), at most term_buckets+1
                # (term_buckets also sets scan-prune granularity and is the
                # merge/federation layout contract); sentinel rows (bucket
                # -1) are span-compressed and tiny.
                # EXACT placement (round-5): plain repartition("term_bucket")
                # hash-collides the term_buckets+1 bucket values into
                # shuffle_partitions slots — event-log profiling at 16 cores
                # showed only 14 non-empty tasks for 65 buckets, with 2-3
                # buckets stacked on hot tasks (a width + skew loss exactly
                # where the write should be embarrassingly parallel). The
                # murmur3 placement tokens (_tokens_for_partitions) give
                # each of the write_width tasks one contiguous bucket range
                # (one bucket per task at full width); a bucket never spans
                # two tasks, so every bucket directory still gets one file.
                .repartition(
                    width,
                    F.element_at(
                        F.array(*[F.lit(toks[i * width // n_buckets]) for i in range(n_buckets)]),
                        F.col("term_bucket") + 2,
                    ),
                )
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(p_blocks)
            )
        finally:
            if dm_fut is not None:
                # join the overlapped doc_map write whether or not the blocks
                # write succeeded (never leave a job running past an error)
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
                t_dm = dm_fut.result()
                dm_pool.shutdown()
        if dm_fut is not None:
            # record stage 00 FIRST so the manifest never claims 01 without
            # 00 (its wall is the real span of the write, not the overlap
            # window)
            rows = int(dm_obs.get["rows"])
            if rows != id_rows:
                raise RuntimeError(
                    f"doc_map wrote {rows} rows but bucket counts said {id_rows}"
                )
            record(
                "00_doc_map", dm_t0, rows=rows, doc_space=rows,
                wall_s=round(t_dm - dm_t0, 3), overlapped=True, assign_s=assign_s,
                n_shards=n_shards, **head_timings,
            )
        sn = int(sobs.get["n_docs"] or 0)
        extra = {
            "n_docs": sn,
            "avgdl": (float(sobs.get["tokens"]) / sn) if sn else 0.0,
            # the layout this build chose, and the blocks-write task count
            # it implies (write_width)
            "n_shards": n_shards,
            "write_tasks": width,
            # one sentinel row per encode chunk: stage 02 splits its
            # doc_lens decode over at most this many tasks
            "n_sentinel_rows": int(sobs.get["sentinels"] or 0),
        }
        record("01_blocks", t0, **extra)
    doc_space = done["00_doc_map"]["doc_space"]

    if not stage("02_dict"):
        t0 = time.time()
        raw = read_dataset(spark, p_seg, "blocks")
        mobs = Observation("metrics")
        metrics_out = block_metrics(raw).observe(
            mobs,
            F.sum("postings").alias("postings"),
            F.sum("bytes").alias("bytes"),
            F.max("postings").alias("max_term_postings"),
        )
        # corpus stats + doc-length sidecar from the encoder's sentinel
        # rows (term_bucket=-1 partition — a pruned scan): one tiny
        # decode instead of a corpus tokenize. n_docs keeps the BM25
        # convention (docs with >= 1 token). Two scale details:
        # (a) the pre-write repartition("term_bucket") put ALL sentinel
        #     rows in one file (usually one row group), so the pruned
        #     scan is ONE task — repartition the still-encoded rows
        #     (tiny: ~3 span-compressed bytes/doc) across the cluster so
        #     decode + write parallelize (each sentinel row is a
        #     self-contained chunk; decode is row-independent), into at
        #     most one task per sentinel row (stage 01 counts them): a
        #     small build's few rows would leave most of
        #     defaultParallelism tasks empty;
        # (b) run the doc_lens job CONCURRENTLY with the metrics scan
        #     below (separate thread; they read disjoint partitions) —
        #     stage 02 was the build's worst-scaling stage precisely
        #     because it serialized three small jobs that each
        #     underfill a big cluster.
        obs = Observation("doc_lens")
        st1 = done["01_blocks"]
        sent = raw.filter(F.col("term_bucket") == -1).repartition(
            max(1, min(spark.sparkContext.defaultParallelism, int(st1["n_sentinel_rows"])))
        )
        lens_out = decode_doc_stats(sent).observe(
            obs,
            F.sum((F.col("dl") > 0).cast("long")).alias("n_docs"),
            F.sum("dl").alias("tokens"),
        )
        # n_docs/avgdl arrive from stage 01's write observation over the
        # sentinel stat columns
        n_docs, avgdl = int(st1["n_docs"]), float(st1["avgdl"])
        from concurrent.futures import ThreadPoolExecutor

        metrics_cached = metrics_out.persist()

        def _write_lens():
            # own FAIR pool (session.py): the python-decode lane really
            # runs beside the JVM metrics/dict lane instead of queueing
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "build_doclens"
            )
            lens_out.write.mode("overwrite").parquet(
                os.path.join(p_seg, "doc_lens")
            )

        def _write_dict():
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "build_dict"
            )
            write_dictionary(
                S.dictionary_from_metrics(metrics_cached.select("term", "postings", "cf"), n_docs),
                p_seg,
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            lens_fut = pool.submit(_write_lens)
            # materialize the per-term agg cache with ONE count job
            # (overlapping the doc_lens lane), then the metrics write
            # and the dictionary write both read the CACHE and run as
            # two further concurrent lanes — stage 02 is three
            # concurrent cache-fed lanes instead of (two lanes with the
            # dict serialized behind the metrics write). The agg is
            # computed exactly once either way; this only moves the
            # cheap cache-read writes off the critical path.
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "build_dict"
            )
            try:
                metrics_cached.count()  # fires mobs; materializes cache
                dict_fut = pool.submit(_write_dict)
                metrics_cached.write.mode("overwrite").parquet(p_metrics)
                dict_fut.result()
            finally:
                spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
            lens_fut.result()
        obs_n = int(obs.get["n_docs"] or 0)
        obs_avg = (float(obs.get["tokens"]) / obs_n) if obs_n else 0.0
        # decoded sidecar must agree with the stage-01 column stats — a
        # free integrity check on the sentinel encode/decode pair
        if (obs_n, round(obs_avg, 9)) != (n_docs, round(avgdl, 9)):
            raise ValueError(
                f"stage 02: doc_lens decode stats ({obs_n}, {obs_avg}) "
                f"disagree with stage-01 sentinel stats ({n_docs}, "
                f"{avgdl}) — sentinel corruption; rebuild"
            )
        metrics_cached.unpersist()
        met = mobs.get
        meta = {
            "n_docs": int(n_docs),
            "avgdl": float(avgdl),
            "doc_space": int(doc_space),
            # doc-shard count = the number of id-assign partitions, sized
            # from the row count (SHARD_ROWS, capped at cfg.doc_shards)
            "n_shards": int(st1["n_shards"]),
            "doc_base": 0,
            "created_at": time.time(),
            "lineage": lineage or {},
            "config": json.loads(cfg.to_json()),
            # v3: posting blocks carry NO per-posting dl stream — dl lives
            # once per doc in the sentinel/doc_lens sidecar
            "format_version": FORMAT_VERSION,
        }
        with open(os.path.join(p_seg, "meta.json"), "w") as f:
            json.dump(meta, f, indent=2)
        build_wall = sum(s.get("wall_s", 0.0) for s in done.values()) + (time.time() - t0)
        record(
            "02_dict", t0,
            postings=int(met["postings"]),
            bytes=int(met["bytes"]),
            max_term_postings=int(met["max_term_postings"]),
            postings_per_sec=round(int(met["postings"]) / max(build_wall, 1e-9), 1),
        )
    return Segment(spark, p_seg)
