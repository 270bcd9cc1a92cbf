"""Transcripts source: the engine's primary input table.

Schema per BASELINE.json ``input_hint`` (Iceberg-style table of multi-turn
conversation / agent transcripts)::

    transcripts(conv_id string, turn_idx int, role string,
                text string, tool string, ts timestamp)

Document = one turn. ``doc_id`` is NOT a column: it is the dense rank over
the stable ordering ``(conv_id ASC, turn_idx ASC)`` — the data-derived
analog of the reference's positional docID assignment at index load
(/root/reference/SearchEngine.cpp:275-287), made deterministic so segment
merge / resume cannot permute it.

Also contains the deterministic synthetic generator (seed=42, Zipfian
vocabulary with a guaranteed head term and singleton tails) used by tests
and bench — no external data.
"""

from __future__ import annotations

import bisect

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

_ROLES = ["user", "assistant", "tool"]
_TOOLS = ["", "search", "bash", "browser", "python"]


def synth_transcripts_pdf(
    n_conversations: int = 100,
    seed: int = 42,
    vocab_size: int = 200,
    min_turns: int = 3,
    max_turns: int = 20,
    min_words: int = 3,
    max_words: int = 40,
) -> pd.DataFrame:
    """Deterministic synthetic transcripts (FIXTURES.md §1).

    Zipfian term frequencies exercise head-term skew; ``headterm`` is forced
    into >50% of turns; ``singleton{i}`` terms appear exactly once.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"term{i:03d}" for i in range(vocab_size)])
    # Zipf weights over the vocabulary
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    weights = 1.0 / ranks
    weights /= weights.sum()

    rows: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    base_ts = np.datetime64("2024-01-01T00:00:00")
    singleton_counter = 0
    for c in range(n_conversations):
        conv = f"conv-{c:06d}"
        n_turns = int(rng.integers(min_turns, max_turns + 1))
        t = base_ts + np.timedelta64(c * 3600, "s")
        for i in range(n_turns):
            n_words = int(rng.integers(min_words, max_words + 1))
            words = list(rng.choice(vocab, size=n_words, p=weights))
            if rng.random() < 0.6:  # head term in >50% of turns
                words.append("headterm")
            if rng.random() < 0.02:  # rare singleton terms (posting len 1)
                words.append(f"singleton{singleton_counter}")
                singleton_counter += 1
            role = _ROLES[i % 3] if rng.random() < 0.8 else str(rng.choice(_ROLES))
            tool = str(rng.choice(_TOOLS)) if role == "tool" else ""
            t = t + np.timedelta64(int(rng.integers(1, 120)), "s")
            rows["conv_id"].append(conv)
            rows["turn_idx"].append(np.int32(i))
            rows["role"].append(role)
            rows["text"].append(" ".join(words))
            rows["tool"].append(tool)
            rows["ts"].append(t)
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return pdf


def synth_transcripts(spark: SparkSession, n_conversations: int = 100, seed: int = 42, **kw) -> DataFrame:
    return spark.createDataFrame(
        synth_transcripts_pdf(n_conversations, seed, **kw), schema=TRANSCRIPTS_SCHEMA
    )


def synth_transcripts_fast_pdf(
    n_conversations: int = 10_000,
    seed: int = 42,
    vocab_size: int = 2_000,
    mean_turns: int = 12,
    mean_words: int = 20,
) -> pd.DataFrame:
    """Fully-vectorized generator for bench-scale corpora (same schema,
    Zipfian vocabulary, deterministic). ~1M turns/sec to generate."""
    rng = np.random.default_rng(seed)
    turns_per_conv = rng.integers(3, 2 * mean_turns, size=n_conversations)
    n_turns = int(turns_per_conv.sum())
    conv_idx = np.repeat(np.arange(n_conversations), turns_per_conv)
    turn_idx = np.concatenate([np.arange(t) for t in turns_per_conv]).astype(np.int32)

    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    weights = (1.0 / ranks) / (1.0 / ranks).sum()
    vocab = pd.array([f"w{i:05d}" for i in range(vocab_size)], dtype="string")

    words_per_turn = rng.integers(3, 2 * mean_words, size=n_turns)
    total_words = int(words_per_turn.sum())
    word_ids = rng.choice(vocab_size, size=total_words, p=weights)
    flat = pd.Series(np.asarray(vocab)[word_ids], dtype="string")
    turn_of_word = np.repeat(np.arange(n_turns), words_per_turn)
    texts = flat.groupby(turn_of_word).agg(" ".join)

    roles = np.asarray(_ROLES)[turn_idx % 3]
    conv_ids = pd.Series(conv_idx).map(lambda c: f"conv-{c:06d}")
    ts = (
        np.datetime64("2024-01-01T00:00:00")
        + (conv_idx * 3600 + turn_idx * 30).astype("timedelta64[s]")
    )
    return pd.DataFrame(
        {
            "conv_id": conv_ids.astype(str),
            "turn_idx": turn_idx,
            "role": roles,
            "text": texts.astype(str).to_numpy(),
            "tool": np.where(roles == "tool", "bash", ""),
            "ts": ts,
        }
    )


def transcripts_from_documents(docs: DataFrame) -> DataFrame:
    """Adapt the driver's ``documents`` table to the transcripts shape.

    Groups of 8 docs become one conversation; deterministic (pure column
    expressions of doc_id). Lets every transcript code path run on the
    read-only /root/testdata parquet without synthesizing data.
    """
    return docs.select(
        F.format_string("conv-%06d", (F.col("doc_id") / 8).cast("long")).alias("conv_id"),
        (F.col("doc_id") % 8).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.col("doc_id"))).alias("ts"),
    )


def _tokens_for_partitions(spark: SparkSession, n: int) -> list[int]:
    """Small ints ``t_p`` with ``pmod(murmur3(t_p), n) == p`` for every
    partition ``p`` — lets ``repartition(n, lit_token)`` place a row on an
    EXACT partition (hash partitioning is the only repartition the DataFrame
    API exposes; choosing the hashed value instead of the partitioner gives
    back deterministic placement). Found once per ``n`` with one tiny job
    over ``spark.range`` so the hash is literally the engine's own
    (Murmur3, seed 42), never a re-implementation that could drift."""
    got = _TOKEN_CACHE.get(n)
    if got is not None:
        return got
    toks: dict[int, int] = {}
    width = max(8 * n, 64)
    while len(toks) < n:
        rows = (
            spark.range(0, width)
            .select(
                F.col("id").cast("int").alias("tok"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("p"),
            )
            .collect()
        )
        for r in rows:
            toks.setdefault(int(r["p"]), int(r["tok"]))
        width *= 4
    out = [toks[p] for p in range(n)]
    _TOKEN_CACHE[n] = out
    return out


_TOKEN_CACHE: dict[int, list[int]] = {}


# keys sampled per range partition by the id-assign head (_range_bounds):
# an input whose partitions each hold at most SAMPLE_KEYS_PER_BOUND * n /
# partitions rows (64,000 rows in all at n = 32) gets exact bounds
SAMPLE_KEYS_PER_BOUND = 2000
# floor on the keys the head takes from one input partition: the sample is
# the keys below the lowest partition cut, and with only a few keys a
# partition (m / P once P nears m) that lowest cut, and the sample with it,
# falls far below its mean
MIN_KEYS_PER_PARTITION = 64


def _partition_samples(df: DataFrame, per_part: int) -> pd.DataFrame:
    """(conv_id, turn_idx, u, r) rows from ONE shuffle-free job: the
    ``per_part + 1`` keys of each input partition with the lowest
    seeded ``u = rand(42)``, ``r`` their rank in it. The sort runs within
    each partition and ``r`` is the low bits of ``monotonically_increasing_id``
    taken after it, so no task returns more than ``per_part + 1`` rows."""
    rank = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << RANK_BITS) - 1))
    return (
        df.select("conv_id", "turn_idx", F.rand(42).alias("u"))
        .sortWithinPartitions("u")
        .select("conv_id", "turn_idx", "u", rank.alias("r"))
        .filter(F.col("r") <= per_part)
        .toPandas()
    )


def _range_bounds(df: DataFrame, n: int) -> list[tuple]:
    """Driver-side range boundaries for ``n`` partitions from ONE job over
    the two pruned KEY columns (never the full row — Spark's own range
    exchange samples the entire child plan, text included).

    Each of the input's P partitions returns its ``k + 1`` lowest-``rand``
    keys, ``k = max(ceil(m / P), MIN_KEYS_PER_PARTITION)`` with ``m =
    SAMPLE_KEYS_PER_BOUND * n``, so the driver receives at most
    ``P * (k + 1)`` keys at any input size. A partition that returned
    ``k + 1`` keys is cut at its largest ``rand``; the sample is every key
    below the lowest cut. Every partition returned all its keys below that
    cut, so the sample is uniform over the whole input (about ``m`` keys
    when the partitions are even in size), and an input whose partitions
    hold at most ``k`` rows each gives every key: exact bounds."""
    parts = max(df.rdd.getNumPartitions(), 1)  # no job on a shuffle-free input
    k = max(-(-SAMPLE_KEYS_PER_BOUND * n // parts), MIN_KEYS_PER_PARTITION)
    kp = _partition_samples(df, k)
    u = kp["u"].to_numpy()
    kp = kp[u < u[kp["r"].to_numpy() == k].min(initial=np.inf)]
    sampled = list(zip(kp["conv_id"].tolist(), kp["turn_idx"].tolist()))
    sampled.sort(key=lambda kv: (kv[0], kv[1] if kv[1] is not None else -1))
    if not sampled:
        return []
    return [sampled[min(i * len(sampled) // n, len(sampled) - 1)] for i in range(1, n)]


def _bucket_expr(bounds: list[str], leaves: list[int] | None = None):
    """searchsorted(conv_id) over the sorted conv_id boundaries as a
    BINARY ``when`` tree: each row evaluates only its log2(n) path of string
    comparisons, not all n-1 (a linear indicator chain measured 12.5s for the
    pruned count job at 16.6M rows; the tree is ~0.5s). ``leaves[b]`` is the
    literal the b-th bucket evaluates to — the bucket ordinal for the count
    job, the partition-placement token for the shuffle key — so both jobs
    share one expression shape and stay bucket-consistent by construction.
    Ties on a repeated boundary value take the searchsorted-right rule; empty
    buckets just contribute zero to offsets."""
    n = len(bounds) + 1
    vals = leaves if leaves is not None else list(range(n))

    def ge(bc):
        # conversation-start boundaries: ONE string compare per tree level
        # (the counts job and every consumer shuffle evaluate this tree once
        # per row; boundary granularity moves only ~one conversation of rows
        # per bucket, never any doc_id)
        return F.col("conv_id") >= F.lit(bc)

    def build(lo, hi):
        if hi - lo == 1:
            return F.lit(int(vals[lo]))
        mid = (lo + hi) // 2
        return F.when(ge(bounds[mid - 1]), build(mid, hi)).otherwise(build(lo, mid))

    return build(0, n)


RANK_BITS = 33  # in-partition rank = low bits of monotonically_increasing_id


def check_rank_bits(counts: list[int]) -> None:
    """Refuse a partition of ``2**RANK_BITS`` rows or more: its in-partition
    rank would wrap into another row's doc_id instead of failing."""
    if counts and max(counts) >= 2**RANK_BITS:
        b = max(range(len(counts)), key=counts.__getitem__)
        raise ValueError(
            f"plan_doc_ids: bucket {b} holds {counts[b]} rows, over the "
            f"2^{RANK_BITS} in-partition rank limit — use more partitions"
        )


def shard_count(rows: int, cap: int, shard_rows: int) -> int:
    """Doc shards for ``rows`` rows: one per ``shard_rows`` rows, at least
    one, at most ``cap``."""
    return max(1, min(int(cap), -(-int(rows) // int(shard_rows))))


def merge_cuts(counts: list[int], n: int) -> list[int]:
    """Cut the adjacent buckets ``counts`` into ``n`` groups of near-equal
    rows: returns ``k_1 < ... < k_{n-1}`` in ``1..len(counts)-1``, group ``j``
    being ``counts[k_j:k_{j+1}]`` (``k_0 = 0``, ``k_n = len(counts)``). Cut
    ``k`` keeps the bound between buckets ``k-1`` and ``k``; every other
    bound is dropped. Each cut goes to the prefix sum nearest ``j/n`` of the
    rows, leaving at least one bucket for every later group."""
    m, n = len(counts), int(n)
    if not 1 <= n <= m:
        raise ValueError(f"merge_cuts: cannot cut {m} buckets into {n} groups")
    prefix = [0]
    for c in counts:
        prefix.append(prefix[-1] + int(c))
    cuts, lo = [], 1
    for j in range(1, n):
        target = prefix[-1] * j / n
        k = bisect.bisect_left(prefix, target, lo, m)
        if k > lo and target - prefix[k - 1] <= prefix[k] - target:
            k -= 1
        k = min(max(k, lo), m - n + j)
        cuts.append(k)
        lo = k + 1
    return cuts


def plan_doc_ids(
    df: DataFrame, num_partitions: int, shard_rows: int | None = None
) -> tuple[DataFrame, list[int]]:
    """CACHELESS doc_id assignment: ``(with_ids, per-bucket counts)``.

    doc_id = dense 0-based global rank over ``(conv_id, turn_idx)``. A naive
    ``row_number() OVER (ORDER BY ...)`` is a single-partition sort — a
    non-starter at 10^12 turns — so this is a distributed dense rank:

    1. range boundaries from one seeded, per-partition-bounded sample of
       the two pruned KEY columns (:func:`_range_bounds`; Spark's own range
       exchange samples the whole child plan, text included), cut at
       conversation starts;
    2. an EXACT pruned-column row count per range bucket gives each
       partition's prefix-sum offset — two cheap key-only jobs, no
       materialized cache;
    3. bucket -> partition placement goes through
       :func:`_tokens_for_partitions`, so partition ``p`` holds exactly the
       ``p``-th key range, sorted within the partition;
    4. doc_id = partition offset + in-partition rank. The offsets ride the
       plan as one literal array indexed by the partition id (no join, so no
       broadcast job per execution). The rank is the low 33 bits of
       ``monotonically_increasing_id()`` — a narrow, shuffle-free projection
       (a ``row_number()`` window over the partition id would hash-reshuffle
       and re-sort). A partition of 2^33 rows or more raises
       (:func:`check_rank_bits`) before the id frame is built.

    With ``shard_rows``, ``num_partitions`` is a CAP: steps 1-2 run at the
    cap, and their exact counts choose ``n = shard_count(rows, cap,
    shard_rows)`` partitions by merging adjacent buckets at their existing
    bounds (:func:`merge_cuts`) — sizing costs no extra job. Without it the
    frame has exactly ``num_partitions`` partitions. ``len(counts)`` is the
    partition count either way.

    Boundary choice moves only partition SIZES, never ids, so ids do not
    depend on the partition count or the input layout (the property
    positions.py and segment resume rely on), and each partition holds one
    contiguous id range (the combiner's doc shard). The returned frame is
    lazy and UNPERSISTED: every consumer pays one shuffle+sort of exactly
    the columns IT selects (column pruning pushes through the exchange),
    which lets the index build run its doc_map job (meta columns) and its
    blocks job (keys + text) as two concurrently-scheduled pruned pipelines
    with no serial cache-materialization span — the span profiling showed
    was the worst-scaling part of the build (BENCH/NARRATIVE.md).
    Determinism: partition content is fixed by the boundaries (seeded
    sample), row order inside a partition by the sort over the unique key,
    so every execution of the frame computes identical ids. Unlike the
    reference's load-order positional ids
    (reference SearchEngine.cpp:275-287), the result depends only on
    the data.
    """
    import time as _time

    _t0 = _time.time()
    n = int(num_partitions)
    spark = df.sparkSession
    timings = {}
    if n <= 1:
        counts = [df.count()]
        bounds: list[str] = []
    else:
        # boundaries truncated to conversation STARTS (turn component
        # dropped): the bucket tree then costs one string compare per level
        # (see _bucket_expr.ge) in the counts job and in every consumer's
        # shuffle. Balance cost: a boundary moves by at most one
        # conversation (~tens of rows); ids are global ranks and never move.
        bounds = [bc for bc, _bt in _range_bounds(df, n)]
        timings["bounds_s"] = round(_time.time() - _t0, 3)
        _t1 = _time.time()
        bucket = _bucket_expr(bounds)
        cnt_rows = (
            df.select("conv_id", "turn_idx")
            .groupBy(bucket.alias("_b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        timings["counts_s"] = round(_time.time() - _t1, 3)
        got = {int(r["_b"]): int(r["cnt"]) for r in cnt_rows}
        counts = [got.get(b, 0) for b in range(n)]
    if shard_rows is not None:
        want = shard_count(sum(counts), n, shard_rows)
        if want < n:
            # a row of one merged group lies between its first and last
            # kept bound, so the merged tree sends it exactly where the
            # summed exact counts say
            cuts = merge_cuts(counts, want)
            edges = [0, *cuts, n]
            counts = [sum(counts[a:b]) for a, b in zip(edges, edges[1:])]
            bounds = [bounds[k - 1] for k in cuts]
            n = want
    if n <= 1:
        shaped = df.coalesce(1)
    else:
        toks = _tokens_for_partitions(spark, n)
        token = _bucket_expr(bounds, leaves=toks)
        shaped = df.withColumn("_tok", token).repartition(n, "_tok").drop("_tok")
    check_rank_bits(counts)
    offsets, acc = [], 0
    for c in counts:
        offsets.append(acc)
        acc += c
    part_off = F.element_at(
        F.array(*[F.lit(o).cast("long") for o in offsets]),
        F.spark_partition_id() + 1,
    )
    out = shaped.sortWithinPartitions("conv_id", "turn_idx").withColumn(
        "doc_id",
        part_off + F.monotonically_increasing_id().bitwiseAND(F.lit((1 << RANK_BITS) - 1)),
    )
    out._ivfadc_timings = timings  # head-phase walls, surfaced in the manifest
    return out, counts
