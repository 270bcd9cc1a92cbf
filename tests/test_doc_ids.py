"""doc_id assignment invariants (sources/transcripts.py).

The engine's doc ids are the dense global rank over the unique
``(conv_id, turn_idx)`` key — the data-derived analog of the reference's
load-order positional ids (/root/reference/SearchEngine.cpp:275-287), made
deterministic. Everything downstream leans on specific properties of the
assignment, so they get their own tests:

- ids are dense 0..N-1 in global key order, at ANY partition count, and
  equal the rank of a plain pandas sort (resume and every re-derivation
  of ids rely on the count not mattering);
- each partition holds one contiguous id range (the combiner's doc shard,
  salt = partition ordinal * SALT_CHUNK_SPAN + chunk, requires it), and
  the returned bucket counts are the real partition sizes;
- re-planning the same input reproduces the same ids (resume fingerprint);
- the range bounds come from ONE key-sample job that returns a bounded
  number of keys from each input partition, exact (every key) on an input
  of at most the sample size;
- a plan sized by ``shard_rows`` merges the cap's buckets into
  ``shard_count`` partitions with the same properties;
- a partition too large for the 33-bit in-partition rank raises instead of
  wrapping into duplicate ids.
"""

import itertools

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ivfadc_spark.sources import transcripts
from ivfadc_spark.sources.transcripts import (
    _range_bounds,
    check_rank_bits,
    plan_doc_ids,
    shard_count,
    synth_transcripts,
)


@pytest.fixture(scope="module")
def tx(spark):
    # repartition(13): ids must not depend on source layout
    return synth_transcripts(spark, n_conversations=120).repartition(13)


def _global_rank(tx):
    pdf = tx.select("conv_id", "turn_idx").toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.mark.parametrize("n", [1, 5, 32])
def test_plan_ids_are_global_rank_dense(spark, tx, n):
    got = (
        plan_doc_ids(tx, n)[0]
        .select("conv_id", "turn_idx", "doc_id")
        .orderBy("doc_id")
        .toPandas()
    )
    want = _global_rank(tx)
    assert list(got["doc_id"]) == list(range(len(got)))
    assert list(got["conv_id"]) == list(want["conv_id"])
    assert list(got["turn_idx"]) == list(want["turn_idx"])


def test_partition_ranges_contiguous(spark, tx):
    pdf, counts = plan_doc_ids(tx, 5)
    spans = (
        pdf.withColumn("_p", F.spark_partition_id())
        .groupBy("_p")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"), F.count("*").alias("c"))
        .orderBy("_p")
        .toPandas()
    )
    # contiguous within each partition, partitions in ascending id order
    assert all(spans["hi"] - spans["lo"] + 1 == spans["c"])
    assert list(spans["lo"])[1:] == [h + 1 for h in spans["hi"]][:-1]
    # counts returned to the planner are the real partition sizes
    by_pid = dict(zip(spans["_p"], spans["c"]))
    assert [by_pid.get(p, 0) for p in range(5)] == counts


@pytest.mark.parametrize("shard_rows", [1, 150, 10**6])
def test_sized_plan_merges_buckets(spark, tx, shard_rows):
    """With ``shard_rows`` the partition count is sized from the head's
    exact counts (one partition, a merge of the cap's buckets, or the cap);
    the returned counts are the real partition sizes and the ids are still
    the global rank."""
    rows = tx.count()
    ids, counts = plan_doc_ids(tx, 32, shard_rows=shard_rows)
    assert len(counts) == shard_count(rows, 32, shard_rows)
    assert sum(counts) == rows
    got = (
        ids.withColumn("_p", F.spark_partition_id())
        .select("_p", "conv_id", "turn_idx", "doc_id")
        .toPandas()
    )
    sizes = got.groupby("_p").size()
    assert [int(sizes.get(p, 0)) for p in range(len(counts))] == counts
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = _global_rank(tx)
    assert list(got["doc_id"]) == list(range(rows))
    assert list(got["conv_id"]) == list(want["conv_id"])
    assert list(got["turn_idx"]) == list(want["turn_idx"])


def test_replan_reproduces_ids(spark, tx):
    a = plan_doc_ids(tx, 8)[0].select("doc_id", "conv_id").orderBy("doc_id").toPandas()
    b = plan_doc_ids(tx, 8)[0].select("doc_id", "conv_id").orderBy("doc_id").toPandas()
    assert a.equals(b)


_groups = itertools.count()


def _jobs_of(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"doc-ids-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_head_samples_keys_in_one_job(spark, monkeypatch):
    """The id-assign head's range bounds cost one job over an unshuffled
    input: exact quantiles of every key on a small input, whether it is an
    RDD-backed frame or a pandas-built local relation. On a larger input the
    job returns at most ``k + 1`` keys from each of its P partitions, ``k =
    ceil(m / P)``, never every partition's share of the whole input. The
    whole head is that job plus the exact per-bucket count (its map and
    result jobs)."""
    tx = synth_transcripts(spark, n_conversations=120)
    keys = sorted((r[0], r[1]) for r in tx.select("conv_id", "turn_idx").collect())
    local = spark.createDataFrame(pd.DataFrame(keys, columns=["conv_id", "turn_idx"]))
    for df in (tx, local):
        got, jobs = _jobs_of(spark, lambda: _range_bounds(df, 5))
        assert jobs == 1
        assert got == [keys[i * len(keys) // 5] for i in range(1, 5)]

    collected = []

    def spy(df, per_part):
        rows = sample(df, per_part)
        collected.append((per_part, len(rows)))
        return rows

    sample = transcripts._partition_samples
    monkeypatch.setattr(transcripts, "_partition_samples", spy)
    monkeypatch.setattr(transcripts, "SAMPLE_KEYS_PER_BOUND", 6)
    monkeypatch.setattr(transcripts, "MIN_KEYS_PER_PARTITION", 1)
    six = spark.createDataFrame(spark.sparkContext.parallelize(keys, 6), "conv_id string, turn_idx int")
    got, jobs = _jobs_of(spark, lambda: _range_bounds(six, 5))
    assert jobs == 1
    assert collected == [(5, 6 * 6)]  # k = ceil(6 * 5 / 6): 6 partitions * (k + 1) keys
    assert len(got) == 4 and got == sorted(got) and set(got) <= set(keys)
    monkeypatch.undo()
    _, jobs = _jobs_of(spark, lambda: plan_doc_ids(tx, 5))
    assert jobs <= 3


def test_rank_guard_refuses_wrapping_partition():
    """The in-partition rank is the low 33 bits of a monotonic id: a bucket
    of 2^33 rows would wrap into another row's doc_id, so it must raise,
    naming the bucket and its count."""
    check_rank_bits([5, 2**33 - 1, 0])
    with pytest.raises(ValueError, match=f"bucket 1 holds {2**33} rows"):
        check_rank_bits([5, 2**33, 7])
