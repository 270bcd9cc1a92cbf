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
- re-planning the same input reproduces the same ids (resume fingerprint).
"""

import pytest
from pyspark.sql import functions as F

from ivfadc_spark.sources.transcripts import plan_doc_ids, synth_transcripts


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


def test_replan_reproduces_ids(spark, tx):
    a = plan_doc_ids(tx, 8)[0].select("doc_id", "conv_id").orderBy("doc_id").toPandas()
    b = plan_doc_ids(tx, 8)[0].select("doc_id", "conv_id").orderBy("doc_id").toPandas()
    assert a.equals(b)
