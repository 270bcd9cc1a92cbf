"""Index integrity audit (operators/fsck.py): a healthy segment audits
clean (including deep dictionary recompute); injected corruptions of each
class are detected and named."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators.fsck import fsck_segment
from ivfadc_spark.operators.segments import Segment
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.sources.transcripts import synth_transcripts

CFG = EngineConfig(block_size=16, doc_shards=8)

# tiny corpora still build cfg.doc_shards shards (conftest.full_shards)
pytestmark = pytest.mark.usefixtures("full_shards")


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fsckseg"))
    tx = synth_transcripts(spark, n_conversations=40)
    seg = build_index(spark, tx, out, cfg=CFG)
    assert seg.meta["n_shards"] > 1
    return seg


def _corrupt_copy(spark, seg, tmp_path, mutate):
    """Copy the segment, rewrite its blocks dataset with ``mutate`` applied
    (a DataFrame -> DataFrame tamper), return the corrupted Segment."""
    dst = str(tmp_path / "corrupt")
    shutil.copytree(seg.path, dst)
    blocks = spark.read.parquet(os.path.join(seg.path, "blocks"))
    tampered = mutate(blocks).toPandas()
    shutil.rmtree(os.path.join(dst, "blocks"))
    spark.createDataFrame(tampered, schema=blocks.schema).write.partitionBy(
        "term_bucket"
    ).parquet(os.path.join(dst, "blocks"))
    return Segment(spark, dst)


def test_healthy_segment_audits_clean(spark, seg):
    assert fsck_segment(seg, deep=True).count() == 0


def test_detects_metadata_lies(spark, seg, tmp_path):
    # tamper one real block's first_doc AND max_tf
    def mutate(b):
        w = (F.col("term").isNotNull()) & (F.col("block_id") == 0)
        target = F.col("term") == "term000"
        return b.withColumn(
            "first_doc",
            F.when(w & target, F.col("first_doc") + 1).otherwise(F.col("first_doc")),
        ).withColumn(
            "max_tf",
            F.when(w & target, F.col("max_tf") + 7).otherwise(F.col("max_tf")),
        )

    bad = _corrupt_copy(spark, seg, tmp_path, mutate)
    found = fsck_segment(bad).toPandas()
    checks = set(found["check"])
    assert "first_doc_mismatch" in checks
    assert "max_tf_mismatch" in checks
    assert all("term000" in k for k in found["key"])


def test_detects_truncated_stream_and_bytes(spark, seg, tmp_path):
    # chop the last byte off one block's tfs payload: varint count AND the
    # stated bytes both disagree
    def mutate(b):
        w = (F.col("term") == "term001") & (F.col("block_id") == 0)
        return b.withColumn(
            "tfs",
            F.when(w, F.expr("substring(tfs, 1, length(tfs) - 1)")).otherwise(
                F.col("tfs")
            ),
        )

    bad = _corrupt_copy(spark, seg, tmp_path, mutate)
    checks = set(fsck_segment(bad).toPandas()["check"])
    assert "varint_count_tfs" in checks
    assert "bytes_mismatch" in checks


def test_detects_missing_block(spark, seg, tmp_path):
    # drop block 0 of a multi-block list -> block_ids_not_dense
    big = (
        seg.blocks.filter(F.col("term").isNotNull() & (F.col("block_id") >= 1))
        .groupBy("term", "salt")
        .count()
        .orderBy("term", "salt")
        .first()
    )
    assert big is not None, "fixture needs a multi-block posting list"

    def mutate(b):
        return b.filter(
            ~(
                (F.col("term") == big["term"])
                & (F.col("salt") == big["salt"])
                & (F.col("block_id") == 0)
            )
        )

    bad = _corrupt_copy(spark, seg, tmp_path, mutate)
    found = fsck_segment(bad).toPandas()
    assert "block_ids_not_dense" in set(found["check"])


def test_deep_catches_dictionary_drift(spark, seg, tmp_path):
    # deleting a whole posting list leaves the dictionary overcounting
    def mutate(b):
        return b.filter(
            ~(F.col("term").isNotNull() & (F.col("term") == "term002"))
        )

    bad = _corrupt_copy(spark, seg, tmp_path, mutate)
    found = fsck_segment(bad, deep=True).toPandas()
    drift = found[found["check"] == "dictionary_mismatch"]
    assert "term002" in set(drift["key"])
