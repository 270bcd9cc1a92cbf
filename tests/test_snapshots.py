"""LSM snapshot log + time-travel reads (streaming/ingest.py: snapshots /
open_as_of): epoch and timestamp cutoffs, snapshot-rescoped statistics,
and the no-snapshot error."""

import os

import pytest
from pyspark.sql import functions as F

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.sources.transcripts import synth_transcripts
from ivfadc_spark.streaming.ingest import open_as_of, snapshots

CFG = EngineConfig(block_size=16, doc_shards=4)

# tiny corpora still build cfg.doc_shards shards (conftest.full_shards)
pytestmark = pytest.mark.usefixtures("full_shards")


@pytest.fixture(scope="module")
def lsm_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("lsm"))
    tx = synth_transcripts(spark, n_conversations=24).cache()
    # three append-only deltas of 8 conversations each
    for e in range(3):
        delta = tx.filter(
            F.col("conv_id").substr(-6, 6).cast("int").between(e * 8, e * 8 + 7)
        )
        seg = build_index(spark, delta, os.path.join(base, f"seg_{e:06d}"), cfg=CFG)
        assert seg.meta["n_shards"] > 1
    tx.unpersist()
    return base


def test_snapshot_log_orders_epochs(lsm_dir):
    snaps = snapshots(lsm_dir)
    assert [s["epoch"] for s in snaps] == [0, 1, 2]
    # commit stamps are non-decreasing in epoch order
    ts = [s["created_at"] for s in snaps]
    assert ts == sorted(ts) and ts[0] > 0


def test_as_of_epoch_rescopes_stats(spark, lsm_dir):
    full = open_as_of(spark, lsm_dir)
    upto1 = open_as_of(spark, lsm_dir, as_of_epoch=1)
    only0 = open_as_of(spark, lsm_dir, as_of_epoch=0)
    n_full, n_1, n_0 = (s.meta["n_docs"] for s in (full, upto1, only0))
    assert n_0 < n_1 < n_full
    # snapshot n_docs equals the sum of its members' — nothing leaks in
    assert n_1 == sum(m.meta["n_docs"] for m in upto1.segments)
    assert len(upto1.segments) == 2 and len(only0.segments) == 1


def test_as_of_ts_cutoff(spark, lsm_dir):
    snaps = snapshots(lsm_dir)
    ss = open_as_of(spark, lsm_dir, as_of_ts=snaps[1]["created_at"])
    # at-or-before: epoch 1's own stamp includes it
    assert len(ss.segments) >= 2
    assert all(s["created_at"] <= snaps[1]["created_at"] for s in snaps[:2])


def test_as_of_before_first_raises(spark, lsm_dir):
    with pytest.raises(ValueError, match="no segment"):
        open_as_of(spark, lsm_dir, as_of_epoch=-1)
