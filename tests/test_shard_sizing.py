"""Doc-shard count and blocks-write width sized from the build's rows.

A build gets ``min(cfg.doc_shards, ceil(rows / SHARD_ROWS))`` doc shards:
the id-assign head counts its rows at the cap and merges adjacent buckets
at their bounds, so sizing costs no job. The term-bucket write then runs
``write_width(n_shards)`` tasks, each owning a contiguous bucket range.
These tests pin the rule on synthetic counts (no Spark), and on real builds:
a build under SHARD_ROWS rows writes one shard that answers every kernel
exactly as a multi-shard build does, writes one file per bucket from fewer
tasks, and resumes to the same layout.
"""

import json
import os
import re

import pandas as pd
import pytest

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators.postings import is_sentinel
from ivfadc_spark.plans import build_index as B
from ivfadc_spark.sources.transcripts import merge_cuts, shard_count, synth_transcripts

CFG = EngineConfig(block_size=16)

QUERIES = [
    (0, "term000 term003 term017"),
    (1, "headterm"),
    (2, "term001 headterm term042 term120"),
    (3, "no-such-term"),
    (4, "headterm term000"),
]


def _merged(counts, n):
    edges = [0, *merge_cuts(counts, n), len(counts)]
    return [sum(counts[a:b]) for a, b in zip(edges, edges[1:])]


def test_shard_count_rule():
    assert shard_count(0, 32, 8192) == 1
    assert shard_count(1, 32, 8192) == 1
    assert shard_count(8192, 32, 8192) == 1
    assert shard_count(8193, 32, 8192) == 2
    assert shard_count(1246, 32, 8192) == 1  # a 5% ingest delta
    assert shard_count(20_000, 32, 8192) == 3
    # the cap: sf0.1 (258,483 turns) and anything larger keep the full layout
    assert shard_count(8192 * 32, 32, 8192) == 32
    assert shard_count(258_483, 32, 8192) == 32
    assert shard_count(10**12, 32, 8192) == 32
    assert shard_count(10**6, 1, 8192) == 1


def test_write_width_rule():
    assert B.write_width(32, 64) == 65  # full layout: one task per bucket
    assert B.write_width(1, 64) == 3
    assert B.write_width(3, 64) == 7
    assert B.write_width(32, 4) == 5  # never more tasks than buckets
    assert all(B.write_width(n, 64) < 65 for n in range(1, 32))


@pytest.mark.parametrize(
    "counts, n",
    [
        ([5, 9, 0, 4, 7, 3, 8, 6], 3),
        ([5, 9, 0, 4, 7, 3, 8, 6], 1),
        ([5, 9, 0, 4, 7, 3, 8, 6], 8),
        ([0, 0, 100, 0, 0, 0], 4),  # all rows in one bucket: empty groups
        ([0] * 32, 5),
        ([40] * 32, 32),
        ([37] * 32 + [1], 7),
    ],
)
def test_merge_cuts_partition_the_buckets(counts, n):
    cuts = merge_cuts(counts, n)
    assert len(cuts) == n - 1
    assert cuts == sorted(set(cuts))
    assert all(1 <= k < len(counts) for k in cuts)
    got = _merged(counts, n)
    assert len(got) == n and sum(got) == sum(counts)


def test_merge_cuts_balance():
    # equal buckets merge into equal groups
    assert _merged([10] * 32, 4) == [80] * 4
    assert _merged([10] * 32, 32) == [10] * 32
    # each cut lands on the prefix sum nearest its share of the rows
    assert _merged([1, 1, 1, 1, 96], 2) == [4, 96]
    assert _merged([30, 30, 30, 30], 3) == [30, 60, 30]


def test_merge_cuts_refuse_impossible():
    with pytest.raises(ValueError):
        merge_cuts([1, 2], 3)
    with pytest.raises(ValueError):
        merge_cuts([1, 2], 0)


@pytest.fixture(scope="module")
def tx(spark):
    return synth_transcripts(spark, n_conversations=80)


@pytest.fixture(scope="module")
def builds(spark, tx, tmp_path_factory):
    """The same 80-conversation input built at its sized layout (under
    SHARD_ROWS rows: one shard) and at the full cfg.doc_shards layout."""
    out = tmp_path_factory.mktemp("sized")
    one = B.build_index(spark, tx, str(out / "one"), cfg=CFG)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "SHARD_ROWS", 1)
        full = B.build_index(spark, tx, str(out / "full"), cfg=CFG)
    return one, full


def _manifest(seg):
    with open(os.path.join(os.path.dirname(seg.path), "_manifest.json")) as f:
        return json.load(f)["stages"]


def _queries(spark):
    return spark.createDataFrame(
        pd.DataFrame(QUERIES, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )


def test_small_build_is_one_shard(spark, tx, builds):
    one, full = builds
    rows = tx.count()
    assert rows < B.SHARD_ROWS
    assert one.meta["n_shards"] == 1
    assert full.meta["n_shards"] == CFG.doc_shards
    st = _manifest(one)
    assert st["00_doc_map"]["n_shards"] == st["01_blocks"]["n_shards"] == 1
    assert st["01_blocks"]["write_tasks"] == B.write_width(1, CFG.term_buckets)
    assert _manifest(full)["01_blocks"]["write_tasks"] == CFG.term_buckets + 1
    # stage 01 counts its sentinel rows (one per encode chunk), the width
    # stage 02 splits its doc_lens decode over
    for seg in builds:
        n = seg.raw_blocks.filter(is_sentinel()).count()
        assert n >= 1
        assert _manifest(seg)["01_blocks"]["n_sentinel_rows"] == n
    # ids are the global (conv_id, turn_idx) rank
    dm = one.doc_map.select("doc_id", "conv_id", "turn_idx").toPandas()
    dm = dm.sort_values("doc_id").reset_index(drop=True)
    want = tx.select("conv_id", "turn_idx").toPandas()
    want = want.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(dm["doc_id"]) == list(range(rows))
    assert list(dm["conv_id"]) == list(want["conv_id"])
    assert list(dm["turn_idx"]) == list(want["turn_idx"])


@pytest.mark.parametrize("kernel", ["bm25_topk_indexed", "bm25_topk_batch"])
def test_one_shard_rank_identical_to_multi_shard(spark, builds, kernel):
    import numpy as np

    from ivfadc_spark.operators import wand

    one, full = builds
    fn = getattr(wand, kernel)

    def run(seg):
        return fn(_queries(spark), seg, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()

    got, want = run(one), run(full)
    assert len(want) > 0
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["rank"]) == list(want["rank"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_small_build_writes_one_file_per_bucket_from_fewer_tasks(builds):
    """Each bucket directory holds exactly one file, and the files' task
    numbers (``part-<task>-...``) show fewer than term_buckets+1 write
    tasks, each owning a contiguous bucket range."""
    one, _ = builds
    root = os.path.join(one.path, "blocks")
    task_of = {}
    for d in sorted(os.listdir(root)):
        if not d.startswith("term_bucket="):
            continue
        files = [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
        task_of[int(d.split("=", 1)[1])] = int(re.match(r"part-(\d+)-", files[0]).group(1))
    assert len(task_of) > CFG.term_buckets // 2  # most buckets are non-empty
    width = B.write_width(1, CFG.term_buckets)
    assert width < CFG.term_buckets + 1
    assert set(task_of.values()) <= set(range(width))
    by_bucket = [task_of[b] for b in sorted(task_of)]
    assert by_bucket == sorted(by_bucket)  # contiguous bucket ranges


def test_resume_after_stage00_rederives_the_layout(spark, tx, tmp_path):
    """A resume that finds only stage 00 complete re-derives the id
    assignment, and with it the same sized shard count and write width.
    SHARD_ROWS is lowered so the layout is a merge of the cap's buckets
    (neither one shard nor the cap)."""
    rows = tx.count()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(B, "SHARD_ROWS", 100)
        want_n = shard_count(rows, CFG.doc_shards, 100)
        assert 1 < want_n < CFG.doc_shards
        out = str(tmp_path / "r")
        seg = B.build_index(spark, tx, out, cfg=CFG)
        assert seg.meta["n_shards"] == want_n
        first = _manifest(seg)
        man_path = os.path.join(out, "_manifest.json")
        with open(man_path) as f:
            man = json.load(f)
        for name in ("01_blocks", "02_dict"):
            del man["stages"][name]
        with open(man_path, "w") as f:
            json.dump(man, f)
        seg2 = B.build_index(spark, tx, out, cfg=CFG, resume=True)
    again = _manifest(seg2)
    assert again["00_doc_map"] == first["00_doc_map"]  # stage 00 not rerun
    assert seg2.meta["n_shards"] == want_n
    assert again["01_blocks"]["n_shards"] == first["01_blocks"]["n_shards"] == want_n
    assert again["01_blocks"]["write_tasks"] == first["01_blocks"]["write_tasks"]
    assert seg2.meta["n_docs"] == seg.meta["n_docs"]
