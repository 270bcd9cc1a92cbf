"""Tombstone deletes, masked scans, attribute-scoped search, and LSM
compaction: exactness of every scoring kernel over the live doc set.

Delete semantics are the Lucene model: between delete and compaction the
corpus statistics (idf, avgdl, N) stay the segment's; deleted docs simply
never surface. Compaction rewrites the blocks and RECOMPUTES the stats, so
afterwards scoring matches a corpus that never contained the deleted docs.
"""

import pandas as pd
import pytest

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators.deletes import (
    attribute_mask,
    compact_segment,
    delete_docs,
    live_mask,
    tombstone_ids,
)
from ivfadc_spark.operators.postings import decode_blocks
from ivfadc_spark.operators.query import bm25_topk
from ivfadc_spark.operators.segments import Segment, SegmentSet, merge_segments
from ivfadc_spark.operators.wand import bm25_topk_batch, bm25_topk_indexed
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.sources.transcripts import synth_transcripts

from pyspark.sql import functions as F

QUERIES = [
    (0, "term000 term003 term017"),
    (1, "headterm"),
    (2, "term001 headterm term042 term120"),
    (3, "headterm term000"),
]

CFG = EngineConfig(block_size=16, doc_shards=8, with_positions=1)

# tiny corpora still build cfg.doc_shards shards (conftest.full_shards)
pytestmark = pytest.mark.usefixtures("full_shards")


def _queries_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(QUERIES, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("delseg"))
    tx = synth_transcripts(spark, n_conversations=60)
    seg = build_index(spark, tx, out, cfg=CFG)
    assert seg.meta["n_shards"] > 1
    return seg


def _brute(spark, seg, keep_pred=None, recompute_stats=False, k=10):
    """DataFrame-path BM25 over the segment's decoded postings, optionally
    dropping docs (keep_pred over doc_id) with or without rescoped stats."""
    tf = decode_blocks(seg.blocks).select("doc_id", "term", "tf")
    dl = seg.doc_lengths
    if keep_pred is not None:
        tf = tf.filter(keep_pred)
    if recompute_stats:
        if keep_pred is not None:
            dl = dl.filter(keep_pred)
        n_docs = dl.count()
        avgdl = dl.agg(F.avg("dl")).collect()[0][0]
        d = (
            tf.groupBy("term")
            .agg(F.count("*").alias("df"))
            .withColumn(
                "idf",
                F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
            )
        )
    else:
        d = seg.dictionary
        avgdl = seg.meta["avgdl"]
    res = bm25_topk(_queries_df(seg.spark), tf, d, dl, avgdl, k=k, cfg=CFG)
    return res.orderBy("query_id", "rank").toPandas()


def _run(df):
    return df.orderBy("query_id", "rank").toPandas()


def _assert_same(a, b):
    assert len(a) == len(b)
    assert (a["query_id"].to_numpy() == b["query_id"].to_numpy()).all()
    assert (a["doc_id"].to_numpy() == b["doc_id"].to_numpy()).all()
    assert abs(a["score"].to_numpy() - b["score"].to_numpy()).max() < 1e-9


def test_tombstones_filter_both_kernels(spark, seg):
    # delete every doc that appears in the unfiltered top-3 of any query —
    # guarantees the masked result actually changes
    base = _run(bm25_topk_indexed(_queries_df(spark), seg, k=10))
    dead = sorted(set(base[base["rank"] <= 3]["doc_id"].tolist()))
    assert dead
    n = delete_docs(seg, dead)
    assert n == len(dead)
    assert set(tombstone_ids(seg)) == set(dead)
    assert live_mask(seg) is not None and (~live_mask(seg)).sum() == len(dead)

    expect = _brute(spark, seg, keep_pred=~F.col("doc_id").isin(dead))
    got_idx = _run(bm25_topk_indexed(_queries_df(spark), seg, k=10))
    got_bat = _run(bm25_topk_batch(_queries_df(spark), seg, k=10))
    _assert_same(got_idx, expect)
    _assert_same(got_bat, expect)
    assert not set(got_idx["doc_id"]).intersection(dead)


def test_attribute_scoped_search(spark, seg):
    dm = seg.doc_map.toPandas()
    assert {"role", "tool"} <= set(dm.columns)
    mask = attribute_mask(seg, F.col("role") == "assistant")
    keep_ids = set(dm[dm["role"] == "assistant"]["doc_id"].tolist())
    dead = set(tombstone_ids(seg).tolist())  # prior test's tombstones apply too
    expect = _brute(
        spark,
        seg,
        keep_pred=F.col("doc_id").isin([int(x) for x in keep_ids - dead]),
    )
    got_idx = _run(bm25_topk_indexed(_queries_df(spark), seg, k=10, doc_mask=mask))
    got_bat = _run(bm25_topk_batch(_queries_df(spark), seg, k=10, doc_mask=mask))
    _assert_same(got_idx, expect)
    _assert_same(got_bat, expect)


def test_compaction_rescopes_stats_and_preserves_phrases(spark, seg, tmp_path):
    from ivfadc_spark.operators.positions import phrase_topk

    dead = set(tombstone_ids(seg).tolist())
    assert dead  # ordering: runs after the tombstone test
    phrases = spark.createDataFrame(
        pd.DataFrame([(0, "headterm term000"), (1, "term001 term002")],
                     columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    before = phrase_topk(phrases, seg, k=50, cfg=CFG).toPandas()

    out = str(tmp_path / "compacted")
    cseg = compact_segment(spark, seg, out)
    assert cseg.meta["n_docs"] == seg.meta["n_docs"] - len(
        [d for d in dead if d in set(seg.doc_lengths.toPandas()["doc_id"])]
    )
    assert cseg.doc_space == seg.doc_space  # ids NOT re-densified
    assert live_mask(cseg) is None  # tombstones gone

    expect = _brute(
        spark, seg, keep_pred=~F.col("doc_id").isin(list(dead)), recompute_stats=True
    )
    got_idx = _run(bm25_topk_indexed(_queries_df(spark), cseg, k=10))
    got_bat = _run(bm25_topk_batch(_queries_df(spark), cseg, k=10))
    _assert_same(got_idx, expect)
    _assert_same(got_bat, expect)

    # positional twins survive compaction: phrase results over the compacted
    # segment == pre-compaction results minus the deleted docs (n_occ is
    # stats-free, so surviving rows are identical up to re-ranking)
    after = phrase_topk(phrases, cseg, k=50, cfg=CFG).toPandas()
    b = before[~before["doc_id"].isin(dead)][["query_id", "doc_id", "n_occ"]]
    a = after[["query_id", "doc_id", "n_occ"]]
    bs = b.sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    as_ = a.sort_values(["query_id", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(bs, as_, check_dtype=False)

    # doc_map attributes survive compaction
    assert {"role", "tool"} <= set(cseg.doc_map.columns)
    assert not set(cseg.doc_map.toPandas()["doc_id"]).intersection(dead)


def test_facet_counts_matches_brute(spark, seg):
    """facet_counts ≡ pandas replay: distinct matching docs per query
    (OR semantics), tombstones excluded, counted per doc_map role; an
    OOV-only query contributes no rows."""
    from ivfadc_spark.operators.query import facet_counts

    dead = set(tombstone_ids(seg).tolist())
    assert dead  # ordering: after the tombstone test
    queries = QUERIES + [(9, "zzzznope qqqnope")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    got = facet_counts(qdf, seg, attr="role").toPandas()
    assert (got["query_id"] == 9).sum() == 0

    tf = decode_blocks(seg.blocks).select("doc_id", "term").toPandas()
    dm = seg.doc_map.toPandas()[["doc_id", "role"]]
    expect = {}
    for qid, text in queries:
        cand = set(tf[tf["term"].isin(text.split())]["doc_id"]) - dead
        for role, n in dm[dm["doc_id"].isin(cand)]["role"].value_counts().items():
            expect[(qid, role)] = int(n)
    got_map = {
        (int(r.query_id), r.role): int(r.n_docs) for r in got.itertuples()
    }
    assert got_map == expect


def test_merge_carries_tombstones(spark, tmp_path):
    """A doc deleted in a member stays deleted in the merged segment (until
    compact_segment): its id, shifted by the member's doc offset, is in the
    merged tombstones and no kernel returns it."""
    tx = synth_transcripts(spark, n_conversations=30)
    half = F.col("conv_id") < "conv-000015"
    a = build_index(spark, tx.filter(half), str(tmp_path / "a"), cfg=CFG)
    b = build_index(spark, tx.filter(~half), str(tmp_path / "b"), cfg=CFG)
    q = _queries_df(spark)
    victim = int(
        bm25_topk_indexed(q, b, k=1, cfg=CFG).filter(F.col("query_id") == 1).collect()[0]["doc_id"]
    )
    delete_docs(b, [victim])
    merged = merge_segments(spark, [a.path, b.path], str(tmp_path / "m"), cfg=CFG)
    dead = int(a.doc_space) + victim
    assert dead in set(tombstone_ids(merged).tolist())
    k = int(merged.doc_space)
    for kernel in (bm25_topk_indexed, bm25_topk_batch):
        got = kernel(q, merged, k=k, cfg=CFG).toPandas()
        assert len(got[got["query_id"] == 1]) > 0
        assert dead not in set(got["doc_id"]), kernel.__name__


@pytest.mark.parametrize("federated", [False, True], ids=["segment", "segment_set"])
def test_parsed_and_phrase_queries_skip_tombstones(spark, tmp_path, federated):
    """search_topk and phrase_topk never return a tombstoned doc, on one
    segment and on a two-member SegmentSet (each member's tombstones in its
    own id space, shifted by its doc offset): with k above the match count,
    each result after the deletes is the result before minus the dead ids."""
    from ivfadc_spark.operators.positions import phrase_topk
    from ivfadc_spark.operators.queryparse import search_topk

    tx = synth_transcripts(spark, n_conversations=30)
    if federated:
        half = F.col("conv_id") < "conv-000015"
        members = [
            build_index(spark, tx.filter(half), str(tmp_path / "a"), cfg=CFG),
            build_index(spark, tx.filter(~half), str(tmp_path / "b"), cfg=CFG),
        ]
        seg = SegmentSet(spark, [m.path for m in members])
    else:
        members = [build_index(spark, tx, str(tmp_path / "s"), cfg=CFG)]
        seg = members[0]

    def q(*texts):
        return spark.createDataFrame(
            pd.DataFrame({"query_id": range(len(texts)), "text": list(texts)}),
            schema="query_id long, text string",
        )

    calls = {
        "search_topk": lambda: search_topk(
            q('+"term000 headterm" term001', "term001 -term017"), seg, k=1 << 20, cfg=CFG
        ),
        "phrase_topk": lambda: phrase_topk(q("term000 headterm"), seg, k=1 << 20, cfg=CFG),
    }

    def run():
        return {
            name: {(r.query_id, r.doc_id) for r in fn().collect()} for name, fn in calls.items()
        }

    before = run()
    dead = set()
    for hits in before.values():
        dead |= set(sorted({d for _, d in hits})[::2])
    offset = 0
    for m in members:
        local = [d - offset for d in sorted(dead) if offset <= d < offset + m.doc_space]
        if local:
            delete_docs(m, local)
        offset += m.doc_space
    want = {name: {(qid, d) for qid, d in hits if d not in dead} for name, hits in before.items()}
    assert all(want.values())
    assert run() == want
