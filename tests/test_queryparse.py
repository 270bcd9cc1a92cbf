"""Unified query parser: grammar pins (pure function) and end-to-end
semantics equivalences against the standalone operators that own each
piece (boolean / prefix / phrase)."""

import dataclasses

import numpy as np
import pandas as pd
import pytest

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators.queryparse import MUST, NOT, SHOULD, parse_query, search_topk
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.sources.transcripts import synth_transcripts

CFG = EngineConfig(block_size=16, with_positions=1)


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("qp"))
    tx = synth_transcripts(spark, n_conversations=60)
    return build_index(spark, tx, out, cfg=CFG)


def _qdf(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )


def test_parse_query_grammar():
    got = parse_query('+Spark -shuffle quer* tabl~1 /sc.n/ "Sort Merge" -"broadcast join" x~2,')
    assert got == [
        {"op": SHOULD, "kind": "phrase", "p0": "sort merge", "p1": 0},
        {"op": NOT, "kind": "phrase", "p0": "broadcast join", "p1": 0},
        {"op": MUST, "kind": "exact", "p0": "spark", "p1": 0},
        {"op": NOT, "kind": "exact", "p0": "shuffle", "p1": 0},
        {"op": SHOULD, "kind": "prefix", "p0": "quer", "p1": 0},
        {"op": SHOULD, "kind": "fuzzy", "p0": "tabl", "p1": 1},
        {"op": SHOULD, "kind": "regex", "p0": "sc.n", "p1": 0},
        {"op": SHOULD, "kind": "fuzzy", "p0": "x", "p1": 2},
    ]
    # one-word "phrase" degrades to an exact term; empties are dropped
    assert parse_query('"alpha" + - ""') == [
        {"op": SHOULD, "kind": "exact", "p0": "alpha", "p1": 0}
    ]
    # fuzzy distance caps at 2; ~ without digit defaults to 1
    assert parse_query("a~9")[0]["p1"] == 2
    assert parse_query("a~")[0]["p1"] == 1


def test_search_equals_boolean_path(spark, seg):
    """Pure +/-/exact queries through the parser == bm25_topk_boolean over
    the decoded segment postings."""
    from ivfadc_spark.operators.postings import decode_blocks
    from ivfadc_spark.operators.query import bm25_topk_boolean

    queries = [
        (0, "term000 term003 -term017"),
        (1, "+headterm term001"),
        (2, "+zzznope term000"),
        (3, "-term000"),
    ]
    qdf = _qdf(spark, queries)
    got = search_topk(qdf, seg, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()

    tf = decode_blocks(seg.blocks).select("term", "doc_id", "tf")
    want = (
        bm25_topk_boolean(
            qdf, tf, seg.dictionary, seg.doc_lengths, seg.meta["avgdl"], k=10, cfg=CFG
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_search_equals_prefix_path(spark, seg):
    from ivfadc_spark.operators.wand import prefix_topk

    qdf = _qdf(spark, [(0, "term00* headterm")])
    got = search_topk(qdf, seg, k=10, cfg=CFG).orderBy("rank").toPandas()
    want = prefix_topk(qdf, seg, k=10, cfg=CFG).orderBy("rank").toPandas()
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_phrase_must_filters_and_scores(spark, seg):
    """A MUST phrase keeps exactly phrase_topk's member docs; scoring
    accrues from the phrase's terms plus the other clauses."""
    from ivfadc_spark.operators.positions import phrase_topk

    qdf = _qdf(spark, [(0, '+"headterm term000" term001')])
    got = search_topk(qdf, seg, k=1000, cfg=CFG).toPandas()
    members = set(
        phrase_topk(_qdf(spark, [(0, "headterm term000")]), seg, k=1 << 30, cfg=CFG)
        .toPandas()["doc_id"]
    )
    assert set(got["doc_id"]) == members  # every member scores >0: it
    # contains both phrase terms, which are scoring terms

    # NOT phrase: members excluded from the plain term query
    got2 = search_topk(
        _qdf(spark, [(0, 'headterm -"headterm term000"')]), seg, k=1000, cfg=CFG
    ).toPandas()
    assert not set(got2["doc_id"]) & members
    # and docs containing headterm WITHOUT the phrase remain
    assert len(got2) > 0
