"""Unified query parser: grammar pins (pure function) and end-to-end
semantics equivalences against the standalone operators that own each
piece (boolean / prefix / phrase)."""

import dataclasses

import numpy as np
import pandas as pd
import pytest

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators.queryparse import (
    MUST,
    NOT,
    SHOULD,
    parse_query,
    parse_token,
    search_topk,
)
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


@pytest.mark.parametrize(
    "rewrite, texts",
    [
        ("prefix_topk", ["term00* headterm", "term01* term003 term00*"]),
        ("fuzzy_topk", ["term001~ headterm", "term012~2 term003"]),
        ("regex_topk", ["/term00./ headterm", "/term0[12]./ term003"]),
    ],
    ids=["prefix_topk", "fuzzy_topk", "regex_topk"],
)
def test_search_equals_prefix_path(spark, seg, rewrite, texts):
    """Each multi-term rewrite equals search_topk on all-SHOULD queries of
    its own kind mixed with plain tokens, score for score: one grammar, one
    expansion, one scan."""
    from ivfadc_spark.operators import wand

    qdf = _qdf(spark, list(enumerate(texts)))
    got = search_topk(qdf, seg, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()
    want = getattr(wand, rewrite)(qdf, seg, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()
    assert set(want["query_id"]) == {0, 1}
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["score"]) == list(want["score"])  # one scan kernel


def test_parse_token_signs_and_precedence():
    assert parse_token("+/sc.n/") == {"op": MUST, "kind": "regex", "p0": "sc.n", "p1": 0}
    assert parse_token("-quer*") == {"op": NOT, "kind": "prefix", "p0": "quer", "p1": 0}
    assert parse_token("+tabl~2,") == {"op": MUST, "kind": "fuzzy", "p0": "tabl", "p1": 2}
    assert parse_token("-spark") == {"op": NOT, "kind": "exact", "p0": "spark", "p1": 0}
    # regex > prefix > fuzzy > exact
    assert parse_token("/ab*~/")["kind"] == "regex"
    assert parse_token("ab*~") == {"op": SHOULD, "kind": "prefix", "p0": "ab", "p1": 0}
    assert parse_token("ab~*")["kind"] == "prefix"
    assert parse_token("a~b") == {"op": SHOULD, "kind": "exact", "p0": "ab", "p1": 0}
    # a bare sign is no clause; a marker with no stem keeps its kind, empty
    assert parse_token("+") is None and parse_token("-") is None
    assert parse_token("*") == {"op": SHOULD, "kind": "prefix", "p0": "", "p1": 0}
    assert parse_query("* ~ -") == []


def test_rewrites_follow_the_one_grammar(spark, seg):
    """A signed slash token is a regex in regex_topk; ``ab*~`` is a prefix
    token, so fuzzy_topk keeps it as plain text for the analyzer."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed, fuzzy_topk, regex_topk

    def rows(df):
        return df.orderBy("query_id", "rank").toPandas()[["query_id", "doc_id", "score"]]

    signed = rows(regex_topk(_qdf(spark, [(0, "+/term00./")]), seg, k=10, cfg=CFG))
    assert len(signed) > 0
    pd.testing.assert_frame_equal(
        signed, rows(regex_topk(_qdf(spark, [(0, "/term00./")]), seg, k=10, cfg=CFG))
    )
    got = rows(fuzzy_topk(_qdf(spark, [(0, "term00*~ headterm")]), seg, k=10, cfg=CFG))
    want = rows(bm25_topk_indexed(_qdf(spark, [(0, "term00 headterm")]), seg, k=10, cfg=CFG))
    assert len(want) > 0
    pd.testing.assert_frame_equal(got, want)


def test_phrase_must_filters_and_scores(spark, seg):
    """A MUST phrase keeps exactly phrase_topk's member docs; scoring
    accrues from the phrase's terms plus the other clauses."""
    from ivfadc_spark.operators.positions import phrase_topk

    qdf = _qdf(spark, [(0, '+"term000 headterm" term001')])
    got = search_topk(qdf, seg, k=1000, cfg=CFG).toPandas()
    members = set(
        phrase_topk(_qdf(spark, [(0, "term000 headterm")]), seg, k=1 << 30, cfg=CFG)
        .toPandas()["doc_id"]
    )
    assert members and set(got["doc_id"]) == members  # every member scores >0: it
    # contains both phrase terms, which are scoring terms

    # NOT phrase: members excluded from the plain term query
    got2 = search_topk(
        _qdf(spark, [(0, 'headterm -"term000 headterm"')]), seg, k=1000, cfg=CFG
    ).toPandas()
    assert not set(got2["doc_id"]) & members
    # and docs containing headterm WITHOUT the phrase remain
    assert len(got2) > 0
