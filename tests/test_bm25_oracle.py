"""Rank-identity of the DataFrame BM25 path vs a brute-force numpy oracle
and vs DuckDB SQL — the engine's golden test (SURVEY.md §5)."""

import math
import os
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from ivfadc_spark.functions.tokenize import TOKEN_PATTERN
from ivfadc_spark.operators import stats as S
from ivfadc_spark.operators.query import bm25_topk

QUERIES = [
    (0, "table scan merge"),
    (1, "spark query"),
    (2, "the fast key"),
    (3, "zzz-out-of-vocab"),
    (4, "join window stream row"),
    (5, "customer"),
]


def numpy_bm25_oracle(texts: dict[int, str], queries, k=10, k1=1.2, b=0.75):
    """Brute-force BM25 over every doc — the golden reference."""
    import re

    pat = re.compile(TOKEN_PATTERN)
    toks = {d: [t for t in pat.split(s.lower()) if t] for d, s in texts.items()}
    n = len(toks)
    dl = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dl.values()) / n
    df = Counter()
    tfs = {d: Counter(ts) for d, ts in toks.items()}
    for d, c in tfs.items():
        for t in c:
            df[t] += 1
    out = []
    for qid, qtext in queries:
        qterms = sorted({t for t in pat.split(qtext.lower()) if t})
        scored = []
        for d in toks:
            s = 0.0
            for t in qterms:
                tf = tfs[d].get(t, 0)
                if not tf:
                    continue
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[d] / avgdl))
            if s > 0:
                scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for r, (d, s) in enumerate(scored[:k], 1):
            out.append((qid, r, d, s))
    return pd.DataFrame(out, columns=["query_id", "rank", "doc_id", "score"])


@pytest.fixture(scope="module")
def docs_df(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )


def _engine_topk(spark, docs_df, k=10):
    tf = S.term_frequencies(docs_df)
    dl = S.doc_lengths(docs_df)
    cs = S.corpus_stats(dl)
    d = S.dictionary(tf, cs["n_docs"])
    q = spark.createDataFrame(
        pd.DataFrame(QUERIES, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    return (
        bm25_topk(q, tf, d, dl, cs["avgdl"], k=k)
        .orderBy("query_id", "rank")
        .toPandas()
    )


def test_rank_identical_vs_numpy_oracle(spark, docs_df):
    got = _engine_topk(spark, docs_df)
    texts = {r.doc_id: r.text for r in docs_df.collect()}
    want = numpy_bm25_oracle(texts, QUERIES)
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["rank"]) == list(want["rank"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_oov_query_returns_nothing(spark, docs_df):
    got = _engine_topk(spark, docs_df)
    assert (got["query_id"] == 3).sum() == 0


BOOL_QUERIES = [
    (0, "table scan -merge"),
    (1, "+join window"),
    (2, "+zzzoov scan"),
    (3, "group -zzzoov"),
    (4, "+table -table"),
    (5, "-table"),
]


def _boolean_oracle(texts, queries, k=10, k1=1.2, b=0.75):
    """Pure-Python replay of Lucene BooleanQuery over BM25: strongest op
    per term (NOT > MUST > SHOULD), all musts present, no nots present,
    score summed over matched positives."""
    import re

    pat = re.compile(TOKEN_PATTERN)
    toks = {d: [t for t in pat.split(s.lower()) if t] for d, s in texts.items()}
    n = len(toks)
    dl = {d: len(ts) for d, ts in toks.items()}
    avgdl = sum(dl.values()) / n
    tfs = {d: Counter(ts) for d, ts in toks.items()}
    df = Counter()
    for c in tfs.values():
        for t in c:
            df[t] += 1
    out = []
    for qid, qtext in queries:
        ops: dict[str, int] = {}
        for tok in qtext.lower().split():
            r = 0 if tok.startswith("-") else 1 if tok.startswith("+") else 2
            stem = re.sub(r"[^a-z0-9]", "", tok)
            if stem:
                ops[stem] = min(ops.get(stem, 9), r)
        musts = {t for t, r in ops.items() if r == 1}
        nots = {t for t, r in ops.items() if r == 0}
        poss = {t for t, r in ops.items() if r >= 1}
        scored = []
        for d in toks:
            if any(tfs[d].get(t) for t in nots):
                continue
            if not all(tfs[d].get(t) for t in musts):
                continue
            s = 0.0
            for t in poss:
                tf = tfs[d].get(t, 0)
                if not tf:
                    continue
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl[d] / avgdl))
            if s > 0:
                scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for r, (d, s) in enumerate(scored[:k], 1):
            out.append((qid, r, d, s))
    return pd.DataFrame(out, columns=["query_id", "rank", "doc_id", "score"])


def test_boolean_query_semantics(spark, docs_df):
    from ivfadc_spark.operators import stats as S2
    from ivfadc_spark.operators.query import bm25_topk_boolean

    tf = S2.term_frequencies(docs_df)
    dl = S2.doc_lengths(docs_df)
    cs = S2.corpus_stats(dl)
    d = S2.dictionary(tf, cs["n_docs"])
    q = spark.createDataFrame(
        pd.DataFrame(BOOL_QUERIES, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    got = (
        bm25_topk_boolean(q, tf, d, dl, cs["avgdl"], k=10)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    # OOV must, contradiction, and all-negative queries return nothing
    for dead_q in (2, 4, 5):
        assert (got["query_id"] == dead_q).sum() == 0
    texts = {r.doc_id: r.text for r in docs_df.collect()}
    want = _boolean_oracle(texts, BOOL_QUERIES)
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def _inputs(docs_df):
    tf = S.term_frequencies(docs_df)
    dl = S.doc_lengths(docs_df)
    cs = S.corpus_stats(dl)
    d = S.dictionary(tf, cs["n_docs"])
    return tf, dl, cs, d


def test_msm_limits_bracket_or_and(spark, docs_df):
    """minimum_should_match=1 IS the base OR path; m=|terms| IS the
    conjunctive path — the knob's two endpoints, rank-identical."""
    from ivfadc_spark.operators.query import (
        bm25_topk_conjunctive,
        bm25_topk_msm,
    )

    tf, dl, cs, d = _inputs(docs_df)
    q = spark.createDataFrame(
        pd.DataFrame([(0, "table scan merge")], columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    base = _engine_topk(spark, docs_df)
    base = base[base["query_id"] == 0].reset_index(drop=True)
    m1 = (
        bm25_topk_msm(q, tf, d, dl, cs["avgdl"], min_should_match=1, k=10)
        .orderBy("rank").toPandas()
    )
    assert list(m1["doc_id"]) == list(base["doc_id"])
    m3 = (
        bm25_topk_msm(q, tf, d, dl, cs["avgdl"], min_should_match=3, k=10)
        .orderBy("rank").toPandas()
    )
    conj = (
        bm25_topk_conjunctive(q, tf, d, dl, cs["avgdl"], k=10)
        .orderBy("rank").toPandas()
    )
    assert list(m3["doc_id"]) == list(conj["doc_id"])
    np.testing.assert_allclose(m3["score"], conj["score"], rtol=1e-12)
    # m beyond the term count is unsatisfiable
    m4 = bm25_topk_msm(q, tf, d, dl, cs["avgdl"], min_should_match=4, k=10)
    assert m4.count() == 0


def test_term_vectors_match_brute_counts(spark, docs_df):
    from ivfadc_spark.operators.query import term_vectors

    tf, dl, cs, d = _inputs(docs_df)
    req = spark.createDataFrame([(0,), (7,)], "doc_id long")
    got = term_vectors(req, docs_df, d).toPandas()
    assert set(got["doc_id"]) <= {0, 7}

    import re
    pat = re.compile(TOKEN_PATTERN)
    texts = {r.doc_id: r.text for r in docs_df.filter("doc_id in (0, 7)").collect()}
    for did in (0, 7):
        want = Counter(t for t in pat.split(texts[did].lower()) if t)
        sub = got[got["doc_id"] == did]
        assert dict(zip(sub["term"], sub["tf"])) == dict(want)
    # df column is the corpus df, not the request-set df
    dfs = {r.term: r.df for r in d.collect()}
    assert all(int(r.df) == int(dfs[r.term]) for r in got.itertuples())
