"""The spec oracle against hand-computed BM25, and the checker against
deliberately perturbed results.

    python3 -m pytest perfbench/tests -q
"""

import math

import pandas as pd
import pytest

from perfbench.oracle import Oracle, check, verify


def corpus():
    # conv order, not row order, defines doc ids: "a" sorts before "b"
    return pd.DataFrame({
        "conv_id": ["b", "b", "a", "a", "c"],
        "turn_idx": [0, 1, 1, 0, 0],
        "text": ["red fish", "Blue fish, blue!", "red red red", "", "fish fish green"],
    })


def bm25(tf, dl, df, n, avgdl, k1=1.2, b=0.75):
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))


def test_oracle_matches_hand_computed_bm25():
    o = Oracle(corpus())
    # doc ids by (conv_id, turn_idx): a/0 '' -> 0, a/1 'red red red' -> 1,
    # b/0 'red fish' -> 2, b/1 'blue fish blue' -> 3, c/0 'fish fish green' -> 4
    assert o.n_docs == 4  # the empty turn has no tokens
    avgdl = (3 + 2 + 3 + 3) / 4
    assert o.avgdl == pytest.approx(avgdl)
    top = o.score(pd.DataFrame({"query_id": [0], "text": ["RED fish"]}))
    want = {
        1: bm25(3, 3, 2, 4, avgdl),
        2: bm25(1, 2, 2, 4, avgdl) + bm25(1, 2, 3, 4, avgdl),
        3: bm25(1, 3, 3, 4, avgdl),
        4: bm25(2, 3, 3, 4, avgdl),
    }
    order = sorted(want, key=lambda d: (-want[d], d))
    assert list(top["doc_id"]) == order
    assert list(top["score"]) == pytest.approx([want[d] for d in order], rel=1e-12)
    o.close()


def engine_from_oracle(o, queries):
    top = o.score(queries)
    top = top.assign(rank=top.groupby("query_id").cumcount() + 1)
    return top[["query_id", "rank", "doc_id", "score"]].copy()


@pytest.fixture()
def setup():
    o = Oracle(corpus())
    q = pd.DataFrame({"query_id": [0, 1, 2], "text": ["red fish", "blue", "zebra"]})
    yield o, q, engine_from_oracle(o, q)
    o.close()


def test_exact_result_passes(setup):
    o, q, eng = setup
    v = verify(o, q, eng)
    assert v.ok and v.queries == 3 and v.near_tie_swaps == 0


@pytest.mark.parametrize("perturb", ["swap", "score", "drop", "foreign_doc", "rank"])
def test_oracle_flags_a_perturbed_result(setup, perturb):
    o, q, eng = setup
    bad = eng.copy()
    q0 = bad.index[bad["query_id"] == 0]
    if perturb == "swap":  # two docs with clearly different scores trade ranks
        bad.loc[q0[:2], "doc_id"] = bad.loc[q0[:2], "doc_id"].to_numpy()[::-1]
        bad.loc[q0[:2], "score"] = bad.loc[q0[:2], "score"].to_numpy()[::-1]
    elif perturb == "score":
        bad.loc[q0[0], "score"] *= 1 + 1e-6
    elif perturb == "drop":
        bad = bad.drop(q0[-1])
    elif perturb == "foreign_doc":  # doc 0 has no tokens, so it matches nothing
        bad.loc[q0[-1], "doc_id"] = 0
    elif perturb == "rank":
        bad.loc[q0[0], "rank"] = 5
    v = verify(o, q, bad)
    assert not v.ok and v.failed_queries == 1 and "query 0" in v.first_failure


def test_near_tie_swap_is_counted_not_failed():
    top = pd.DataFrame({"query_id": [0, 0, 0], "doc_id": [4, 7, 9],
                        "score": [2.0, 1.5, 1.5 * (1 - 3e-16)]})
    doc_scores = top[["query_id", "doc_id", "score"]]
    # the engine's sums put 9 ahead of 7: their spec scores differ by 3e-16
    eng = pd.DataFrame({"query_id": [0, 0, 0], "rank": [1, 2, 3], "doc_id": [4, 9, 7],
                        "score": [2.0, 1.5, 1.5 * (1 - 3e-16)]})
    v = check(eng, top, doc_scores, [0])
    assert v.ok and v.near_tie_swaps == 2
    # a gap of 1e-6 is no tie: the same swap fails
    top.loc[2, "score"] = doc_scores.loc[2, "score"] = 1.5 * (1 - 1e-6)
    eng.loc[1, "score"], eng.loc[2, "score"] = 1.5 * (1 - 1e-6), 1.5
    v = check(eng, top, doc_scores, [0])
    assert not v.ok
