"""Compressed segment path: codec round-trip through Spark, WAND
rank-identity vs the pure-DataFrame path, doc-shard salting, segment merge
equivalence (U1), and checkpoint resume."""

import os

import pandas as pd
import pytest

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators import stats as S
from ivfadc_spark.operators.postings import decode_blocks
from ivfadc_spark.operators.query import bm25_topk
from ivfadc_spark.operators.segments import merge_segments
from ivfadc_spark.operators.wand import bm25_topk_indexed
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.sources.transcripts import plan_doc_ids, synth_transcripts

QUERIES = [
    (0, "term000 term003 term017"),
    (1, "headterm"),
    (2, "term001 headterm term042 term120"),
    (3, "no-such-term"),
    (4, "term199"),
    (5, "headterm term000"),  # head term + head term: stress pruning
]

# tiny blocks so multi-block posting lists occur on the fixture
CFG = EngineConfig(block_size=16)

# tiny corpora still build cfg.doc_shards shards (conftest.full_shards)
pytestmark = pytest.mark.usefixtures("full_shards")


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    tx = synth_transcripts(spark, n_conversations=80)
    seg = build_index(spark, tx, out, cfg=CFG)
    assert seg.meta["n_shards"] > 1
    return tx, seg, out


def _queries_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(QUERIES, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )


def _df_path_topk(spark, seg, k=10):
    """Reference result from the pure-DataFrame path over decoded postings.
    dl comes from the segment's doc-length sidecar (format v3 posting
    blocks carry no per-posting dl stream)."""
    dec = decode_blocks(seg.blocks)
    tf = dec.select("doc_id", "term", "tf")
    dl = seg.doc_lengths
    return (
        bm25_topk(_queries_df(spark), tf, seg.dictionary, dl, seg.meta["avgdl"], k=k, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )


def test_block_roundtrip(spark, corpus):
    tx, seg, out = corpus
    docs = plan_doc_ids(tx, CFG.doc_shards)[0].select("doc_id", "text")
    tf = S.term_frequencies(docs).select("term", "doc_id", "tf")
    dec = decode_blocks(seg.blocks).select("term", "doc_id", "tf")
    a = tf.orderBy("term", "doc_id").toPandas()
    b = dec.orderBy("term", "doc_id").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_salting_applied_and_equivalent(spark, corpus):
    tx, seg, out = corpus
    # head term must be split across salts; singleton terms must not
    met = seg.metrics.toPandas().set_index("term")
    assert met.loc["headterm", "n_salts"] > 1
    assert (met[met["postings"] == 1]["n_salts"] == 1).all()
    # the doc-length sidecar equals the per-doc token counts (postings are
    # checked against term_frequencies by test_block_roundtrip)
    docs = plan_doc_ids(tx, CFG.doc_shards)[0].select("doc_id", "text")
    dl = S.doc_lengths(docs)
    side = seg.doc_lengths.orderBy("doc_id").toPandas()
    want_dl = dl.orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(side.reset_index(drop=True), want_dl.reset_index(drop=True))


def test_wand_rank_identical_to_dataframe_path(spark, corpus):
    tx, seg, out = corpus
    want = _df_path_topk(spark, seg)
    got = (
        bm25_topk_indexed(_queries_df(spark), seg, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    import numpy as np

    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_batch_path_rank_identical(spark, corpus):
    """Doc-sharded batch path ≡ term-partitioned path ≡ DataFrame path."""
    from ivfadc_spark.operators.wand import bm25_topk_batch

    tx, seg, out = corpus
    want = _df_path_topk(spark, seg)
    got = (
        bm25_topk_batch(_queries_df(spark), seg, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    import numpy as np

    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_merge_equals_single_build(spark, corpus, tmp_path):
    """Index built in two halves then merged ≡ single build (FIXTURES §5 U1)."""
    tx, seg, out = corpus
    half_a = tx.filter("conv_id < 'conv-000040'")
    half_b = tx.filter("conv_id >= 'conv-000040'")
    seg_a = build_index(spark, half_a, str(tmp_path / "a"), cfg=CFG)
    seg_b = build_index(spark, half_b, str(tmp_path / "b"), cfg=CFG)
    merged = merge_segments(spark, [seg_a.path, seg_b.path], str(tmp_path / "m"), cfg=CFG)
    assert merged.meta["n_docs"] == seg.meta["n_docs"]
    assert abs(merged.meta["avgdl"] - seg.meta["avgdl"]) < 1e-9
    # conv_id ordering == doc_id ordering, and half_a convs sort first, so
    # offset-remapped merged docIDs coincide with the single-build docIDs.
    a = decode_blocks(seg.blocks).orderBy("term", "doc_id").toPandas()
    b = decode_blocks(merged.blocks).orderBy("term", "doc_id").toPandas()
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))
    # and the merged segment answers queries identically
    want = _df_path_topk(spark, seg)
    got = (
        bm25_topk_indexed(_queries_df(spark), merged, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["doc_id"]) == list(want["doc_id"])


def test_resume_skips_completed_stages(spark, corpus):
    tx, seg, out = corpus
    import json
    import time

    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert all(man["stages"][s]["complete"] for s in man["stages"])
    t0 = time.time()
    seg2 = build_index(spark, tx, out, cfg=CFG, resume=True)
    assert time.time() - t0 < 5.0  # all stages skipped: no Spark jobs
    assert seg2.meta["n_docs"] == seg.meta["n_docs"]


def test_resume_refuses_df_salted_checkpoint(spark, corpus, tmp_path):
    """A checkpoint whose stage 01 wrote the removed df-salted layout
    (n_shards 0) cannot be finished into a v3 segment: resume must refuse
    before running any stage."""
    import json

    tx, seg, out = corpus
    man = json.load(open(os.path.join(out, "_manifest.json")))
    man["stages"]["01_blocks"]["n_shards"] = 0
    del man["stages"]["02_dict"]
    (tmp_path / "_manifest.json").write_text(json.dumps(man))
    with pytest.raises(ValueError, match="rebuild"):
        build_index(spark, tx, str(tmp_path), cfg=CFG, resume=True)


def test_config_from_json_moves_removed_fields_to_extra():
    """A meta.json config recorded while EngineConfig still had
    token_pattern and shuffle_partitions loads; both keys land in extra
    and the config round-trips."""
    import json

    from ivfadc_spark.config import DEFAULT

    old = {**json.loads(DEFAULT.to_json()), "token_pattern": "[^a-z0-9]+", "shuffle_partitions": 32}
    cfg = EngineConfig.from_json(json.dumps(old))
    assert cfg.extra == {"token_pattern": "[^a-z0-9]+", "shuffle_partitions": 32}
    assert cfg == EngineConfig(extra=cfg.extra)
    assert EngineConfig.from_json(cfg.to_json()) == cfg


def test_doc_map_and_text_invariant(spark, corpus):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the input_hint invariant."""
    tx, seg, out = corpus
    dm = seg.doc_map.orderBy("doc_id").toPandas()
    src = tx.orderBy("conv_id", "turn_idx").toPandas()
    assert list(dm["conv_id"]) == list(src["conv_id"])
    assert list(dm["turn_idx"]) == list(src["turn_idx"])
    # doc ids dense 0..N-1
    assert list(dm["doc_id"]) == list(range(len(dm)))
    # re-deriving ids is deterministic: same (doc_id -> text) mapping as the
    # original build, at a partition count other than the build's (the
    # checkpoint holds no text; resume relies on this)
    docs = plan_doc_ids(tx, 8)[0].select("doc_id", "text").orderBy("doc_id").toPandas()
    assert list(docs["text"]) == list(src["text"])


def test_batch_path_over_merged_and_federated(spark, corpus, tmp_path):
    """The doc-sharded batch kernel over (a) a physically MERGED segment and
    (b) a query-time SegmentSet must both equal the single-build answer.
    Exercises the per-source salt rebase: without disjoint salt ranges a
    (term, salt) group would interleave two segments' non-monotone doc
    ranges and break the kernel's doc-sorted binary-search invariant."""
    from ivfadc_spark.operators.segments import SegmentSet
    from ivfadc_spark.operators.wand import bm25_topk_batch

    tx, seg, out = corpus
    half_a = tx.filter("conv_id < 'conv-000040'")
    half_b = tx.filter("conv_id >= 'conv-000040'")
    seg_a = build_index(spark, half_a, str(tmp_path / "fa"), cfg=CFG)
    seg_b = build_index(spark, half_b, str(tmp_path / "fb"), cfg=CFG)
    want = _df_path_topk(spark, seg)

    merged = merge_segments(spark, [seg_a.path, seg_b.path], str(tmp_path / "fm"), cfg=CFG)
    got_m = (
        bm25_topk_batch(_queries_df(spark), merged, k=10, cfg=CFG)
        .orderBy("query_id", "rank").toPandas()
    )
    assert list(got_m["doc_id"]) == list(want["doc_id"])

    ss = SegmentSet(spark, [seg_a.path, seg_b.path])
    assert min(seg_a.meta["n_shards"], seg_b.meta["n_shards"]) > 1
    assert ss.meta["n_shards"] == (
        int(seg_a.meta["n_shards"]) + int(seg_b.meta["n_shards"])
    )
    got_f = (
        bm25_topk_batch(_queries_df(spark), ss, k=10, cfg=CFG)
        .orderBy("query_id", "rank").toPandas()
    )
    assert list(got_f["doc_id"]) == list(want["doc_id"])
    import numpy as np

    np.testing.assert_allclose(got_f["score"], want["score"], rtol=1e-12)


def test_prefix_topk_equals_expanded_exact(spark, corpus):
    """prefix_topk('term00*') ≡ bm25_topk_indexed over the manually
    expanded term set (every expansion scores with its own idf); an
    exact token overlapping a prefix expansion is deduped; a pure-OOV
    prefix matches nothing."""
    import numpy as np

    from ivfadc_spark.operators.wand import prefix_topk

    tx, seg, out = corpus
    vocab = [r["term"] for r in seg.dictionary.select("term").collect()]
    exp = sorted(t for t in vocab if t.startswith("term00"))
    assert len(exp) > 1  # the fixture has term000..term009+

    def qdf(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "text"]),
            schema="query_id long, text string",
        )

    got = (
        prefix_topk(qdf([(0, "term00*"), (1, "zzzqx*"), (2, "headterm head*")]), seg, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    # q1: OOV prefix → no rows
    assert (got["query_id"] == 1).sum() == 0

    exp2 = sorted({t for t in vocab if t.startswith("head")} | {"headterm"})
    want = (
        bm25_topk_indexed(
            qdf([(0, " ".join(exp)), (2, " ".join(exp2))]), seg, k=10, cfg=CFG
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_fuzzy_topk_equals_expanded_exact(spark, corpus):
    """fuzzy_topk('term001~') ≡ bm25_topk_indexed over the manually
    expanded term set (plain Levenshtein, every expansion scores with its
    own idf, the stem itself included at distance 0); ~2 widens the set;
    a far-from-vocabulary stem matches nothing."""
    import numpy as np

    from ivfadc_spark.operators.wand import fuzzy_topk

    tx, seg, out = corpus
    vocab = [r["term"] for r in seg.dictionary.select("term").collect()]

    def lev(a, b):
        if abs(len(a) - len(b)) > 2:
            return 3
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    exp1 = sorted(t for t in vocab if lev(t, "term001") <= 1)
    exp2 = sorted(t for t in vocab if lev(t, "headterm") <= 2)
    assert "term001" in exp1 and len(exp1) > 1  # self + neighbors
    assert len(exp2) >= 1

    def qdf(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "text"]),
            schema="query_id long, text string",
        )

    got = (
        fuzzy_topk(
            qdf([(0, "term001~"), (1, "wwwwwwwwwwww~"), (2, "headterm~2")]),
            seg, k=10, cfg=CFG,
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert (got["query_id"] == 1).sum() == 0  # nothing within distance 1
    want = (
        bm25_topk_indexed(
            qdf([(0, " ".join(exp1)), (2, " ".join(exp2))]), seg, k=10, cfg=CFG
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_mlt_topk_equals_manual_expansion(spark, corpus):
    """mlt_topk(seed) ≡ bm25_topk_indexed over the seed's manually-ranked
    top tf x idf terms, seed excluded; an absent seed id yields no rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from ivfadc_spark.operators.wand import mlt_topk

    tx, seg, out = corpus
    # source docs in doc_id order (plan_doc_ids is (conv_id, turn_idx))
    src = tx.orderBy("conv_id", "turn_idx").toPandas()
    src["doc_id"] = range(len(src))
    docs = spark.createDataFrame(src[["doc_id", "text"]])
    seed = 7

    got = (
        mlt_topk([seed, 10**9], seg, docs, k=10, max_terms=5, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert set(got["query_id"]) == {seed}  # absent seed contributes nothing
    assert seed not in set(got["doc_id"])  # self excluded

    # manual expansion: seed's terms ranked by tf * idf, ties term asc
    import re
    from collections import Counter

    toks = [t for t in re.split(r"[^a-z0-9]+", src["text"][seed].lower()) if t]
    idf = {r["term"]: r["idf"] for r in seg.dictionary.collect()}
    tfs = Counter(toks)
    ranked = sorted(
        ((t, c * idf[t]) for t, c in tfs.items() if t in idf),
        key=lambda x: (-x[1], x[0]),
    )[:5]
    qdf = spark.createDataFrame(
        pd.DataFrame([(seed, " ".join(t for t, _ in ranked))],
                     columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    want = (
        bm25_topk_indexed(qdf, seg, k=11, cfg=CFG)
        .filter(F.col("doc_id") != seed)
        .orderBy("rank")
        .limit(10)
        .toPandas()
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_suggest_terms_ranking(spark, corpus):
    """suggest_terms ≡ python replay: OOV tokens only, ranked by
    (levenshtein asc, df desc, term asc), top-n per token."""
    from ivfadc_spark.operators.wand import suggest_terms

    tx, seg, out = corpus
    d = {r["term"]: r["df"] for r in seg.dictionary.collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    queries = [(0, "term00 headtrm"), (1, "headterm"), (2, "qqqqqqqqqqqq")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    got = (
        suggest_terms(qdf, seg, max_dist=2, n_suggest=3)
        .orderBy("query_id", "token", "dist", "suggestion")
        .toPandas()
    )
    assert (got["query_id"] == 1).sum() == 0  # in-vocabulary: nothing
    assert (got["query_id"] == 2).sum() == 0  # hopeless: nothing

    rows = []
    for qid, text in queries:
        for token in sorted(set(text.split())):
            if token in d:
                continue
            cand = sorted(
                ((t, lev(t, token), n) for t, n in d.items()
                 if abs(len(t) - len(token)) <= 2 and lev(t, token) <= 2),
                key=lambda x: (x[1], -x[2], x[0]),
            )[:3]
            rows.extend((qid, token, t, dd, n) for t, dd, n in cand)
    want = (
        pd.DataFrame(rows, columns=["query_id", "token", "suggestion", "dist", "df"])
        .sort_values(["query_id", "token", "dist", "suggestion"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want, check_dtype=False)


def test_regex_topk_anchored_expansion(spark, corpus):
    """regex_topk(/term00./) ≡ bm25_topk_indexed over the manually rlike'd
    vocab; patterns match the WHOLE term (a substring match like /erm00/
    expands to nothing); a no-match pattern yields no rows."""
    import re as _re

    import numpy as np

    from ivfadc_spark.operators.wand import regex_topk

    tx, seg, out = corpus
    vocab = [r["term"] for r in seg.dictionary.select("term").collect()]
    exp = sorted(t for t in vocab if _re.fullmatch("term00.", t))
    assert len(exp) > 1

    def qdf(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "text"]),
            schema="query_id long, text string",
        )

    got = (
        regex_topk(
            qdf([(0, "/term00./"), (1, "/erm00/"), (2, "/zzz.*/ headterm")]),
            seg, k=10, cfg=CFG,
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert (got["query_id"] == 1).sum() == 0  # substring never whole-matches
    want = (
        bm25_topk_indexed(
            qdf([(0, " ".join(exp)), (2, "headterm")]), seg, k=10, cfg=CFG
        )
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_analyzer_stopwords_rescope_index(spark, tmp_path):
    """Analyzer options (stop_terms/min_token_len) through the build: the
    stop term vanishes from the dictionary, dl rescopes to the filtered
    stream, and the indexed path == a DataFrame path over pre-filtered
    text. The synth vocabulary has a forced head term in >50% of turns —
    the natural stop-list fixture."""
    from pyspark.sql import functions as F

    from ivfadc_spark.functions.tokenize import tokens_col

    tx = synth_transcripts(spark, n_conversations=40)
    cfg = EngineConfig(block_size=16, stop_terms="headterm", min_token_len=5)
    seg = build_index(spark, tx, str(tmp_path / "stopseg"), cfg=cfg)
    terms = {r.term for r in seg.dictionary.select("term").collect()}
    assert "headterm" not in terms
    assert all(len(t) >= 5 for t in terms)

    # dl rescopes: segment doc_lens == filtered token counts of the source
    with_ids = plan_doc_ids(tx, cfg.doc_shards)[0]
    filt = tokens_col("text", stop=frozenset(["headterm"]), min_len=5)
    want = {
        r.doc_id: r.dl
        for r in with_ids.select(
            "doc_id", F.size(filt).alias("dl")
        ).collect()
        if r.dl > 0
    }
    got = {r.doc_id: r.dl for r in seg.doc_lengths.collect()}
    assert {k: v for k, v in got.items() if v > 0} == want

    # indexed search == DataFrame path over the pre-filtered text
    docs = with_ids.select("doc_id", filt.alias("toks")).select(
        "doc_id", F.array_join("toks", " ").alias("text")
    )
    tf = S.term_frequencies(docs)
    dl = S.doc_lengths(docs)
    cs = S.corpus_stats(dl)
    d = S.dictionary(tf, cs["n_docs"])
    q = _queries_df(spark)
    want_df = (
        bm25_topk(q, tf, d, dl, cs["avgdl"], k=10)
        .orderBy("query_id", "rank").toPandas()
    )
    got_df = (
        bm25_topk_indexed(q, seg, k=10).orderBy("query_id", "rank").toPandas()
    )
    assert list(got_df["doc_id"]) == list(want_df["doc_id"])


def test_filter_tokens_matches_tokens_col(spark):
    """The Arrow kernel filter and the Catalyst filter agree token-for-token
    (including empty-after-filter docs and unicode)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from ivfadc_spark.functions.tokenize import (
        arrow_flat_tokens,
        filter_tokens,
        tokens_col,
    )

    texts = ["the big CAT", "a a a", "", None, "xy zécafé the theo", "no stop here at all"]
    stop, min_len = frozenset(["the", "a"]), 3
    flat, par = filter_tokens(
        *arrow_flat_tokens(pa.array(texts, type=pa.string())), stop, min_len
    )
    got: dict[int, list] = {}
    for t, p in zip(flat.to_pylist(), par):
        got.setdefault(int(p), []).append(t)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    want = {
        r.i: r.toks
        for r in df.select(
            "i", tokens_col("text", stop=stop, min_len=min_len).alias("toks")
        ).collect()
        if r.toks
    }
    assert got == want


@pytest.mark.parametrize("rewrite", ["prefix_topk", "fuzzy_topk", "regex_topk"])
def test_rewrite_plain_tokens_analyze_like_indexed(spark, corpus, rewrite):
    """A multi-term rewrite's unmarked tokens go through the query analyzer
    of bm25_topk_indexed: a hyphen-joined plain query splits into its terms
    instead of collapsing into one out-of-vocabulary token."""
    import numpy as np

    from ivfadc_spark.operators import wand

    tx, seg, out = corpus
    qdf = spark.createDataFrame(
        pd.DataFrame(
            [(0, "headterm-term003"), (1, "Term001,term002")], columns=["query_id", "text"]
        ),
        schema="query_id long, text string",
    )
    want = bm25_topk_indexed(qdf, seg, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()
    got = getattr(wand, rewrite)(qdf, seg, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()
    assert len(want) > 0
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)
