"""k-means training loop, SegmentSet federation, O(bytes) block remap, and
the zero-token-doc stride regression (batch path vs dense id space)."""

import numpy as np
import pandas as pd
import pytest

from ivfadc_spark.config import EngineConfig
from ivfadc_spark.operators.clustering import (
    assign_cells,
    kmeans_train,
    seed_farthest,
    seed_first_k,
)
from ivfadc_spark.operators.postings import decode_blocks, remap_blocks
from ivfadc_spark.operators.segments import SegmentSet
from ivfadc_spark.operators.wand import bm25_topk_batch, bm25_topk_indexed
from ivfadc_spark.plans.build_index import build_index
from ivfadc_spark.sources.transcripts import synth_transcripts

CFG = EngineConfig(block_size=16)


@pytest.fixture(scope="module")
def vecs(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(200, dtype=np.int64),
            "v": [list(map(float, rng.normal(size=8))) for _ in range(200)],
        }
    )
    return spark.createDataFrame(pdf, schema="vec_id long, v array<double>")


def test_assign_cells_matches_numpy(spark, vecs):
    seeds = seed_first_k(vecs, 4)
    got = assign_cells(vecs, seeds, metric="cosine").select("vec_id", "cell").toPandas()
    got = got.sort_values("vec_id").reset_index(drop=True)
    v = np.array(vecs.orderBy("vec_id").toPandas()["v"].tolist())
    c = np.array(seeds["b"].tolist())
    cos = (v @ c.T) / (
        np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :]
    )
    assert list(got["cell"]) == list(np.argmax(cos, axis=1))


def test_kmeans_inertia_nonincreasing_and_tol_break(spark, vecs):
    """Lloyd guarantees non-increasing within-cluster cost; tol>0 must stop
    early once centroids stabilize."""

    def inertia(cents):
        v = np.array(vecs.orderBy("vec_id").toPandas()["v"].tolist())
        c = np.array(cents.sort_values("cell")["b"].tolist())
        cos = (v @ c.T) / (
            np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :]
        )
        return float((1.0 - cos.max(axis=1)).sum())

    prev = None
    for iters in (1, 2, 4):
        cents, _, ran = kmeans_train(vecs, k=4, max_iters=iters, tol=0.0)
        assert ran == iters
        cur = inertia(cents)
        if prev is not None:
            assert cur <= prev + 1e-9
        prev = cur
    _, _, ran = kmeans_train(vecs, k=4, max_iters=50, tol=1e-7)
    assert ran < 50  # converged and broke early


def test_farthest_seeding_deterministic(spark, vecs):
    a = seed_farthest(vecs, 3)
    b = seed_farthest(vecs, 3)
    assert [list(x) for x in a["b"]] == [list(x) for x in b["b"]]


def test_remap_blocks_is_pure_offset(spark, tmp_path):
    tx = synth_transcripts(spark, n_conversations=20)
    seg = build_index(spark, tx, str(tmp_path / "s"), cfg=CFG)
    base = decode_blocks(seg.blocks).orderBy("term", "doc_id").toPandas()
    shifted = (
        decode_blocks(remap_blocks(seg.blocks, 1_000_000))
        .orderBy("term", "doc_id")
        .toPandas()
    )
    assert list(shifted["doc_id"]) == [d + 1_000_000 for d in base["doc_id"]]
    assert list(shifted["tf"]) == list(base["tf"])
    # v3 blocks decode dl as NULL on both sides; NaN-safe compare
    pd.testing.assert_series_equal(shifted["dl"], base["dl"], check_names=False)
    # metadata consistent with payload
    blk = remap_blocks(seg.blocks, 1_000_000).toPandas()
    assert (blk["first_doc"] >= 1_000_000).all()


def test_segment_set_equals_single_build(spark, tmp_path):
    """Query federation over two segments == one segment over the union —
    rank and score identical (WAND and batch paths)."""
    tx = synth_transcripts(spark, n_conversations=60)
    whole = build_index(spark, tx, str(tmp_path / "w"), cfg=CFG)
    a = build_index(
        spark, tx.filter("conv_id < 'conv-000030'"), str(tmp_path / "a"), cfg=CFG
    )
    b = build_index(
        spark, tx.filter("conv_id >= 'conv-000030'"), str(tmp_path / "b"), cfg=CFG
    )
    ss = SegmentSet(spark, [a.path, b.path])
    assert ss.meta["n_docs"] == whole.meta["n_docs"]
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [0, 1, 2], "text": ["headterm term000", "term001 term017", "term199"]}
        ),
        schema="query_id long, text string",
    )
    want = (
        bm25_topk_indexed(queries, whole, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    got = (
        bm25_topk_indexed(queries, ss, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)
    got_b = (
        bm25_topk_batch(queries, ss, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got_b["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got_b["score"], want["score"], rtol=1e-12)


def test_batch_stride_with_zero_token_docs(spark, tmp_path):
    """Regression: transcripts with empty / punctuation-only turns make the
    doc id space larger than the BM25 n_docs; the batch path's key stride
    must use the FULL space or adjacent queries' keys collide."""
    tx = synth_transcripts(spark, n_conversations=25).toPandas()
    # blank out a scattering of turns (keeps (conv_id, turn_idx) keys)
    tx.loc[tx.index % 7 == 0, "text"] = ""
    tx.loc[tx.index % 11 == 0, "text"] = "!!! ???"
    df = spark.createDataFrame(
        tx,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    seg = build_index(spark, df, str(tmp_path / "z"), cfg=CFG)
    assert seg.doc_space > seg.meta["n_docs"]  # zero-token docs exist
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": [0, 1, 2, 3], "text": ["headterm", "term000 term001", "term002", "headterm term003"]}
        ),
        schema="query_id long, text string",
    )
    want = (
        bm25_topk_indexed(queries, seg, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    got = (
        bm25_topk_batch(queries, seg, k=10, cfg=CFG)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    assert list(got["doc_id"]) == list(want["doc_id"])
    np.testing.assert_allclose(got["score"], want["score"], rtol=1e-12)


def test_config_refuses_unsharded_build():
    """doc_shards selects no code path: every build is doc-sharded, so an
    unsharded config is rejected where it is made."""
    with pytest.raises(ValueError, match="doc_shards"):
        EngineConfig(doc_shards=0)


@pytest.mark.parametrize(
    "layout",
    [
        {"format_version": 2, "n_shards": 0},  # df-salted build
        {"n_shards": 32},  # no format stamp (pre-v2)
        {"format_version": 3, "n_shards": 0},
    ],
)
def test_segment_open_refuses_pre_v3_layout(spark, tmp_path, layout):
    """Readers only know format v3; any other layout must fail at open with
    a rebuild instruction instead of reaching a scan kernel."""
    import json

    from ivfadc_spark.operators.segments import Segment

    meta = {"n_docs": 1, "avgdl": 1.0, "doc_space": 1, "config": {}, **layout}
    (tmp_path / "meta.json").write_text(json.dumps(meta))
    with pytest.raises(ValueError, match="rebuild"):
        Segment(spark, str(tmp_path))


def test_phrase_topk_matches_bruteforce(spark, tmp_path):
    """Positional sidecar phrase counts == a per-doc brute scan in pandas."""
    import re

    from ivfadc_spark.operators.positions import build_positions, phrase_topk

    tx = synth_transcripts(spark, n_conversations=30)
    seg = build_index(spark, tx, str(tmp_path / "ph"), cfg=CFG)
    build_positions(spark, tx, seg.path, CFG)
    phrases = [(0, "headterm term000"), (1, "term001 term000"), (2, "nosuch phrase")]
    pq = spark.createDataFrame(
        pd.DataFrame(phrases, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    got = phrase_topk(pq, seg, k=10).orderBy("query_id", "rank").toPandas()

    pat = re.compile(r"[^a-z0-9]+")
    docs = seg.doc_map.orderBy("doc_id").toPandas()
    texts = (
        tx.orderBy("conv_id", "turn_idx").toPandas()["text"].tolist()
    )  # doc_id order == (conv_id, turn_idx) order
    rows = []
    for qid, phrase in phrases:
        p = [t for t in pat.split(phrase.lower()) if t]
        for doc_id, text in enumerate(texts):
            t = [w for w in pat.split(text.lower()) if w]
            n = sum(1 for i in range(len(t) - len(p) + 1) if t[i : i + len(p)] == p)
            if n > 0:
                rows.append((qid, doc_id, n))
    want = pd.DataFrame(rows, columns=["query_id", "doc_id", "n_occ"])
    want["rank"] = (
        want.sort_values(["n_occ", "doc_id"], ascending=[False, True])
        .groupby("query_id")
        .cumcount()
        + 1
    )
    want = (
        want[want["rank"] <= 10]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    assert list(got["n_occ"]) == list(want["n_occ"])
    assert len(docs) == len(texts)


def test_pq_adc_equals_reconstruction(spark):
    """ADC's table-gather sum must equal the exact L2 distance between the
    query residual and the candidate's RECONSTRUCTED residual (concatenated
    sub-centroids) — the identity IVFADC's decomposition rests on
    (/root/reference/SearchEngine.cpp:170-184)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ivfadc_spark.operators import pq

    rng = np.random.default_rng(3)
    dim, nsq, ks = 16, 4, 4
    vecs_np = rng.normal(size=(120, dim)).round(3)
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(120), "v": [list(map(float, r)) for r in vecs_np]}),
        schema="vec_id long, v array<double>",
    )
    coarse = pd.DataFrame(
        {"cell": np.arange(4, dtype=np.int32), "b": [list(map(float, r)) for r in vecs_np[:4]]}
    )
    ranked = pq.coarse_assign(e, coarse, nprobe=2)
    res = pq.residuals(ranked.filter(F.col("r") == 1))
    books = pq.train_pq(res, dim, nsq, ks, iters=2)
    codes = pq.encode_pq(res, books, dim)
    probes = ranked.filter((F.col("r") <= 2) & (F.col("vec_id") % 40 == 1)).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.zip_with("v", "b", lambda x, y: x - y).alias("qrr"),
    )
    got = (
        pq.adc_topk(probes, codes, books, dim, k=5, round_decimals=9)
        .orderBy("query_id", "rank").toPandas()
    )
    assert len(got) > 0

    # numpy reconstruction reference
    cents = {int(c): np.array(b) for c, b in zip(coarse["cell"], coarse["b"])}
    book_np = [
        {int(c): np.array(b) for c, b in zip(bk["cell"], bk["b"])} for bk in books
    ]
    codes_pdf = codes.toPandas().set_index("vec_id")
    probes_pdf = probes.toPandas()
    m = dim // nsq
    rows = []
    for _, p in probes_pdf.iterrows():
        qrr = np.array(p["qrr"])
        for cand_id, c in codes_pdf.iterrows():
            if c["cell"] != p["cell"] or cand_id == p["query_id"]:
                continue
            recon = np.concatenate([book_np[s][int(c[f"code_{s}"])] for s in range(nsq)])
            rows.append((p["query_id"], cand_id, float(((qrr - recon) ** 2).sum())))
    want = pd.DataFrame(rows, columns=["query_id", "cand_id", "adc"])
    want["rank"] = (
        want.sort_values(["adc", "cand_id"]).groupby("query_id").cumcount() + 1
    )
    want = (
        want[want["rank"] <= 5]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["cand_id"]) == list(want["cand_id"])
    assert np.allclose(got["adc"], want["adc"], atol=1e-8)


def test_fused_positions_equal_sidecar_and_leave_scoring_unchanged(spark, tmp_path):
    """A with_positions=1 build answers phrase queries identically to the
    two-pass sidecar, from ONE tokenize pass; the positional twin rows must
    be invisible to every scoring path and to the dictionary."""
    import dataclasses

    from ivfadc_spark.operators.positions import build_positions, phrase_topk
    from ivfadc_spark.operators.wand import bm25_topk_batch, bm25_topk_indexed

    cfg_f = dataclasses.replace(CFG, with_positions=1)
    tx = synth_transcripts(spark, n_conversations=30)
    seg_f = build_index(spark, tx, str(tmp_path / "pf"), cfg=cfg_f)
    seg_p = build_index(spark, tx, str(tmp_path / "pp"), cfg=CFG)
    build_positions(spark, tx, seg_p.path, CFG)

    phrases = [(0, "headterm term000"), (1, "term001 term000"), (2, "nosuch phrase")]
    pq = spark.createDataFrame(
        pd.DataFrame(phrases, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    a = phrase_topk(pq, seg_f, k=10, cfg=cfg_f).orderBy("query_id", "rank").toPandas()
    b = phrase_topk(pq, seg_p, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0

    qs = spark.createDataFrame(
        pd.DataFrame({"query_id": [0, 1], "text": ["headterm term003", "term001 term002"]}),
        schema="query_id long, text string",
    )
    for fn in (bm25_topk_indexed, bm25_topk_batch):
        x = fn(qs, seg_f, k=10, cfg=cfg_f).orderBy("query_id", "rank").toPandas()
        y = fn(qs, seg_p, k=10, cfg=CFG).orderBy("query_id", "rank").toPandas()
        assert list(x["doc_id"]) == list(y["doc_id"])
    da = seg_f.dictionary.orderBy("term").toPandas().reset_index(drop=True)
    db = seg_p.dictionary.orderBy("term").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(da, db)


def test_pq_index_roundtrip(spark, tmp_path):
    """write_pq_index -> load_pq_index -> adc_topk equals the in-memory
    result, and a probe filter prunes the codes scan to the probed cell
    partitions (the on-disk inverted file)."""
    import numpy as np
    from pyspark.sql import functions as F

    from ivfadc_spark.operators import pq

    rng = np.random.default_rng(5)
    dim, nsq, ks = 16, 4, 4
    vecs_np = rng.normal(size=(100, dim)).round(3)
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(100), "v": [list(map(float, r)) for r in vecs_np]}),
        schema="vec_id long, v array<double>",
    )
    coarse = pd.DataFrame(
        {"cell": np.arange(4, dtype=np.int32), "b": [list(map(float, r)) for r in vecs_np[:4]]}
    )
    ranked = pq.coarse_assign(e, coarse, nprobe=2)
    res = pq.residuals(ranked.filter(F.col("r") == 1))
    books = pq.train_pq(res, dim, nsq, ks, iters=1)
    codes = pq.encode_pq(res, books, dim)
    probes = ranked.filter((F.col("r") <= 2) & (F.col("vec_id") % 50 == 3)).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.zip_with("v", "b", lambda x, y: x - y).alias("qrr"),
    )
    want = pq.adc_topk(probes, codes, books, dim, k=5).orderBy("query_id", "rank").toPandas()

    pq.write_pq_index(str(tmp_path / "pqidx"), codes, books, coarse)
    codes2, books2, coarse2 = pq.load_pq_index(spark, str(tmp_path / "pqidx"))
    assert [list(b["cell"]) for b in books2] == [list(b["cell"]) for b in books]
    probed_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    pruned = codes2.filter(F.col("cell").isin(probed_cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "cell" in plan  # partition filter present on the scan
    got = pq.adc_topk(probes, pruned, books2, dim, k=5).orderBy("query_id", "rank").toPandas()
    assert list(got["cand_id"]) == list(want["cand_id"])
    np.testing.assert_allclose(got["adc"], want["adc"], atol=1e-9)


def test_pq_arrow_impl_matches_sql_impl(spark):
    """coarse_assign / encode_pq impl='arrow' (one mapInArrow pass, zero
    exchange) must reproduce impl='sql' (crossJoin+window) exactly — the
    scale kernel and the oracle-parity form are the same function."""
    from pyspark.sql import functions as F

    from ivfadc_spark.operators import pq

    rng = np.random.default_rng(7)
    dim, nsq, ks = 16, 4, 4
    vecs_np = rng.normal(size=(150, dim)).round(3)
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(150), "v": [list(map(float, r)) for r in vecs_np]}),
        schema="vec_id long, v array<double>",
    )
    coarse = pd.DataFrame(
        {"cell": np.arange(5, dtype=np.int32), "b": [list(map(float, r)) for r in vecs_np[:5]]}
    )
    a = (
        pq.coarse_assign(e, coarse, nprobe=3, impl="arrow")
        .orderBy("vec_id", "r").toPandas()
    )
    s = (
        pq.coarse_assign(e, coarse, nprobe=3, impl="sql")
        .orderBy("vec_id", "r").toPandas()
    )
    assert list(a["vec_id"]) == list(s["vec_id"])
    assert list(a["cell"]) == list(s["cell"])
    assert list(a["r"]) == list(s["r"])
    for va, vs in zip(a["v"], s["v"]):
        assert list(va) == list(vs)
    for ba, bs in zip(a["b"], s["b"]):
        assert list(ba) == list(bs)

    res = pq.residuals(
        pq.coarse_assign(e, coarse, nprobe=1, impl="arrow").filter(F.col("r") == 1)
    )
    books = pq.train_pq(res, dim, nsq, ks, iters=1)
    ca = pq.encode_pq(res, books, dim, impl="arrow").orderBy("vec_id").toPandas()
    cs = pq.encode_pq(res, books, dim, impl="sql").orderBy("vec_id").toPandas()
    for col in ["vec_id", "cell"] + [f"code_{i}" for i in range(nsq)]:
        assert list(ca[col]) == list(cs[col]), col


def test_adc_topk_gather_matches_join_shape(spark, tmp_path):
    """Single-pass gather over the PERSISTED cell-partitioned codes ==
    the declarative broadcast-join adc_topk, including rounded scores and
    rank tie-breaks."""
    from pyspark.sql import functions as F

    from ivfadc_spark.operators import pq

    rng = np.random.default_rng(9)
    dim, nsq, ks = 16, 4, 4
    vecs_np = rng.normal(size=(130, dim)).round(3)
    e = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(130), "v": [list(map(float, r)) for r in vecs_np]}),
        schema="vec_id long, v array<double>",
    )
    coarse = pd.DataFrame(
        {"cell": np.arange(4, dtype=np.int32), "b": [list(map(float, r)) for r in vecs_np[:4]]}
    )
    ranked = pq.coarse_assign(e, coarse, nprobe=2)
    res = pq.residuals(ranked.filter(F.col("r") == 1))
    books = pq.train_pq(res, dim, nsq, ks, iters=1)
    codes = pq.encode_pq(res, books, dim)
    probes = ranked.filter((F.col("r") <= 2) & (F.col("vec_id") % 20 == 3)).select(
        F.col("vec_id").alias("query_id"), "cell",
        F.zip_with("v", "b", lambda x, y: x - y).alias("qrr"),
    )
    want = pq.adc_topk(probes, codes, books, dim, k=5).orderBy("query_id", "rank").toPandas()

    pq.write_pq_index(str(tmp_path / "pqidx"), codes, books, coarse)
    codes2, books2, _ = pq.load_pq_index(spark, str(tmp_path / "pqidx"))
    got = (
        pq.adc_topk_gather(probes.toPandas(), codes2, books2, dim, k=5)
        .orderBy("query_id", "rank").toPandas()
    )
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["cand_id"]) == list(want["cand_id"])
    assert list(got["rank"]) == list(want["rank"])
    np.testing.assert_allclose(got["adc"], want["adc"], atol=0)  # bit-equal


def test_recompute_centroids_half_up_rounding(spark):
    """Exact-half means must round HALF_UP in BOTH impls (numpy's default
    banker's rounding would send 5e-07 -> 0.0 at 6 decimals; Spark F.round
    and DuckDB send it to 1e-06). Adversarial fixture: every mean lands
    exactly on a half."""
    from ivfadc_spark.operators.clustering import recompute_centroids

    # two members per cell whose mean is exactly 5e-07 / 1.5e-06 / 2.5e-06:
    # halves at 6 decimals; banker's would round the 1st and 3rd DOWN
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "cell": [0, 0, 1, 1],
            "v": [
                [0.000001, 0.000003, 0.000005],
                [0.0, 0.0, 0.0],
                [0.000002, 0.000001, 0.000004],
                [0.000003, 0.000002, 0.000001],
            ],
        }
    )
    df = spark.createDataFrame(pdf, schema="vec_id long, cell int, v array<double>")
    ca, _ = recompute_centroids(df, round_decimals=6, impl="arrow")
    cs, _ = recompute_centroids(df, round_decimals=6, impl="sql")
    ca = ca.sort_values("cell").reset_index(drop=True)
    cs = cs.sort_values("cell").reset_index(drop=True)
    assert [list(b) for b in ca["b"]] == [list(b) for b in cs["b"]]
    # the halves went UP
    assert list(ca["b"][0]) == [1e-06, 2e-06, 3e-06]


def test_phrase_topk_over_segment_set(spark, tmp_path):
    """Phrase search through a SegmentSet == over one whole-corpus segment,
    with MIXED members: one fused-positional build, one positions sidecar —
    each member serves its own source, doc ids shifted by doc_base."""
    import dataclasses

    from ivfadc_spark.operators.positions import build_positions, phrase_topk

    cfg_f = dataclasses.replace(CFG, with_positions=1)
    tx = synth_transcripts(spark, n_conversations=40)
    whole = build_index(spark, tx, str(tmp_path / "pw"), cfg=cfg_f)
    a = build_index(
        spark, tx.filter("conv_id < 'conv-000020'"), str(tmp_path / "pa"), cfg=cfg_f
    )
    # member b: plain build + positions sidecar (no fused rows)
    b = build_index(
        spark, tx.filter("conv_id >= 'conv-000020'"), str(tmp_path / "pb"), cfg=cfg_f
    )
    build_positions(spark, tx.filter("conv_id >= 'conv-000020'"), b.path, cfg_f)
    ss = SegmentSet(spark, [a.path, b.path])
    phrases = [(0, "headterm term000"), (1, "term001 term000"), (2, "nosuch phrase")]
    pqs = spark.createDataFrame(
        pd.DataFrame(phrases, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    want = phrase_topk(pqs, whole, k=10, cfg=cfg_f).orderBy("query_id", "rank").toPandas()
    got = phrase_topk(pqs, ss, k=10, cfg=cfg_f).orderBy("query_id", "rank").toPandas()
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0


def test_highlight_topk_matches_bruteforce(spark, tmp_path):
    """highlight_topk offsets/counts == a per-doc token scan in pandas:
    for each query's BM25 top-k docs, every present query term appears
    with its first 0-based offset and occurrence count; absent terms and
    non-winner docs contribute no rows."""
    import re

    from ivfadc_spark.operators.positions import build_positions, highlight_topk
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    tx = synth_transcripts(spark, n_conversations=30)
    seg = build_index(spark, tx, str(tmp_path / "hl"), cfg=CFG)
    build_positions(spark, tx, seg.path, CFG)
    queries = [(0, "headterm term000"), (1, "term001"), (2, "zzznope")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    got = (
        highlight_topk(qdf, seg, k=5)
        .orderBy("query_id", "rank", "term")
        .toPandas()
    )
    assert (got["query_id"] == 2).sum() == 0  # OOV query: no winners

    top = (
        bm25_topk_indexed(qdf, seg, k=5)
        .select("query_id", "rank", "doc_id")
        .toPandas()
    )
    pat = re.compile(r"[^a-z0-9]+")
    texts = tx.orderBy("conv_id", "turn_idx").toPandas()["text"].tolist()
    rows = []
    for r in top.itertuples():
        toks = [t for t in pat.split(texts[r.doc_id].lower()) if t]
        for term in sorted({t for t in pat.split(dict(queries)[r.query_id].lower()) if t}):
            occ = [i for i, t in enumerate(toks) if t == term]
            if occ:
                rows.append((r.query_id, r.rank, r.doc_id, term, occ[0], len(occ)))
    want = pd.DataFrame(
        rows, columns=["query_id", "rank", "doc_id", "term", "first_pos", "n_occ"]
    ).sort_values(["query_id", "rank", "term"]).reset_index(drop=True)
    gg = got[["query_id", "rank", "doc_id", "term", "first_pos", "n_occ"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(gg, want, check_dtype=False)


def test_near_topk_matches_bruteforce_and_slop0_is_phrase(spark, tmp_path):
    """near_topk counts == a per-doc position scan in pandas; slop=0
    reduces to exact bigram adjacency == phrase_topk on the same bigram."""
    import re

    from ivfadc_spark.operators.positions import build_positions, near_topk, phrase_topk

    tx = synth_transcripts(spark, n_conversations=30)
    seg = build_index(spark, tx, str(tmp_path / "nr"), cfg=CFG)
    build_positions(spark, tx, seg.path, CFG)
    queries = [(0, "headterm term000"), (1, "term001 term000")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    slop = 2
    got = near_topk(qdf, seg, slop=slop, k=50).orderBy("query_id", "rank").toPandas()

    pat = re.compile(r"[^a-z0-9]+")
    texts = tx.orderBy("conv_id", "turn_idx").toPandas()["text"].tolist()
    rows = []
    for qid, text in queries:
        t0, t1 = text.split()
        for d, s in enumerate(texts):
            toks = [t for t in pat.split(s.lower()) if t]
            P0 = [i for i, t in enumerate(toks) if t == t0]
            P1 = [i for i, t in enumerate(toks) if t == t1]
            n = sum(1 for a in P0 if any(a < b <= a + slop + 1 for b in P1))
            if n:
                rows.append((qid, d, n))
    want = pd.DataFrame(rows, columns=["query_id", "doc_id", "n_occ"])
    want["rank"] = (
        want.sort_values(["query_id", "n_occ", "doc_id"], ascending=[True, False, True])
        .groupby("query_id")
        .cumcount()
        + 1
    )
    want = (
        want[want["rank"] <= 50]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)[["query_id", "rank", "doc_id", "n_occ"]]
    )
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id", "n_occ"]].reset_index(drop=True),
        want,
        check_dtype=False,
    )

    # slop=0 == exact phrase occurrence counts for the bigram
    near0 = near_topk(qdf, seg, slop=0, k=50).toPandas()
    ph = phrase_topk(qdf, seg, k=50, cfg=CFG).toPandas()
    a = near0[["query_id", "doc_id", "n_occ"]].sort_values(
        ["query_id", "doc_id"]).reset_index(drop=True)
    b = ph[["query_id", "doc_id", "n_occ"]].sort_values(
        ["query_id", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_facet_counts_over_segment_set_with_tombstones(spark, tmp_path):
    """Facets through a SegmentSet == facets over one whole-corpus segment
    with the SAME docs tombstoned: per-member deletes map through
    doc_base offsets into the federation's id space."""
    from ivfadc_spark.operators.deletes import delete_docs
    from ivfadc_spark.operators.query import facet_counts

    tx = synth_transcripts(spark, n_conversations=40)
    whole = build_index(spark, tx, str(tmp_path / "fw"), cfg=CFG)
    a = build_index(
        spark, tx.filter("conv_id < 'conv-000020'"), str(tmp_path / "fa"), cfg=CFG
    )
    b = build_index(
        spark, tx.filter("conv_id >= 'conv-000020'"), str(tmp_path / "fb"), cfg=CFG
    )
    # delete some docs in member b (local ids); the same docs in the whole
    # segment live at doc_base + local id (conv ordering == doc_id ordering)
    dead_local = [0, 3, 9]
    delete_docs(b, dead_local)
    base = int(a.doc_space)
    delete_docs(whole, [base + d for d in dead_local])
    ss = SegmentSet(spark, [a.path, b.path])

    queries = [(0, "headterm term000"), (1, "term001")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    want = (
        facet_counts(qdf, whole, attr="role")
        .orderBy("query_id", "role")
        .toPandas()
    )
    got = (
        facet_counts(qdf, ss, attr="role")
        .orderBy("query_id", "role")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0


def test_pq_index_append_equals_rebuild(spark, tmp_path):
    """append_pq_index: rows appended against the index's FROZEN codebooks
    yield an index identical to one built over the union at once — same
    (vec_id, cell, codes) rows, same ADC top-k through the persisted path."""
    import numpy as np
    from pyspark.sql import functions as F

    from ivfadc_spark.operators import pq

    rng = np.random.default_rng(11)
    dim, nsq, ks = 16, 4, 4
    vecs_np = rng.normal(size=(100, dim)).round(3)
    all_v = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(100), "v": [list(map(float, r)) for r in vecs_np]}),
        schema="vec_id long, v array<double>",
    )
    base_v = all_v.filter(F.col("vec_id") < 80)
    new_v = all_v.filter(F.col("vec_id") >= 80)
    coarse = pd.DataFrame(
        {"cell": np.arange(4, dtype=np.int32), "b": [list(map(float, r)) for r in vecs_np[:4]]}
    )
    # codebooks trained on the BASE corpus only (the frozen-codebook contract)
    res_base = pq.residuals(pq.coarse_assign(base_v, coarse, nprobe=1))
    books = pq.train_pq(res_base, dim, nsq, ks, iters=1)
    codes_base = pq.encode_pq(res_base, books, dim)
    path = str(tmp_path / "pqidx")
    pq.write_pq_index(path, codes_base, books, coarse)

    pq.append_pq_index(spark, path, new_v)

    # ground truth: the union encoded in one shot with the SAME codebooks
    res_all = pq.residuals(pq.coarse_assign(all_v, coarse, nprobe=1))
    want = (
        pq.encode_pq(res_all, books, dim).orderBy("vec_id").toPandas().reset_index(drop=True)
    )
    codes2, books2, coarse2 = pq.load_pq_index(spark, path)
    got = (
        codes2.select(*want.columns).orderBy("vec_id").toPandas().reset_index(drop=True)
    )
    got = got.astype(want.dtypes.to_dict())
    pd.testing.assert_frame_equal(got, want)
    assert got["vec_id"].tolist() == list(range(100))


def test_near_unordered_matches_bruteforce_and_supersets_ordered(spark, tmp_path):
    """ordered=False counts == the |p1-p0|<=slop+1 brute-force scan; every
    ordered match is an unordered match (the reversed-direction hits only
    add), and a reversed-order bigram that never appears left-to-right
    matches ONLY unordered."""
    import re

    from ivfadc_spark.operators.positions import build_positions, near_topk

    tx = synth_transcripts(spark, n_conversations=30)
    seg = build_index(spark, tx, str(tmp_path / "nru"), cfg=CFG)
    build_positions(spark, tx, seg.path, CFG)
    queries = [(0, "headterm term000"), (1, "term000 headterm")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    slop = 2
    got = near_topk(qdf, seg, slop=slop, k=100, ordered=False).toPandas()

    pat = re.compile(r"[^a-z0-9]+")
    texts = tx.orderBy("conv_id", "turn_idx").toPandas()["text"].tolist()
    want_rows = []
    for qid, text in queries:
        t0, t1 = text.split()
        for d, s in enumerate(texts):
            toks = [t for t in pat.split(s.lower()) if t]
            P0 = [i for i, t in enumerate(toks) if t == t0]
            P1 = [i for i, t in enumerate(toks) if t == t1]
            n = sum(1 for a in P0 if any(b != a and abs(b - a) <= slop + 1 for b in P1))
            if n:
                want_rows.append((qid, d, n))
    want = {(q, d): n for q, d, n in want_rows}
    assert {(r.query_id, r.doc_id): r.n_occ for r in got.itertuples()} == want

    # ordered hits are a subset (per (query, doc): ordered count <= unordered)
    o = near_topk(qdf, seg, slop=slop, k=100, ordered=True).toPandas()
    omap = {(r.query_id, r.doc_id): r.n_occ for r in o.itertuples()}
    assert set(omap) <= set(want)
    assert all(omap[k] <= want[k] for k in omap)


def test_span_first_matches_bruteforce(spark, tmp_path):
    """span_first_topk == a per-doc position scan: first qualifying
    position and in-window occurrence count, ranked first_pos asc."""
    import re

    from ivfadc_spark.operators.positions import build_positions, span_first_topk

    tx = synth_transcripts(spark, n_conversations=30)
    seg = build_index(spark, tx, str(tmp_path / "sf"), cfg=CFG)
    build_positions(spark, tx, seg.path, CFG)
    end = 3
    queries = [(0, "headterm"), (1, "term000"), (2, "zzznope")]
    qdf = spark.createDataFrame(
        pd.DataFrame(queries, columns=["query_id", "text"]),
        schema="query_id long, text string",
    )
    got = (
        span_first_topk(qdf, seg, end=end, k=100)
        .orderBy("query_id", "rank")
        .toPandas()
    )

    pat = re.compile(r"[^a-z0-9]+")
    texts = tx.orderBy("conv_id", "turn_idx").toPandas()["text"].tolist()
    rows = []
    for qid, term in queries:
        for d, s in enumerate(texts):
            toks = [t for t in pat.split(s.lower()) if t]
            P = [i for i, t in enumerate(toks) if t == term and i < end]
            if P:
                rows.append((qid, d, P[0], len(P)))
    want = pd.DataFrame(
        rows, columns=["query_id", "doc_id", "first_pos", "n_occ_within"]
    )
    want["rank"] = (
        want.sort_values(["query_id", "first_pos", "doc_id"])
        .groupby("query_id")
        .cumcount()
        + 1
    )
    want = (
        want[want["rank"] <= 100]
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)[
            ["query_id", "rank", "doc_id", "first_pos", "n_occ_within"]
        ]
    )
    pd.testing.assert_frame_equal(
        got[["query_id", "rank", "doc_id", "first_pos", "n_occ_within"]]
        .reset_index(drop=True),
        want,
        check_dtype=False,
    )
    # the OOV query produced nothing
    assert (got["query_id"] == 2).sum() == 0
