"""Executed-plan shape guards (round-4 verdict item 4).

The kmeans/IVF contract entries were re-routed from the crossJoin+window
SQL form (which exchanges n*k scored rows through a per-vec_id window
sort) to the arrow kernels, where the k x d codebook rides the task
closure and each partition does one matrix argmax. These tests pin the
plan: NO Exchange may appear below the assignment kernel — n rows in,
n (or n*nprobe) rows out, zero shuffle. If someone reintroduces a join
or window into the assignment path, the plan string grows an Exchange
and these fail.

The indexed BM25 path is pinned the same way: a 1-query call on a reused
``Segment`` runs ONE Spark job for a pandas-built query frame (two for a
table-backed one), re-reads no dataset, broadcasts no dictionary and scans
in one stage with no exchange; a batch still hash-partitions its blocks by
query. Opening a ``Segment`` or a ``SegmentSet`` runs no job at all, nor
does a term lookup on either or a read of its dl table, and a merge
carries its first member's files instead of reading them. A scan's IN
lists are SQL expressions with the executed plan of ``Column.isin``.
Build, merge and compaction write each dictionary file sorted by term. A
multi-term rewrite with only plain tokens runs no Spark dictionary scan,
``search_topk`` scores through the indexed kernel's scan and filters a
batch's phrases with one ``phrase_topk`` call, and the small frames the
positional, parsed-query and facet operators build on the driver are
local relations, not RDDs of pickled rows.
"""

import itertools
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _executed_plan(df) -> str:
    df.count()  # AQE: final plan only materializes after an action
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def vecs(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": range(40),
            "v": [[float(i % 7), float(i % 5), float(i % 3), 1.0] for i in range(40)],
            "label": [i % 2 for i in range(40)],
        }
    )
    return spark.createDataFrame(pdf, schema="vec_id long, v array<double>, label int")


@pytest.fixture(scope="module")
def cent_pdf():
    return pd.DataFrame(
        {"cell": [0, 1, 2], "b": [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]}
    )


def test_assign_cells_zero_exchange(spark, vecs, cent_pdf):
    from ivfadc_spark.operators.clustering import assign_cells

    plan = _executed_plan(assign_cells(vecs.select("vec_id", "v"), cent_pdf, metric="cosine"))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "PythonMapInArrow" in plan


def test_coarse_assign_zero_exchange(spark, vecs, cent_pdf):
    from ivfadc_spark.operators import pq

    ranked = pq.coarse_assign(
        vecs, cent_pdf, nprobe=2, metric="cosine", passthrough=("label",)
    )
    plan = _executed_plan(ranked)
    assert "Exchange" not in plan, plan


def test_coarse_assign_cosine_matches_sql_form(spark, vecs, cent_pdf):
    """Arrow cosine ranking (normalized-dot argsort) must agree with the
    declarative crossJoin+window form on assignment AND probe ranks."""
    from ivfadc_spark.operators import pq

    a = (
        pq.coarse_assign(vecs, cent_pdf, nprobe=2, metric="cosine", passthrough=("label",))
        .select("vec_id", "cell", "r", "label")
        .toPandas()
        .sort_values(["vec_id", "r"])
        .reset_index(drop=True)
    )
    b = (
        pq.coarse_assign(vecs, cent_pdf, nprobe=2, metric="cosine", impl="sql",
                         passthrough=("label",))
        .select("vec_id", "cell", "r", "label")
        .toPandas()
        .sort_values(["vec_id", "r"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a.astype("int64"), b.astype("int64"))


def test_coarse_assign_l2_passthrough_roundtrip(spark, vecs, cent_pdf):
    """Passthrough columns replicate verbatim onto every ranked row."""
    from ivfadc_spark.operators import pq

    out = (
        pq.coarse_assign(vecs, cent_pdf, nprobe=3, metric="l2", passthrough=("label",))
        .groupBy("vec_id")
        .agg(F.countDistinct("label").alias("nl"), F.count("*").alias("n"))
        .toPandas()
    )
    assert (out["nl"] == 1).all()
    assert (out["n"] == 3).all()


# ---- indexed BM25: the single-query floor ----------------------------------

_groups = itertools.count()


def _run_in_group(spark, fn):
    """(fn(), job ids, stage names) of the Spark jobs ``fn`` ran."""
    sc = spark.sparkContext
    group = f"plan-shape-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land async
    st = sc.statusTracker()
    jobs = sorted(st.getJobIdsForGroup(group))
    # a job lists the shuffle stages it reuses as skipped stages; once the
    # status store holds spark.ui.retainedStages stages it evicts skipped
    # (never completed) stages first, so their info may be gone
    infos = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
    return out, jobs, [i.name for i in infos if i is not None]


@pytest.fixture(scope="module")
def bm25_seg(spark, tmp_path_factory):
    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import synth_transcripts

    cfg = EngineConfig(block_size=16)
    out = str(tmp_path_factory.mktemp("plan_seg"))
    seg = build_index(spark, synth_transcripts(spark, n_conversations=40), out, cfg=cfg)
    return seg, cfg


def _topk(spark, seg, cfg, texts):
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    q = spark.createDataFrame(
        pd.DataFrame({"query_id": range(len(texts)), "text": texts}),
        schema="query_id long, text string",
    )
    return bm25_topk_indexed(q, seg, k=5, cfg=cfg)


def test_indexed_one_query_floor(spark, bm25_seg, tmp_path):
    """One query on a reused Segment: ONE job for a pandas-built query
    frame (the term projection folds over the local relation and idf is
    read on the driver), two for a table-backed frame (its term collect);
    no dataset re-read, and an executed plan with no Exchange — neither a
    shuffle nor a broadcast of the dictionary."""
    from ivfadc_spark.operators.wand import bm25_topk_indexed

    seg, cfg = bm25_seg
    _topk(spark, seg, cfg, ["term001 headterm"]).collect()  # opens the segment

    def call():
        df = _topk(spark, seg, cfg, ["term000 headterm term017"])
        return df, df.collect()

    (df, rows), jobs, stages = _run_in_group(spark, call)
    assert rows
    assert len(jobs) == 1, stages
    assert not [n for n in stages if n.startswith("parquet at")], stages
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert os.path.join(seg.path, "dict") not in plan, plan

    path = str(tmp_path / "queries")
    spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "text": ["term000 headterm term017"]}),
        schema="query_id long, text string",
    ).write.parquet(path)
    table = spark.read.schema("query_id long, text string").parquet(path)
    got, jobs, stages = _run_in_group(
        spark, lambda: bm25_topk_indexed(table, seg, k=5, cfg=cfg).collect()
    )
    assert got == rows
    assert len(jobs) <= 2, stages


def test_indexed_batch_partitions_by_query(spark, bm25_seg):
    seg, cfg = bm25_seg
    df = _topk(spark, seg, cfg, ["term000 headterm", "term017"])
    assert set(r["query_id"] for r in df.collect()) == {0, 1}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(query_id" in plan, plan


def test_indexed_all_oov_runs_no_scan(spark, bm25_seg):
    """An all-OOV query runs no job: its terms fold on the driver, the
    lookup finds none of them, and no scan is planned."""
    seg, cfg = bm25_seg
    rows, jobs, stages = _run_in_group(
        spark, lambda: _topk(spark, seg, cfg, ["no-such-term zzzq"]).collect()
    )
    assert rows == []
    assert jobs == [], stages


def test_segment_opens_once(spark, bm25_seg):
    """raw_blocks / dictionary read their dataset once per Segment; later
    accesses (and so later queries) list no files."""
    from ivfadc_spark.operators.segments import Segment

    seg, cfg = bm25_seg
    fresh = Segment(spark, seg.path)
    assert fresh.raw_blocks is fresh.raw_blocks
    assert fresh.dictionary is fresh.dictionary
    _, jobs, stages = _run_in_group(spark, lambda: (fresh.raw_blocks, fresh.dictionary))
    assert jobs == [], stages


@pytest.fixture(scope="module")
def two_segs(spark, tmp_path_factory):
    """Two segments over disjoint halves of one synthetic corpus."""
    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import synth_transcripts

    cfg = EngineConfig(block_size=16)
    tx = synth_transcripts(spark, n_conversations=40)
    out = tmp_path_factory.mktemp("plan_halves")
    half = F.col("conv_id") < "conv-000020"
    a = build_index(spark, tx.filter(half), str(out / "a"), cfg=cfg)
    b = build_index(spark, tx.filter(~half), str(out / "b"), cfg=cfg)
    return a, b, cfg


def test_segment_open_runs_no_job(spark, bm25_seg, two_segs):
    """Declared schemas and driver-side listing: opening a fresh Segment or
    SegmentSet, touching its datasets and looking terms up runs no job."""
    from ivfadc_spark.operators.segments import Segment, SegmentSet

    seg, cfg = bm25_seg
    a, b, _ = two_segs

    def open_fresh():
        ss = SegmentSet(spark, [a.path, b.path])
        for s in (Segment(spark, seg.path), ss):
            s.raw_blocks, s.dictionary, s.doc_lengths
        return ss.term_stats(["term000", "headterm", "no-such-term"])

    found, jobs, stages = _run_in_group(spark, open_fresh)
    assert list(found["term"]) == ["headterm", "term000"]
    assert jobs == [], stages


def test_term_stats_run_no_job(spark, bm25_seg, two_segs):
    """``term_stats`` of a Segment (a pyarrow read of its dict files) and of
    a SegmentSet (summed df, idf folded over a local frame) run no Spark
    job, drop out-of-vocabulary terms and return the dictionary's rows
    bit for bit; a set's idf is the union's, not a member's."""
    from ivfadc_spark.operators.segments import SegmentSet

    seg, _ = bm25_seg
    a, b, _ = two_segs
    ss = SegmentSet(spark, [a.path, b.path])
    terms = ["term000", "headterm", "term017", "no-such-term", "zzzq"]
    for s in (seg, ss):
        s.term_stats(terms)  # opens the segment's dictionary files
        got, jobs, stages = _run_in_group(spark, lambda: s.term_stats(terms))
        assert jobs == [], stages
        want = (
            s.dictionary.filter(F.col("term").isin(terms))
            .toPandas()
            .sort_values("term", ignore_index=True)
        )
        assert list(got.columns) == ["term", "df", "cf", "idf"]
        assert list(got["term"]) == ["headterm", "term000", "term017"]
        assert got["df"].tolist() == want["df"].tolist()
        assert got["cf"].tolist() == want["cf"].tolist()
        assert got["idf"].tolist() == want["idf"].tolist()  # exact, not close
    member = a.term_stats(terms).set_index("term")["idf"]
    assert (ss.term_stats(terms).set_index("term")["idf"] != member).all()
    assert ss.term_stats(["no-such-term"]).empty


def test_dl_table_reads_no_job(spark, bm25_seg, two_segs, tmp_path):
    """``dl_broadcast`` reads each member's doc_lens/ files on the driver:
    no Spark job, and the array of a collect of ``doc_lengths`` bit for
    bit, for a Segment, a 2-member SegmentSet, a merged segment and a
    compacted segment with tombstones."""
    import numpy as np

    from ivfadc_spark.operators.deletes import compact_segment, delete_docs
    from ivfadc_spark.operators.segments import Segment, SegmentSet, merge_segments

    seg, cfg = bm25_seg
    a, b, _ = two_segs
    merged = merge_segments(spark, [a.path, b.path], str(tmp_path / "m"), cfg=cfg)
    copy = merge_segments(spark, [b.path, a.path], str(tmp_path / "ba"), cfg=cfg)
    delete_docs(copy, [0, 3, copy.doc_space - 1])
    compacted = compact_segment(spark, Segment(spark, copy.path), str(tmp_path / "c"))
    opened = {
        "segment": lambda: Segment(spark, seg.path),
        "set": lambda: SegmentSet(spark, [a.path, b.path]),
        "merged": lambda: Segment(spark, merged.path),
        "compacted": lambda: Segment(spark, compacted.path),
    }
    for name, fresh in opened.items():
        s = fresh()
        got, jobs, stages = _run_in_group(spark, lambda: s.dl_broadcast.value)
        assert jobs == [], (name, stages)
        tbl = s.doc_lengths.toArrow()
        want = np.zeros(s.doc_space, dtype=np.int32)
        want[tbl.column("doc_id").to_numpy()] = tbl.column("dl").to_numpy()
        assert got.dtype == np.int32 and got.tobytes() == want.tobytes(), name
    dead = Segment(spark, compacted.path).dl_broadcast.value
    assert dead[[0, 3, copy.doc_space - 1]].tolist() == [0, 0, 0]
    assert (Segment(spark, copy.path).dl_broadcast.value[[0, 3]] > 0).all()


def test_fresh_segment_batch_call_jobs(spark, bm25_seg):
    """The first 2-query call on a freshly opened Segment runs the jobs of a
    warm call and no more: its dl table is read on the driver (the
    collect of doc_lengths was one more job, 4 against 3)."""
    from ivfadc_spark.operators.segments import Segment

    seg, cfg = bm25_seg
    fresh = Segment(spark, seg.path)
    texts = ["term000 headterm", "term017 term003"]
    first, jobs, stages = _run_in_group(spark, lambda: _topk(spark, fresh, cfg, texts).collect())
    warm, warm_jobs, _ = _run_in_group(spark, lambda: _topk(spark, fresh, cfg, texts).collect())
    assert first == warm and first
    assert len(jobs) == len(warm_jobs) <= 3, stages


def test_in_list_matches_isin(spark):
    """``in_list`` keeps the rows of ``Column.isin`` for 1 and 500 terms
    and for int columns, and refuses a string its plain SQL literal cannot
    carry (a quote, a backslash, a ``${...}`` variable); query terms are
    tokenizer terms and hold none of them."""
    from ivfadc_spark.operators.segments import in_list

    vals = [f"v{i:03d}" for i in range(500)]
    df = spark.createDataFrame(
        pd.DataFrame({"s": vals + ["v999", "it", "back"], "i": range(len(vals) + 3)}),
        schema="s string, i long",
    )
    cases = [("s", ["v007"]), ("s", vals), ("i", [7]), ("i", list(range(0, 1000, 2)))]
    for col, values in cases:
        got = sorted(df.filter(in_list(col, values)).collect())
        assert got == sorted(df.filter(F.col(col).isin(values)).collect()), values[:3]
        assert got, values[:3]
    assert df.filter(in_list("s", [])).collect() == []
    for bad in ["it's", "back\\slash", "${spark.app.name}"]:
        with pytest.raises(ValueError, match="values are terms"):
            in_list("s", ["v001", bad])


def test_batch_probe_plan_unchanged(spark, bm25_seg):
    """A batch of 300 query terms (the whole 209-term vocabulary plus OOV
    terms) probes through SQL IN lists with the executed scan plan of
    ``Column.isin``: the term_bucket partition filter and the pushed-down
    ``In(term`` filter."""
    from ivfadc_spark.operators.segments import in_list
    from ivfadc_spark.operators.wand import _resolve_query_terms

    seg, cfg = bm25_seg
    vocab = sorted(r[0] for r in seg.dictionary.select("term").collect())
    terms = vocab + [f"oov{i:03d}" for i in range(300 - len(vocab))]
    assert len(terms) == 300
    texts = [" ".join(terms[i::4]) for i in range(4)]
    df = _topk(spark, seg, cfg, texts)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[term_bucket#\d+ INSET ", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(term, \[", plan), plan

    q = spark.createDataFrame(
        pd.DataFrame({"query_id": range(4), "text": texts}), schema="query_id long, text string"
    )
    qt = _resolve_query_terms(q, seg)
    assert sorted(set(qt["term"])) == vocab
    buckets, probed = sorted(set(qt["term_bucket"])), sorted(set(qt["term"]))
    new = seg.scan_blocks.filter(in_list("term_bucket", buckets) & in_list("term", probed))
    old = seg.scan_blocks.filter(
        F.col("term_bucket").isin(buckets) & F.col("term").isin(probed)
    )

    def shape(d):
        return re.sub(r"#\d+", "", d._jdf.queryExecution().executedPlan().toString())

    assert shape(new) == shape(old)
    assert sorted(new.collect()) == sorted(old.collect())


def test_dictionary_files_sorted_by_term(spark, two_segs, tmp_path):
    """Build, merge and compaction write every dict/ file sorted by term,
    so each row group's term min/max bounds a lookup."""
    import pyarrow.parquet as pq

    from ivfadc_spark.operators.deletes import compact_segment, delete_docs
    from ivfadc_spark.operators.segments import Segment, merge_segments

    a, b, cfg = two_segs
    merged = merge_segments(spark, [a.path, b.path], str(tmp_path / "m"), cfg=cfg)
    copy = merge_segments(spark, [b.path], str(tmp_path / "b_copy"), cfg=cfg)
    delete_docs(copy, [0, 3])
    compacted = compact_segment(spark, Segment(spark, copy.path), str(tmp_path / "c"))
    for s in (a, merged, compacted):
        d = os.path.join(s.path, "dict")
        files = [f for f in sorted(os.listdir(d)) if not f.startswith(("_", "."))]
        assert files, s.path
        for f in files:
            terms = pq.read_table(os.path.join(d, f), columns=["term"])["term"].to_pylist()
            assert terms == sorted(terms), (s.path, f)
        assert sum(pq.read_metadata(os.path.join(d, f)).num_rows for f in files) > 1


def test_merge_carries_first_member(spark, two_segs, tmp_path):
    """The first member's blocks are carried byte-for-byte, and the merge
    runs no job over them: its raw_blocks may not even be planned."""
    from ivfadc_spark.operators.segments import Segment, SegmentSet, merge_segments

    a, b, cfg = two_segs

    class Carried(Segment):
        @property
        def raw_blocks(self):
            raise AssertionError("merge_segments read the first member's blocks")

    merged = merge_segments(spark, [Carried(spark, a.path), b.path], str(tmp_path / "m"), cfg=cfg)
    src = os.path.join(a.path, "blocks")
    files = [
        os.path.relpath(os.path.join(d, f), src)
        for d, _, fs in os.walk(src)
        for f in fs
        if not f.startswith(("_", "."))
    ]
    assert files
    for rel in files:
        with open(os.path.join(src, rel), "rb") as x, open(
            os.path.join(merged.path, "blocks", rel), "rb"
        ) as y:
            assert x.read() == y.read(), rel
    union = SegmentSet(spark, [a.path, b.path])
    assert merged.raw_blocks.count() == union.raw_blocks.count()
    assert merged.doc_map.count() == union.doc_map.count()
    # the output's datasets are cleared first, so an input may not be it
    with pytest.raises(ValueError, match="one of its inputs"):
        merge_segments(spark, [a.path, b.path], b.path, cfg=cfg)
    assert Segment(spark, b.path).raw_blocks.count() > 0


def test_positional_term_buckets_run_no_job(spark, tmp_path):
    """The probed terms' buckets are computed with no Spark job, prune
    nothing the build wrote for those terms, and phrase counts match the
    positions read without the bucket prune."""
    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.operators.positions import _positions, phrase_topk
    from ivfadc_spark.operators.postings import decode_position_rows
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import synth_transcripts

    cfg = EngineConfig(block_size=16, with_positions=1)
    tx = synth_transcripts(spark, n_conversations=20)
    seg = build_index(spark, tx, str(tmp_path / "pos"), cfg=cfg)
    # a phrase that occurs: the first two tokens of one turn
    text = tx.filter("conv_id = 'conv-000003' AND turn_idx = 0").first()["text"]
    w0, w1 = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t][:2]
    terms = sorted({w0, w1, "no-such-term"})
    seg.raw_blocks  # open the segment outside the timed call

    positions, jobs, stages = _run_in_group(spark, lambda: _positions(seg, terms))
    assert jobs == [], stages

    got = sorted((r.term, r.doc_id, tuple(r.positions)) for r in positions.collect())
    unpruned = decode_position_rows(
        seg.raw_blocks.filter((F.col("block_id") <= -10) & F.col("term").isin(terms))
    ).collect()
    assert got == sorted((r.term, r.doc_id, tuple(r.positions)) for r in unpruned)
    assert {t for t, _, _ in got} == {w0, w1}

    pos = {(t, d): set(p) for t, d, p in got}
    want = {}
    for (t, d), p in pos.items():
        if t == w0:
            n = len({i + 1 for i in p} & pos.get((w1, d), set()))
            if n:
                want[d] = n
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "text": [f"{w0} {w1}"]}),
        schema="query_id long, text string",
    )
    rows = phrase_topk(q, seg, k=1000, cfg=cfg).collect()
    assert want
    assert {r.doc_id: r.n_occ for r in rows} == want


# ---- multi-term rewrites and the query parser ------------------------------


def _sql_plans(spark, fn):
    """(fn(), physical plan descriptions of the SQL executions ``fn`` ran)."""
    store = spark._jsparkSession.sharedState().statusStore()
    n0 = store.executionsList().size()
    out = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = store.executionsList()
    return out, [ex.apply(i).physicalPlanDescription() for i in range(n0, ex.size())]


@pytest.mark.parametrize("rewrite", ["prefix_topk", "fuzzy_topk", "regex_topk"])
def test_rewrite_plain_tokens_are_term_pruned(spark, bm25_seg, rewrite):
    """A rewrite whose query holds only plain tokens resolves them as
    bm25_topk_indexed does: no Spark job reads the dictionary (the lookup
    runs on the driver), there is no dictionary join, and the call runs no
    more jobs than bm25_topk_indexed on the same query."""
    from ivfadc_spark.operators import wand

    seg, cfg = bm25_seg
    texts = ["term000 headterm term017"]
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "text": texts}), schema="query_id long, text string"
    )
    want, want_jobs, _ = _run_in_group(spark, lambda: _topk(spark, seg, cfg, texts).collect())

    def call():
        return _sql_plans(spark, lambda: getattr(wand, rewrite)(q, seg, k=5, cfg=cfg).collect())

    (got, plans), jobs, stages = _run_in_group(spark, call)
    assert got == want and got
    assert len(jobs) <= len(want_jobs), stages
    # a plan's node details are blank-line separated; dictionary scans are
    # the ones reading idf
    dict_scans = [
        node
        for plan in plans
        for node in plan.split("\n\n")
        if "Scan parquet" in node and "idf:double" in node
    ]
    assert not dict_scans, dict_scans
    assert not [p for p in plans if "NestedLoopJoin" in p], plans


def test_search_runs_the_shared_scan(spark, bm25_seg):
    """A 1-query search_topk with MUST, prefix and MUST_NOT clauses but no
    phrase scores through the indexed kernel's scan: at most one job more
    than bm25_topk_indexed, and no Window or SortMergeJoin in its executed
    plan (no Catalyst scoring, MUST counting or exclusion join)."""
    from ivfadc_spark.operators.queryparse import search_topk

    seg, cfg = bm25_seg
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [0], "text": ["+headterm term00* -term017"]}),
        schema="query_id long, text string",
    )
    _, want_jobs, _ = _run_in_group(
        spark, lambda: _topk(spark, seg, cfg, ["term000 headterm term017"]).collect()
    )

    def call():
        df = search_topk(q, seg, k=5, cfg=cfg)
        return df, df.collect()

    (df, rows), jobs, stages = _run_in_group(spark, call)
    assert rows
    assert len(jobs) <= len(want_jobs) + 1, stages
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan


@pytest.fixture(scope="module")
def pos_seg(spark, tmp_path_factory):
    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import synth_transcripts

    cfg = EngineConfig(block_size=16, with_positions=1)
    out = str(tmp_path_factory.mktemp("plan_pos"))
    return build_index(spark, synth_transcripts(spark, n_conversations=40), out, cfg=cfg), cfg


def test_search_phrases_filter_in_one_call(spark, pos_seg):
    """Every MUST / MUST_NOT phrase of a batch filters through ONE
    phrase_topk call: the rows equal the per-clause filtering, and a batch
    with three filtering phrases runs fewer jobs than the 34 that one query
    with two phrase clauses ran when each clause made its own call."""
    from ivfadc_spark.operators.positions import phrase_topk
    from ivfadc_spark.operators.queryparse import search_topk

    seg, cfg = pos_seg

    def q(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["query_id", "text"]), schema="query_id long, text string"
        )

    def members(text):
        return {r.doc_id for r in phrase_topk(q([(0, text)]), seg, k=1 << 30, cfg=cfg).collect()}

    a, b = "term000 headterm", "term001 term000"
    ma, mb = members(a), members(b)
    assert ma - mb and ma & mb and mb

    texts = [(0, f'+"{a}" -"{b}" term003'), (1, f'+"{b}" headterm')]
    got, jobs, stages = _run_in_group(
        spark,
        lambda: search_topk(q(texts), seg, k=1 << 20, cfg=cfg)
        .orderBy("query_id", "rank")
        .collect(),
    )
    assert len(jobs) < 34, stages

    # per clause: the same queries with the phrases as SHOULD clauses (a
    # NOT phrase's terms never score), filtered by each phrase's members
    base = (
        search_topk(q([(0, f'"{a}" term003'), (1, f'"{b}" headterm')]), seg, k=1 << 20, cfg=cfg)
        .orderBy("query_id", "rank")
        .collect()
    )
    keep = {0: lambda d: d in ma and d not in mb, 1: lambda d: d in mb}
    want = [(r.query_id, r.doc_id, r.score) for r in base if keep[r.query_id](r.doc_id)]
    assert {w[0] for w in want} == {0, 1}
    assert [(r.query_id, r.doc_id, r.score) for r in got] == want


def test_small_driver_frames_are_local_relations(spark, tmp_path):
    """The query-sized frames the positional, parsed-query and facet
    operators build on the driver come from pandas: each executed plan
    scans local relations, never ``Scan ExistingRDD`` (an RDD of pickled
    rows, which runs Python worker tasks). facet_counts runs on a segment
    with a tombstone, so its dead-doc frame is in the plan."""
    from ivfadc_spark.config import EngineConfig
    from ivfadc_spark.operators.deletes import delete_docs
    from ivfadc_spark.operators.positions import (
        highlight_topk,
        near_topk,
        phrase_topk,
        span_first_topk,
    )
    from ivfadc_spark.operators.query import facet_counts
    from ivfadc_spark.operators.queryparse import search_topk
    from ivfadc_spark.plans.build_index import build_index
    from ivfadc_spark.sources.transcripts import synth_transcripts

    cfg = EngineConfig(block_size=16, with_positions=1)
    tx = synth_transcripts(spark, n_conversations=10)
    seg = build_index(spark, tx, str(tmp_path / "s"), cfg=cfg)

    def q(*texts):
        return spark.createDataFrame(
            pd.DataFrame({"query_id": range(len(texts)), "text": list(texts)}),
            schema="query_id long, text string",
        )

    def plan(df):
        assert df.collect()  # the final plan exists only after an action
        return df._jdf.queryExecution().executedPlan().toString()

    two = "term000 headterm"
    plans = {
        "phrase_topk": plan(phrase_topk(q(two), seg, k=5, cfg=cfg)),
        "near_topk": plan(near_topk(q(two), seg, k=5, cfg=cfg)),
        "span_first_topk": plan(span_first_topk(q("headterm"), seg, end=50, k=5, cfg=cfg)),
        "highlight_topk": plan(highlight_topk(q(two), seg, k=5, cfg=cfg)),
        "search_topk": plan(search_topk(q(f'+"{two}" term001'), seg, k=5, cfg=cfg)),
    }
    delete_docs(seg, [0])
    plans["facet_counts"] = plan(facet_counts(q(two), seg))
    assert "LeftAnti" in plans["facet_counts"]  # the dead-doc anti-join
    bad = {name: p for name, p in plans.items() if "ExistingRDD" in p}
    assert not bad, bad


@pytest.mark.parametrize("n", [1, 5])
def test_doc_id_offsets_ride_the_plan(spark, n):
    """The id frame adds each partition's offset from a literal array
    indexed by the partition id: its executed plan has no broadcast and no
    ``Scan ExistingRDD`` (a joined offsets table ran one extra broadcast job
    of Python worker tasks per execution), no job beyond the read (one, plus
    the shuffle map stage's own job under AQE when ``n > 1``), and the ids
    stay the global ``(conv_id, turn_idx)`` rank."""
    from ivfadc_spark.sources.transcripts import plan_doc_ids, synth_transcripts

    tx = synth_transcripts(spark, n_conversations=30)
    ids, counts = plan_doc_ids(tx, n)
    assert len(counts) == n
    got, jobs, stages = _run_in_group(
        spark, lambda: ids.select("conv_id", "turn_idx", "doc_id").toPandas()
    )
    plan = ids._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert len(jobs) == (1 if n == 1 else 2), stages
    want = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(want["doc_id"]) == list(range(len(got)))
