"""The benchmark's workloads, their inputs, and the per-layer probes.

Every workload has three phases, each a method of :class:`Workload`:

- ``setup``  — corpus generation, the segment build and a warm-up call:
  everything before the first timed call (reported as ``setup_s`` together
  with the Spark start);
- ``timed``  — the measured calls; each engine call is one attempted
  operation, and its raw results are kept for the oracle;
- ``verify`` — after Spark has stopped: every kept result is checked
  against the spec oracle (:mod:`perfbench.oracle`).

The traced run adds ``probes``: direct calls into single layers on the
workload's own data, after the timed phase, so they never touch the
end-to-end numbers.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

from perfbench.oracle import TOP_K, Oracle, verify

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
QUERY_SCHEMA = "query_id long, text string"


def make_corpus(seed: int, conversations: int) -> pd.DataFrame:
    from ivfadc_spark.sources.transcripts import synth_transcripts_fast_pdf

    return synth_transcripts_fast_pdf(n_conversations=conversations, seed=seed)


def make_queries(seed: int, n: int, first_id: int, mix: dict) -> pd.DataFrame:
    """The bench.py query mix: lo..hi terms drawn uniformly from the first
    ``vocab_frac`` of the Zipfian vocabulary (so most queries hit).  Term
    counts cycle lo, lo+1, ..., hi instead of being drawn, so that a short
    run of queries has the same mix of lengths under every seed."""
    rng = np.random.default_rng([seed, first_id])
    vocab = [f"w{i:05d}" for i in range(int(mix["vocab_size"]))]
    pool = vocab[: int(len(vocab) * float(mix["vocab_frac"]))]
    lo, hi = mix["terms"]
    texts = [" ".join(rng.choice(pool, size=lo + i % (hi - lo + 1))) for i in range(n)]
    return pd.DataFrame({"query_id": np.arange(first_id, first_id + n, dtype=np.int64), "text": texts})


def split_conversations(pdf: pd.DataFrame, fracs: list[float]) -> list[pd.DataFrame]:
    """Consecutive slices of the corpus by conversation order, so that
    doc ids of base + deltas in order equal the union's (conv_id, turn_idx)
    ranks."""
    convs = np.sort(pdf["conv_id"].unique())
    cuts = np.cumsum([0.0] + fracs)
    out = []
    for lo, hi in zip(cuts[:-1], cuts[1:]):
        part = convs[int(round(lo * len(convs))): int(round(hi * len(convs)))]
        out.append(pdf[pdf["conv_id"].isin(part)].reset_index(drop=True))
    return out


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].fillna("").map(lambda s: len(s.encode("utf-8"))).sum())


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


class Workload:
    """Shared machinery: failure counting, kept results, builds, top-k calls."""

    name = ""

    def __init__(self, spark, tracer, spec: dict, seed: int, seconds: float, work: str):
        from ivfadc_spark.config import EngineConfig

        self.spark = spark
        self.tracer = tracer
        self.spec = spec
        self.wspec = spec["workloads"][self.name]
        self.seed = int(seed)
        self.seconds = float(seconds)
        self.work = work
        self.cfg = EngineConfig(**spec["engine_config"])
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # per top-k call: corpus slices, queries, segment paths, engine rows
        # (None if the call raised) and wall
        self.calls: list[dict] = []
        self.warm: list[dict] = []
        # (segment path, corpus slices, counted as a timed op) per build
        self.builds: list[tuple[str, list[pd.DataFrame], bool]] = []
        self.near_tie_swaps = 0

    # ---- operations -------------------------------------------------
    def attempt(self, label: str, fn):
        """Run one engine operation; a raise counts as a failed operation
        (the run goes on, so a broken Spark shows as failures, not as a
        rerun on another master).  Interrupts propagate."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — the op boundary must keep running
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None

    def frame(self, pdf: pd.DataFrame, schema: str):
        with self.tracer.span("client.frame"):
            return self.spark.createDataFrame(pdf, schema=schema)

    def build(self, pdf: pd.DataFrame, out: str):
        """``build_index`` over ``pdf``; returns (segment, wall seconds)."""
        from ivfadc_spark.plans.build_index import build_index

        tx = self.frame(pdf, SCHEMA)
        t0 = time.perf_counter()
        with self.tracer.span("plans.build_index.build_index"):
            seg = build_index(self.spark, tx, out, cfg=self.cfg)
        self.last_build = out
        return seg, time.perf_counter() - t0

    def topk(self, segment, queries: pd.DataFrame, corpus: list[pd.DataFrame], request: int):
        """One ``bm25_topk_indexed(...).collect()`` call, timed and kept."""
        from ivfadc_spark.operators.wand import bm25_topk_indexed

        def run():
            with self.tracer.span("client.topk_call", request=request):
                t0 = time.perf_counter()
                qdf = self.frame(queries, QUERY_SCHEMA)
                with self.tracer.span("operators.wand.bm25_topk_indexed"):
                    plan = bm25_topk_indexed(qdf, segment, k=TOP_K, cfg=self.cfg)
                with self.tracer.span("operators.wand.collect"):
                    rows = plan.collect()
                return rows, time.perf_counter() - t0

        got = self.attempt(f"topk[{request}]", run)
        rows, wall = got if got is not None else (None, float("nan"))
        paths = [m.path for m in getattr(segment, "segments", [segment])]
        self.calls.append(
            {"corpus": corpus, "queries": queries, "rows": rows, "wall": wall, "paths": paths}
        )
        return wall

    def blocks_per_result(self) -> float:
        """Posting blocks the timed calls' query terms own (what the indexed
        scan reads), per result row returned."""
        import pyarrow.parquet as pq

        n_blocks: dict[str, dict[str, int]] = {}
        probed = rows = 0
        for c in self.calls:
            if c["rows"] is None:
                continue
            per_term: dict[str, int] = {}
            for p in c["paths"]:
                if p not in n_blocks:
                    t = pq.read_table(os.path.join(p, "metrics"), columns=["term", "n_blocks"])
                    n_blocks[p] = dict(zip(t["term"].to_pylist(), t["n_blocks"].to_pylist()))
                for term, nb in n_blocks[p].items():
                    per_term[term] = per_term.get(term, 0) + nb
            for text in c["queries"]["text"]:
                probed += sum(per_term.get(t, 0) for t in set(re.split("[^a-z0-9]+", text.lower())))
            rows += len(c["rows"])
        return probed / max(1, rows)

    def warm_up(self, segment, queries: pd.DataFrame, corpus: list[pd.DataFrame]) -> None:
        """One untimed top-k call; set-up fails if it does."""
        self.topk(segment, queries, corpus, request=-1)
        call = self.calls.pop()
        self.attempted -= 1
        if call["rows"] is None:
            raise RuntimeError(f"warm-up query failed: {self.errors[-1]}")
        self.warm.append(call)  # verified with the rest

    # ---- verification -------------------------------------------------
    def verify(self) -> None:
        """Check every kept result against the oracle of its corpus.  A
        wrong set-up result (base build, warm-up) counts as one more
        attempted and failed operation."""
        oracles: dict[tuple, Oracle] = {}

        def oracle_for(parts: list[pd.DataFrame]) -> Oracle:
            key = tuple(id(p) for p in parts)
            if key not in oracles:
                oracles[key] = Oracle(pd.concat(parts, ignore_index=True))
            return oracles[key]

        def fail(counted: bool, why: str) -> None:
            self.failed += 1
            self.attempted += 0 if counted else 1
            self.errors.append(why)

        for path, parts, counted in self.builds:
            with open(os.path.join(path, "meta.json")) as f:
                meta = json.load(f)
            o = oracle_for(parts)
            rows = sum(len(p) for p in parts)
            if (
                int(meta["n_docs"]) != o.n_docs
                or int(meta["doc_space"]) != rows
                or abs(float(meta["avgdl"]) - o.avgdl) > 1e-9 * o.avgdl
            ):
                fail(counted, f"build {os.path.basename(os.path.dirname(path))}: n_docs/doc_space/avgdl "
                     f"{meta['n_docs']}/{meta['doc_space']}/{meta['avgdl']} != spec "
                     f"{o.n_docs}/{rows}/{o.avgdl}")
        kept = [("warm-up", c, False) for c in self.warm]
        kept += [(f"topk call {i}", c, True) for i, c in enumerate(self.calls)]
        for label, c, counted in kept:
            if c["rows"] is None:
                continue  # already counted as failed
            eng = pd.DataFrame(
                [tuple(r) for r in c["rows"]], columns=["query_id", "rank", "doc_id", "score"]
            )
            v = verify(oracle_for(c["corpus"]), c["queries"], eng)
            self.near_tie_swaps += v.near_tie_swaps
            if not v.ok:
                fail(counted, f"{label}: {v.failed_queries}/{v.queries} queries wrong; "
                     f"{v.first_failure}")
        for o in oracles.values():
            o.close()

    # ---- probes (traced run only) ---------------------------------------
    def probe_layers(self, seg_path: str, seg_paths: list[str], corpus: pd.DataFrame) -> dict:
        """Direct calls into single layers on this workload's data."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from ivfadc_spark.functions.codecs import varint_decode, varint_encode
        from ivfadc_spark.functions.tokenize import arrow_flat_tokens
        from ivfadc_spark.operators.postings import (
            block_metrics,
            build_blocks_inplace,
            decode_doc_stats,
        )
        from ivfadc_spark.operators.query import query_terms
        from ivfadc_spark.operators.segments import Segment, SegmentSet
        from ivfadc_spark.operators.stats import dictionary_from_metrics
        from ivfadc_spark.sources.transcripts import plan_doc_ids

        spark, cfg = self.spark, self.cfg
        out: dict = {}

        def clock(fn, reps: int = 1):
            """(median wall over ``reps`` calls, last result)."""
            walls = []
            for _ in range(reps):
                t0 = time.perf_counter()
                got = fn()
                walls.append(time.perf_counter() - t0)
            return statistics.median(walls), got

        def to_noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        tx = spark.createDataFrame(corpus, schema=SCHEMA).select(
            "conv_id", "turn_idx", "role", "text", "tool"
        )
        wall, (ids, counts) = clock(lambda: plan_doc_ids(tx, cfg.doc_shards))
        out["transcripts.plan_doc_ids_s"] = wall
        out["transcripts.bucket_skew"] = max(counts) / statistics.mean(counts)
        docs = ids.select("doc_id", "text")
        out["postings.encode_s"], _ = clock(lambda: to_noop(build_blocks_inplace(docs, cfg)))
        seg = Segment(spark, seg_path)
        out["postings.doc_stats_decode_s"], _ = clock(lambda: to_noop(decode_doc_stats(seg.raw_blocks)))
        out["stats.dict_s"], _ = clock(lambda: to_noop(
            dictionary_from_metrics(block_metrics(seg.raw_blocks), int(seg.meta["n_docs"]))
        ))

        text = pa.array(corpus["text"].tolist(), type=pa.string())
        wall, (flat, _) = clock(lambda: arrow_flat_tokens(text), 3)
        out["tokenize.tokens_per_s"] = len(flat) / wall

        # codecs on the segment's real posting streams (doc-id gaps + tfs)
        tbl = pq.read_table(os.path.join(seg_path, "blocks"), columns=["term", "doc_ids", "tfs", "block_id"])
        tbl = tbl.filter(pc.greater_equal(tbl["block_id"], 0))
        streams = b"".join(
            bytes(x) for col in ("doc_ids", "tfs") for x in tbl[col].to_pylist() if x
        )
        wall, vals = clock(lambda: varint_decode(streams), 3)
        out["codecs.decode_mb_per_s"] = len(streams) / 1e6 / wall
        wall, _ = clock(lambda: varint_encode(vals), 3)
        out["codecs.encode_mb_per_s"] = len(streams) / 1e6 / wall

        qpool = make_queries(self.seed, 3, 10_000_000, self.spec["query_mix"])
        dict_walls, qt_walls = [], []
        for text_q in qpool["text"]:
            terms = sorted(set(text_q.split()))
            t0 = time.perf_counter()
            Segment(spark, seg_path).dictionary.filter(F.col("term").isin(terms)).collect()
            dict_walls.append(time.perf_counter() - t0)
            qdf = spark.createDataFrame(pd.DataFrame({"query_id": [0], "text": [text_q]}), QUERY_SCHEMA)
            t0 = time.perf_counter()
            query_terms(qdf).collect()
            qt_walls.append(time.perf_counter() - t0)
        out["segments.dict_lookup_s"] = statistics.median(dict_walls)
        out["query.query_terms_s"] = statistics.median(qt_walls)

        wall, bc = clock(lambda: Segment(spark, seg_path).dl_broadcast)
        bc.unpersist()
        out["segments.dl_table_s"] = wall

        def federate():
            ss = SegmentSet(spark, seg_paths)
            ss.dictionary.count()
            return ss.dl_broadcast

        wall, bc = clock(federate)
        bc.unpersist()
        out["segments.federate_s"] = wall
        return out


class QueryPoint(Workload):
    """One client, closed loop, one query per ``bm25_topk_indexed`` call."""

    name = "query_point"

    def setup(self) -> None:
        from ivfadc_spark.operators.segments import Segment

        w = self.wspec
        self.corpus = make_corpus(self.seed, int(w["conversations"]))
        base = os.path.join(self.work, "base")
        with self.tracer.span("benchmark.setup_build"):
            _, self.build_s = self.build(self.corpus, base)
        self.seg_path = os.path.join(base, "segment")
        self.seg = Segment(self.spark, self.seg_path)
        self.builds.append((self.seg_path, [self.corpus], False))
        self.pool = make_queries(self.seed, int(w["query_pool"]), 0, self.spec["query_mix"])
        # the first call compiles the query plans' JVM code and starts the
        # scan's Python workers
        warm = make_queries(self.seed, int(w["warmup_queries"]), 9_000_000, self.spec["query_mix"])
        with self.tracer.span("benchmark.warmup"):
            for i in range(len(warm)):
                self.warm_up(self.seg, warm.iloc[[i]].reset_index(drop=True), [self.corpus])

    def timed(self) -> None:
        deadline = time.perf_counter() + self.seconds
        i = 0
        while i < int(self.wspec["min_queries"]) or time.perf_counter() < deadline:
            q = self.pool.iloc[[i % len(self.pool)]].reset_index(drop=True)
            self.topk(self.seg, q, [self.corpus], request=i)
            i += 1

    def metrics(self) -> dict:
        walls = [c["wall"] for c in self.calls if c["rows"] is not None]
        if not walls:
            raise RuntimeError(f"no timed query succeeded: {self.errors[:3]}")
        return {
            "op_p50_ms": statistics.median(walls) * 1e3,
            "query_qps": len(walls) / sum(walls),
            "index_bytes_per_text_byte": dir_bytes(self.seg_path) / text_bytes(self.corpus),
            "_detail": {
                "query_p50_ms": statistics.median(walls) * 1e3,
                "query_p90_ms": pct(walls, 90) * 1e3,
                "timed_queries": len(walls),
                "query_walls_ms": [w * 1e3 for w in walls],
                "setup_build_s": self.build_s,
                "setup_build_turns_per_s": len(self.corpus) / self.build_s,
            },
        }

    def probes(self) -> dict:
        return self.probe_layers(self.seg_path, [self.seg_path], self.corpus)


class IngestMerge(Workload):
    """Writes beside reads: delta builds, federated batches, then a merge."""

    name = "ingest_merge"

    def setup(self) -> None:
        from ivfadc_spark.operators.segments import Segment

        w = self.wspec
        self.corpus = make_corpus(self.seed, int(w["conversations"]))
        n_d = int(w["max_deltas"])
        parts = split_conversations(self.corpus, [float(w["base_frac"])] + [float(w["delta_frac"])] * n_d)
        self.base_pdf, self.delta_pdfs = parts[0], parts[1:]
        base = os.path.join(self.work, "base")
        with self.tracer.span("benchmark.setup_build"):
            _, self.build_s = self.build(self.base_pdf, base)
        self.base_path = os.path.join(base, "segment")
        self.builds.append((self.base_path, [self.base_pdf], False))
        warm = make_queries(self.seed, int(w["warmup_queries"]), 9_000_000, self.spec["query_mix"])
        with self.tracer.span("benchmark.warmup"):
            self.warm_up(Segment(self.spark, self.base_path), warm, [self.base_pdf])

    def timed(self) -> None:
        """Cycles of fixed work, repeated for --seconds (at least one, at
        most one per prepared delta): build the next delta, query base+delta
        federated, merge base+delta, query the merged segment."""
        deadline = time.perf_counter() + self.seconds
        self.cycles = []
        for j, dpdf in enumerate(self.delta_pdfs):
            if j and time.perf_counter() >= deadline:
                break
            t0 = time.perf_counter()
            walls = self.cycle(j, dpdf)
            if walls is None:
                break
            if not any(math.isnan(v) for v in walls.values()):  # a failed batch is NaN
                self.cycles.append({**walls, "cycle_s": time.perf_counter() - t0, "turns": len(dpdf)})

    def cycle(self, j: int, dpdf: pd.DataFrame) -> dict | None:
        from ivfadc_spark.operators.segments import SegmentSet, merge_segments

        w, mix = self.wspec, self.spec["query_mix"]
        out = os.path.join(self.work, f"delta{j}")
        got = self.attempt(f"build delta{j}", lambda: self.build(dpdf, out))
        if got is None:
            return None
        paths, parts = [self.base_path, os.path.join(out, "segment")], [self.base_pdf, dpdf]
        self.builds.append((paths[1], [dpdf], True))
        with self.tracer.span("operators.segments.SegmentSet"):
            ss = self.attempt("federate", lambda: SegmentSet(self.spark, paths))
        if ss is None:
            return None
        q = make_queries(self.seed, int(w["federated_batch"]), 1_000_000 * (j + 1), mix)
        fed_s = self.topk(ss, q, parts, request=2 * j)
        merged_path = os.path.join(self.work, f"merged{j}")
        t0 = time.perf_counter()
        with self.tracer.span("operators.segments.merge_segments"):
            merged = self.attempt(
                "merge", lambda: merge_segments(self.spark, paths, merged_path, cfg=self.cfg)
            )
        merge_s = time.perf_counter() - t0
        if merged is None:
            return None
        self.builds.append((merged_path, parts, True))
        self.merged_path, self.merged_parts, self.federated_paths = merged_path, parts, paths
        q = make_queries(self.seed, int(w["merged_batch"]), 1_000_000 * (j + 1) + 500_000, mix)
        merged_batch_s = self.topk(merged, q, parts, request=2 * j + 1)
        return {"build_s": got[1], "federated_batch_s": fed_s, "merge_s": merge_s,
                "merged_batch_s": merged_batch_s}

    def metrics(self) -> dict:
        ok = [c for c in self.calls if c["rows"] is not None]
        cyc = self.cycles
        if not cyc:
            raise RuntimeError(f"no ingest cycle succeeded: {self.errors[:3]}")
        n_q = sum(len(c["queries"]) for c in ok)
        t_q = sum(c["wall"] for c in ok)

        def med(k):
            return statistics.median(c[k] for c in cyc)

        return {
            "op_p50_ms": med("cycle_s") * 1e3,
            "query_qps": n_q / t_q,
            "index_bytes_per_text_byte": dir_bytes(self.merged_path)
            / sum(text_bytes(p) for p in self.merged_parts),
            "_detail": {
                "cycles": len(cyc),
                "cycle_s": [c["cycle_s"] for c in cyc],
                "delta_turns": cyc[0]["turns"],
                "delta_turns_per_s": statistics.median(c["turns"] / c["build_s"] for c in cyc),
                "federated_qps": int(self.wspec["federated_batch"]) / med("federated_batch_s"),
                "merge_s": med("merge_s"),
                "merged_batch_qps": int(self.wspec["merged_batch"]) / med("merged_batch_s"),
                "setup_build_s": self.build_s,
                "setup_build_turns_per_s": len(self.base_pdf) / self.build_s,
            },
        }

    def probes(self) -> dict:
        return self.probe_layers(self.federated_paths[1], self.federated_paths, self.merged_parts[1])


WORKLOADS = {w.name: w for w in (QueryPoint, IngestMerge)}
