"""Unified query-string parser + search — the Lucene QueryParser analog.

One query string can mix every term form the engine supports::

    +spark -shuffle quer* tabl~1 /sc.n/ "sort merge" -"broadcast join"

Grammar (whitespace-separated clauses, quoted segments first):

- ``+c``       MUST      — doc must match the clause
- ``-c``       MUST_NOT  — doc must not match the clause
- bare         SHOULD    — matching raises the score
- ``"a b"``    phrase clause — exact adjacent occurrence (positions index)
- ``t*``       prefix expansion, ``t~``/``t~N`` fuzzy (Levenshtein <= N<=2),
  ``/re/``     whole-term-anchored regexp, else exact term; one token is
  classified by :func:`parse_token` (regex > prefix > fuzzy > exact)

Semantics (each rule mirrors the standalone operators, which pin it with
their own oracles):

1. A multi-term clause (prefix/fuzzy/regex) matches a doc when ANY of its
   dictionary expansions occurs — Lucene's BooleanQuery rewrite.
2. Scoring = BM25 over the DISTINCT union of expansions of all positive
   (MUST + SHOULD) term clauses, plus the constituent terms of positive
   phrase clauses — a term never scores twice per query.
3. Every MUST clause must be satisfied; a MUST with an empty expansion
   (OOV exact, no dictionary match) can never be satisfied, so the query
   returns nothing (the conjunctive-path convention).
4. MUST_NOT excludes docs matching any expansion (or the phrase).
5. Phrase membership = at least one exact adjacent occurrence
   (:mod:`positions` twin rows, required only when phrases occur).

Scale shape: parsing is driver-side over the tiny query set (the
documented broker pattern); expansions are ONE dictionary pass
(:func:`expand_terms`, pushed-down pre-filter when no clause is fuzzy or
regex); candidate postings come from a term-pruned blocks decode (only
expanded terms' blocks are read); phrase membership is one
``phrase_topk`` call per batch; filtering joins touch only the candidate
set. The reference has none of this (bag-of-cells OR
queries, /root/reference/SearchEngine.cpp:112-212).
"""

from __future__ import annotations

import functools
import operator
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig

# op codes (strongest-first resolution matches bm25_topk_boolean)
NOT, MUST, SHOULD = 0, 1, 2

_PHRASE_RE = re.compile(r'([+-]?)"([^"]*)"')
_CLEAN = re.compile(r"[^a-z0-9]")


def parse_token(tok: str) -> dict | None:
    """Classify one lowercased whitespace token as a clause dict
    ``{"op", "kind", "p0", "p1"}`` (see :func:`parse_query`), or None for a
    bare sign. Precedence: ``/re/`` regex > ``t*`` prefix > ``t~N`` fuzzy >
    exact, so ``ab*~`` is a prefix. A marked token whose stem holds nothing
    alphanumeric keeps its kind with an empty ``p0``, which matches nothing.

    The one token grammar of the engine: :func:`parse_query` and the
    multi-term rewrites of :mod:`wand` both classify tokens with it."""
    sign = tok[:1] if tok[:1] in ("+", "-") else ""
    body = tok[len(sign):]
    if not body:
        return None
    op = MUST if sign == "+" else NOT if sign == "-" else SHOULD
    if re.fullmatch(r"/.+/", body):
        return {"op": op, "kind": "regex", "p0": body[1:-1], "p1": 0}
    if re.search(r"\*[^a-z0-9]*$", body):
        return {"op": op, "kind": "prefix", "p0": _CLEAN.sub("", body), "p1": 0}
    m = re.search(r"~([0-9])?[^a-z0-9]*$", body)
    if m:
        dist = min(int(m.group(1) or 1), 2)
        return {"op": op, "kind": "fuzzy", "p0": _CLEAN.sub("", body[: m.start()]), "p1": dist}
    return {"op": op, "kind": "exact", "p0": _CLEAN.sub("", body), "p1": 0}


def parse_query(text: str) -> list[dict]:
    """Parse one query string into clause dicts:
    ``{"op": 0|1|2, "kind": "exact|prefix|fuzzy|regex|phrase",
    "p0": payload, "p1": fuzzy distance or 0}``.

    Pure and deterministic; pinned by tests/test_queryparse.py. Phrase
    payloads are the space-joined cleaned terms; empty clauses (nothing
    alphanumeric) are dropped.
    """
    text = (text or "").lower()
    clauses: list[dict] = []

    def _op(sign: str) -> int:
        return MUST if sign == "+" else NOT if sign == "-" else SHOULD

    def _phrase(m: re.Match) -> str:
        terms = [t for t in _CLEAN.sub(" ", m.group(2)).split() if t]
        if len(terms) == 1:  # a one-word "phrase" is just a term
            clauses.append({"op": _op(m.group(1)), "kind": "exact", "p0": terms[0], "p1": 0})
        elif terms:
            clauses.append({"op": _op(m.group(1)), "kind": "phrase", "p0": " ".join(terms), "p1": 0})
        return " "

    rest = _PHRASE_RE.sub(_phrase, text)
    for tok in rest.split():
        c = parse_token(tok)
        if c and c["p0"]:
            clauses.append(c)
    return clauses


def parse_queries(rows: list[tuple[int, str]]) -> list[tuple[int, int, int, str, str, int]]:
    """(query_id, clause_id, op, kind, p0, p1) rows for a query set —
    the flat clause table both the engine and the SQL oracle start from."""
    out = []
    for qid, text in rows:
        for cid, c in enumerate(parse_query(text)):
            out.append((int(qid), cid, c["op"], c["kind"], c["p0"], c["p1"]))
    return out


def expand_terms(segment, clauses: list[tuple]) -> DataFrame:
    """(query_id, clause_id, op, term, idf, term_bucket): every dictionary
    term that each (query_id, clause_id, op, kind, p0, p1) exact / prefix /
    fuzzy / regex clause matches, as :func:`parse_queries` rows — the one
    multi-term expansion of the engine (Lucene's rewrite: a multi-term
    clause stands for ANY of its expansions).

    ONE dictionary pass against the broadcast clause rows. When every clause
    is exact or prefix, the pass is pre-filtered by ``term IN (...) OR
    startswith(...)``, which pushes down to the dictionary parquet scan
    (In / StringStartsWith: row-group pruning on the term-sorted
    dictionary); a fuzzy or regex clause has no such bound, so its pass
    reads the whole dictionary. Postings are never touched."""
    from ivfadc_spark.operators.segments import term_bucket_col

    d = segment.dictionary
    if {c[3] for c in clauses} <= {"exact", "prefix"}:
        exact = sorted({c[4] for c in clauses if c[3] == "exact"})
        prefixes = sorted({c[4] for c in clauses if c[3] == "prefix"})
        preds = [F.col("term").isin(exact)] if exact else []
        preds += [F.col("term").startswith(p) for p in prefixes]
        d = d.filter(functools.reduce(operator.or_, preds, F.lit(False)))
    # a pandas frame goes to the JVM through Arrow in one partition; a list
    # of tuples would run Python worker tasks to unpickle its rows
    cl = segment.spark.createDataFrame(
        pd.DataFrame(list(clauses), columns=["query_id", "clause_id", "op", "kind", "p0", "p1"]),
        schema="query_id long, clause_id int, op int, kind string, p0 string, p1 int",
    )
    cond = (
        ((F.col("kind") == "exact") & (F.col("term") == F.col("p0")))
        | ((F.col("kind") == "prefix") & F.col("term").startswith(F.col("p0")))
        | (
            (F.col("kind") == "fuzzy")
            & (F.abs(F.length("term") - F.length("p0")) <= F.col("p1"))
            & (F.levenshtein(F.col("term"), F.col("p0")) <= F.col("p1"))
        )
        | (
            (F.col("kind") == "regex")
            & F.regexp_like(
                F.col("term"), F.concat(F.lit("^"), F.col("p0"), F.lit("$"))
            )
        )
    )
    return d.join(F.broadcast(cl), cond).select(
        "query_id", "clause_id", "op", "term", "idf",
        term_bucket_col(segment.term_buckets).alias("term_bucket"),
    )


def search_topk(
    queries: DataFrame,
    segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Run parsed queries end-to-end: expansions -> candidate decode ->
    must/not/phrase filtering -> BM25 top-k. See the module docstring for
    the exact semantics."""
    from pyspark.sql.window import Window

    from ivfadc_spark.operators.postings import decode_blocks
    from ivfadc_spark.operators.query import bm25_partial_score

    k = k or cfg.top_k
    spark = segment.spark
    qrows = [(r["query_id"], r["text"]) for r in queries.collect()]  # broker
    clause_rows = parse_queries(qrows)
    if not clause_rows:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double"
        )

    # --- expansions of the term clauses, plus the constituent terms of
    # positive phrases as clause -1 / SHOULD: they score like any positive
    # term (phrase membership is filtered separately below)
    phrase_rows = [r for r in clause_rows if r[3] == "phrase"]
    exp_all = expand_terms(
        segment,
        [r for r in clause_rows if r[3] != "phrase"]
        + [
            (qid, -1, SHOULD, "exact", t, 0)
            for qid, cid, op, kind, p0, p1 in phrase_rows
            if op != NOT
            for t in p0.split()
        ],
    ).select("query_id", "clause_id", "op", "term", "idf")
    exp = exp_all.filter(F.col("clause_id") >= 0)

    # --- candidate postings: ONLY expanded terms' blocks are decoded
    probe_terms = exp_all.select("term").distinct()
    tf = (
        decode_blocks(
            segment.blocks.join(F.broadcast(probe_terms), "term", "leftsemi")
        )
        .select("term", "doc_id", "tf")
    )

    # --- scoring: distinct positive terms per query (a term scores once)
    score_terms = (
        exp_all.filter(F.col("op") != NOT)
        .select("query_id", "term", "idf")
        .distinct()
    )
    avgdl = float(segment.meta["avgdl"])
    cand = (
        tf.join(F.broadcast(score_terms), "term")
        .join(segment.doc_lengths, "doc_id")
        .withColumn("avgdl", F.lit(avgdl))
    )
    scored = (
        cand.withColumn("partial", bm25_partial_score(cfg))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("partial").alias("score"))
    )

    # --- MUST satisfaction over term clauses: a doc satisfies clause c
    # when it matches ANY expansion of c; count distinct satisfied musts
    must_exp = exp.filter(F.col("op") == MUST).select("query_id", "clause_id", "term")
    have_must = (
        tf.join(F.broadcast(must_exp), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("clause_id").alias("n_must_have"))
    )

    # --- phrase membership (exact adjacency, the phrase_topk kernel): ONE
    # call over every MUST / MUST_NOT phrase of the batch, keyed by clause
    # index; SHOULD phrases score via their terms and never filter
    filt = [r for r in phrase_rows if r[2] != SHOULD]
    if filt:
        from ivfadc_spark.operators.positions import phrase_topk

        pq = spark.createDataFrame(
            pd.DataFrame({"query_id": range(len(filt)), "text": [r[4] for r in filt]}),
            schema="query_id long, text string",
        )
        # clause index -> (query_id, clause_id, op): a literal map, no join
        clause_of = F.create_map(*[
            x
            for i, (qid, cid, op, *_) in enumerate(filt)
            for x in (
                F.lit(i),
                F.struct(
                    F.lit(int(qid)).cast("long").alias("query_id"),
                    F.lit(cid).alias("clause_id"),
                    F.lit(op).alias("op"),
                ),
            )
        ])
        ph_hits = phrase_topk(pq, segment, k=1 << 30, cfg=cfg).select(
            "doc_id", clause_of[F.col("query_id").cast("int")].alias("c")
        ).select("c.*", "doc_id")

    # must totals per query: EVERY must clause counts, even ones with an
    # empty expansion (unmatchable -> the query returns nothing)
    n_must = {}
    n_pmust = {}
    for qid, cid, op, kind, p0, p1 in clause_rows:
        if op == MUST:
            if kind == "phrase":
                n_pmust[qid] = n_pmust.get(qid, 0) + 1
            else:
                n_must[qid] = n_must.get(qid, 0) + 1
    need = spark.createDataFrame(
        pd.DataFrame({
            "query_id": [int(q) for q, _ in qrows],
            "n_must": [n_must.get(q, 0) for q, _ in qrows],
            "n_pmust": [n_pmust.get(q, 0) for q, _ in qrows],
        }),
        "query_id long, n_must long, n_pmust long",
    )

    out = scored.join(F.broadcast(need), "query_id")
    out = out.join(have_must, ["query_id", "doc_id"], "left").fillna(
        0, subset=["n_must_have"]
    )
    if n_pmust:
        pm = ph_hits.filter(F.col("op") == MUST).groupBy("query_id", "doc_id").agg(
            F.countDistinct("clause_id").alias("n_pmust_have")
        )
        out = out.join(pm, ["query_id", "doc_id"], "left").fillna(
            0, subset=["n_pmust_have"]
        )
    else:
        out = out.withColumn("n_pmust_have", F.lit(0))
    out = out.filter(
        (F.col("n_must_have") == F.col("n_must"))
        & (F.col("n_pmust_have") == F.col("n_pmust"))
    )

    # --- exclusions: any NOT term expansion or NOT phrase occurrence
    not_exp = exp.filter(F.col("op") == NOT).select("query_id", "term")
    excl = tf.join(F.broadcast(not_exp), "term").select("query_id", "doc_id").distinct()
    if any(r[2] == NOT for r in filt):
        ph_not = ph_hits.filter(F.col("op") == NOT).select("query_id", "doc_id")
        excl = excl.unionByName(ph_not).distinct()
    out = out.join(excl, ["query_id", "doc_id"], "left_anti")

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        out.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
