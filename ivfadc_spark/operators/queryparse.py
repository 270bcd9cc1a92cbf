"""Unified query-string parser + search — the Lucene QueryParser analog.

One query string can mix every term form the engine supports::

    +spark -shuffle quer* tabl~1 /sc.n/ "sort merge" -"broadcast join"

Grammar (whitespace-separated clauses, quoted segments first):

- ``+c``       MUST      — doc must match the clause
- ``-c``       MUST_NOT  — doc must not match the clause
- bare         SHOULD    — matching raises the score
- ``"a b"``    phrase clause — exact adjacent occurrence (positions index)
- ``t*``       prefix expansion, ``t~``/``t~N`` fuzzy (Levenshtein <= N<=2),
  ``/re/``     whole-term-anchored regexp, else exact term

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
documented broker pattern); expansions are ONE broadcast nested-loop pass
over the dictionary; candidate postings come from a term-pruned blocks
decode (only expanded terms' blocks are read); filtering joins touch only
the candidate set. The reference has none of this (bag-of-cells OR
queries, /root/reference/SearchEngine.cpp:112-212).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ivfadc_spark.config import DEFAULT, EngineConfig

# op codes (strongest-first resolution matches bm25_topk_boolean)
NOT, MUST, SHOULD = 0, 1, 2

_PHRASE_RE = re.compile(r'([+-]?)"([^"]*)"')
_CLEAN = re.compile(r"[^a-z0-9]")


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
        sign = tok[0] if tok[0] in "+-" else ""
        body = tok[1:] if sign else tok
        if not body:
            continue
        if re.fullmatch(r"/.+/", body):
            clauses.append({"op": _op(sign), "kind": "regex", "p0": body[1:-1], "p1": 0})
            continue
        if re.search(r"\*[^a-z0-9]*$", body):
            stem = _CLEAN.sub("", body)
            if stem:
                clauses.append({"op": _op(sign), "kind": "prefix", "p0": stem, "p1": 0})
            continue
        m = re.search(r"~([0-9])?[^a-z0-9]*$", body)
        if m:
            stem = _CLEAN.sub("", re.sub(r"~[0-9]?[^a-z0-9]*$", "", body))
            if stem:
                dist = min(int(m.group(1) or 1), 2)
                clauses.append({"op": _op(sign), "kind": "fuzzy", "p0": stem, "p1": dist})
            continue
        stem = _CLEAN.sub("", body)
        if stem:
            clauses.append({"op": _op(sign), "kind": "exact", "p0": stem, "p1": 0})
    return clauses


def parse_queries(rows: list[tuple[int, str]]) -> list[tuple[int, int, int, str, str, int]]:
    """(query_id, clause_id, op, kind, p0, p1) rows for a query set —
    the flat clause table both the engine and the SQL oracle start from."""
    out = []
    for qid, text in rows:
        for cid, c in enumerate(parse_query(text)):
            out.append((int(qid), cid, c["op"], c["kind"], c["p0"], c["p1"]))
    return out


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
    clauses = spark.createDataFrame(
        clause_rows, "query_id long, clause_id int, op int, kind string, p0 string, p1 int"
    )
    d = segment.dictionary.select("term", "idf")

    # --- per-clause dictionary expansions (one broadcast NL pass; phrase
    # clauses expand to their constituent terms so membership AND scoring
    # can reuse the same frame)
    term_clauses = clauses.filter(F.col("kind") != "phrase")
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
    exp = d.join(F.broadcast(term_clauses), cond).select(
        "query_id", "clause_id", "op", "term", "idf"
    )

    # --- candidate postings: ONLY expanded terms' blocks are decoded
    # (phrase terms ride along for scoring)
    phrase_rows = [r for r in clause_rows if r[3] == "phrase"]
    pterms = [
        (qid, cid, op, t)
        for qid, cid, op, kind, p0, p1 in phrase_rows
        for t in p0.split()
    ]
    if pterms:
        pterm_df = spark.createDataFrame(
            pterms, "query_id long, clause_id int, op int, term string"
        ).join(F.broadcast(d), "term")
        # positive phrases contribute their terms to SCORING (op SHOULD);
        # membership is handled separately below
        exp_score_extra = (
            pterm_df.filter(F.col("op") != NOT)
            .select("query_id", F.lit(-1).alias("clause_id"), F.lit(SHOULD).alias("op"), "term", "idf")
        )
        exp_all = exp.unionByName(exp_score_extra)
    else:
        exp_all = exp
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

    # --- phrase membership (exact adjacency, the phrase_topk kernel)
    ph_have = None  # membership of MUST phrases only (SHOULD phrases
    ph_not = None   # score via their terms and never filter)
    if phrase_rows:
        from ivfadc_spark.operators.positions import phrase_topk

        for qid, cid, op, kind, p0, p1 in phrase_rows:
            if op == SHOULD:
                continue
            pq = spark.createDataFrame(
                [(int(qid), p0)], "query_id long, text string"
            )
            hits = phrase_topk(pq, segment, k=1 << 30, cfg=cfg).select(
                "query_id", "doc_id"
            )
            if op == NOT:
                ph_not = hits if ph_not is None else ph_not.unionByName(hits)
            else:
                h = hits.withColumn("clause_id", F.lit(int(cid)))
                ph_have = h if ph_have is None else ph_have.unionByName(h)

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
        [(int(q), n_must.get(q, 0), n_pmust.get(q, 0)) for q, _ in qrows],
        "query_id long, n_must long, n_pmust long",
    )

    out = scored.join(F.broadcast(need), "query_id")
    out = out.join(have_must, ["query_id", "doc_id"], "left").fillna(
        0, subset=["n_must_have"]
    )
    if ph_have is not None:
        pm = ph_have.groupBy("query_id", "doc_id").agg(
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
    if ph_not is not None:
        excl = excl.unionByName(ph_not.select("query_id", "doc_id")).distinct()
    out = out.join(excl, ["query_id", "doc_id"], "left_anti")

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        out.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )
