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
documented broker pattern); exact terms resolve on the driver, and the
multi-term clauses expand in ONE dictionary pass (:func:`expand_terms`,
pushed-down pre-filter when no clause is fuzzy or regex), collected with
the query; phrase membership is one
``phrase_topk`` call per batch, collected as sorted doc ids per clause.
Scoring and filtering are the shared block-pruned MaxScore scan of every
indexed top-k path (``wand._topk_scan_from_qt``): each query's task reads
its expanded terms' blocks, builds the query's keep-mask from its clauses
(live docs, every MUST satisfied, no MUST_NOT match) and scans the scoring
terms under it, so a filtered doc never enters the accumulator. The
reference has none of this: its queries are bag-of-cells ORs
(``SearchEngine.cpp:112-212``).
"""

from __future__ import annotations

import functools
import operator
import re

import numpy as np
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


def expand_terms(segment, clauses: list[tuple]) -> pd.DataFrame:
    """(query_id, clause_id, op, term, idf, term_bucket) rows on the driver:
    every dictionary term that each (query_id, clause_id, op, kind, p0, p1)
    exact / prefix / fuzzy / regex clause matches, as :func:`parse_queries`
    rows — the one multi-term expansion of the engine (Lucene's rewrite: a
    multi-term clause stands for ANY of its expansions).

    Exact clauses are looked up by ``segment.term_stats`` and
    :func:`segments.term_buckets` (no job). The multi-term clauses take ONE
    dictionary pass, one job: each dictionary row keeps the indexes of the
    clauses it matches, tested against the clauses as one literal array
    (no join, so no broadcast job). When every such clause is a prefix,
    the pass is pre-filtered by ``startswith(...)``, which pushes down to
    the dictionary parquet scan (StringStartsWith: row-group pruning on
    the term-sorted dictionary files); a fuzzy or regex clause has no such
    bound, so its pass reads the whole dictionary. Postings are never
    touched."""
    from ivfadc_spark.operators.segments import term_bucket_col, term_buckets

    rows = []
    exact = [c for c in clauses if c[3] == "exact"]
    if exact:
        stats = segment.term_stats([c[4] for c in exact])
        idf_of = dict(zip(stats["term"], stats["idf"]))
        bucket_of = term_buckets(segment, idf_of)
        rows += [(q, cid, op, t, idf_of[t], bucket_of[t]) for q, cid, op, _, t, _ in exact if t in idf_of]
    multi = [c for c in clauses if c[3] != "exact"]
    if multi:
        d = segment.dictionary
        if {c[3] for c in multi} == {"prefix"}:
            prefixes = sorted({c[4] for c in multi})
            d = d.filter(functools.reduce(operator.or_, [F.col("term").startswith(p) for p in prefixes]))
        lits = F.array(*[
            F.struct(F.lit(i).alias("i"), F.lit(kind).alias("kind"), F.lit(p0).alias("p0"),
                     F.lit(int(p1)).alias("p1"))
            for i, (_, _, _, kind, p0, p1) in enumerate(multi)
        ])
        term = F.col("term")

        def matches(c):
            return (
                ((c["kind"] == "prefix") & term.startswith(c["p0"]))
                | (
                    (c["kind"] == "fuzzy")
                    & (F.abs(F.length(term) - F.length(c["p0"])) <= c["p1"])
                    & (F.levenshtein(term, c["p0"]) <= c["p1"])
                )
                | ((c["kind"] == "regex") & F.regexp_like(term, F.concat(F.lit("^"), c["p0"], F.lit("$"))))
            )

        hits = F.transform(F.filter(lits, matches), lambda c: c["i"])
        found = (
            d.select("term", "idf", term_bucket_col(segment.term_buckets).alias("term_bucket"),
                     hits.alias("hits"))
            .filter(F.size("hits") > 0)
            .collect()
        )
        rows += [
            (multi[i][0], multi[i][1], multi[i][2], r["term"], r["idf"], r["term_bucket"])
            for r in found
            for i in r["hits"]
        ]
    return pd.DataFrame(rows, columns=["query_id", "clause_id", "op", "term", "idf", "term_bucket"])


def search_topk(
    queries: DataFrame,
    segment,
    k: int | None = None,
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Run parsed queries end-to-end through the shared MaxScore scan
    (:func:`wand._topk_scan_from_qt`): the clauses become each query's
    scoring terms and a :class:`wand.ClauseFilter`. See the module
    docstring for the exact semantics; tombstoned docs never surface."""
    from ivfadc_spark.operators.deletes import live_mask
    from ivfadc_spark.operators.wand import ClauseFilter, _no_results, _topk_scan_from_qt

    k = k or cfg.top_k
    spark = segment.spark
    clause_rows = parse_queries(
        [(r["query_id"], r["text"]) for r in queries.collect()]  # broker
    )
    # expansions of the term clauses, plus the constituent terms of
    # positive phrases as clause -1 / SHOULD: they score like any positive
    # term (phrase membership filters through the phrase doc ids below)
    term_rows = [r for r in clause_rows if r[3] != "phrase"] + [
        (qid, -1, SHOULD, "exact", t, 0)
        for qid, cid, op, kind, p0, p1 in clause_rows
        if kind == "phrase" and op != NOT
        for t in p0.split()
    ]
    if not term_rows:
        return _no_results(spark)
    exp = expand_terms(segment, term_rows)
    terms_of = {key: frozenset(g) for key, g in exp.groupby(["query_id", "clause_id"])["term"]}
    score_of = {q: frozenset(g) for q, g in exp[exp["op"] != NOT].groupby("query_id")["term"]}
    not_of = {q: frozenset(g) for q, g in exp[exp["op"] == NOT].groupby("query_id")["term"]}

    # a query runs when it has a scoring term and no MUST term clause with
    # an empty expansion (unmatchable: the query returns nothing)
    clauses_of: dict[int, list] = {}
    for r in clause_rows:
        clauses_of.setdefault(int(r[0]), []).append(r)
    clauses_of = {
        q: cs
        for q, cs in clauses_of.items()
        if q in score_of
        and all((q, c[1]) in terms_of for c in cs if c[2] == MUST and c[3] != "phrase")
    }

    # phrase membership (exact adjacency, the phrase_topk kernel): ONE call
    # over every MUST / MUST_NOT phrase of those queries, keyed by clause
    # index; SHOULD phrases score through their terms and never filter
    filt = [c for cs in clauses_of.values() for c in cs if c[3] == "phrase" and c[2] != SHOULD]
    docs_of = {}
    if filt:
        from ivfadc_spark.operators.positions import phrase_topk

        pq = spark.createDataFrame(
            pd.DataFrame({"query_id": range(len(filt)), "text": [c[4] for c in filt]}),
            schema="query_id long, text string",
        )
        hits = phrase_topk(pq, segment, k=1 << 30, cfg=cfg).select("query_id", "doc_id")
        by_index = {
            i: np.sort(g.to_numpy(np.int64))
            for i, g in hits.toPandas().groupby("query_id")["doc_id"]
        }
        none = np.empty(0, dtype=np.int64)
        docs_of = {(c[0], c[1]): by_index.get(i, none) for i, c in enumerate(filt)}

    def clause_docs(q, cs, op):
        return tuple(docs_of[(q, c[1])] for c in cs if c[3] == "phrase" and c[2] == op)

    filters = {
        q: ClauseFilter(
            score=score_of[q],
            must=tuple(terms_of[(q, c[1])] for c in cs if c[2] == MUST and c[3] != "phrase"),
            must_docs=clause_docs(q, cs, MUST),
            not_terms=not_of.get(q, frozenset()),
            not_docs=clause_docs(q, cs, NOT),
        )
        for q, cs in clauses_of.items()
    }
    qt = exp[exp["query_id"].isin(list(filters))].drop_duplicates(["query_id", "term"])
    avgdl = float(segment.meta["avgdl"])
    return _topk_scan_from_qt(
        segment, qt, k, float(cfg.k1), float(cfg.b), avgdl, live_mask(segment), filters
    )
