"""BM25 specification oracle (DuckDB) and the result checker.

The oracle restates the specification, not the engine:

- tokens: lower-case, split on runs of ``[^a-z0-9]``, empties dropped;
- ``doc_id`` = the document's 0-based rank in ``(conv_id, turn_idx)`` order
  over the corpus queried (for a federated or merged corpus, the union);
- ``N`` = documents with at least one token, ``avgdl`` = tokens / N;
- ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)``;
- score = sum over distinct query terms of
  ``idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))``,
  with k1 = 1.2 and b = 0.75;
- top-k by score descending, ties by ``doc_id`` ascending.

Scores are compared with a relative tolerance of 1e-9.  When the engine and
the oracle disagree on a rank only between documents whose oracle scores
differ by less than that tolerance, the position is a near-tie swap: counted,
not failed (the engine's float sums depend on summation order).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pandas as pd

K1, B, TOP_K = 1.2, 0.75, 10
REL_TOL = 1e-9


class Oracle:
    """Spec BM25 over one corpus: ``corpus`` has conv_id, turn_idx, text."""

    def __init__(self, corpus: pd.DataFrame, k1: float = K1, b: float = B):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        if os.environ.get("TMPDIR"):  # spill beside the run's other scratch files
            self.con.execute(f"SET temp_directory = '{os.path.join(os.environ['TMPDIR'], 'duckdb')}'")
        self.con.register("corpus_in", corpus[["conv_id", "turn_idx", "text"]])
        self.con.execute(
            """
            CREATE TABLE toks AS
            WITH docs AS (
              SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS doc_id, text
              FROM corpus_in)
            SELECT doc_id, t AS term FROM (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+')) AS t
              FROM docs) WHERE t <> ''
            """
        )
        self.con.unregister("corpus_in")
        self.con.execute("CREATE TABLE tf AS SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY ALL")
        self.con.execute("CREATE TABLE dl AS SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id")
        self.n_docs, tokens = self.con.execute("SELECT count(*), sum(dl) FROM dl").fetchone()
        self.n_docs = int(self.n_docs)
        self.avgdl = float(tokens) / self.n_docs if self.n_docs else 0.0
        self.con.execute(
            f"""CREATE TABLE idf AS SELECT term,
                ln(({self.n_docs}.0 - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
                FROM tf GROUP BY term"""
        )
        self.con.execute("DROP TABLE toks")
        self.k1, self.b = float(k1), float(b)

    def score(self, queries: pd.DataFrame, k: int = TOP_K) -> pd.DataFrame:
        """Oracle top-k and every matching doc's score for (query_id, text)."""
        con = self.con
        con.register("q_in", queries[["query_id", "text"]])
        con.execute(
            """CREATE OR REPLACE TEMP TABLE qterms AS
               SELECT DISTINCT query_id, t AS term FROM (
                 SELECT query_id,
                        unnest(regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+')) AS t
                 FROM q_in) WHERE t <> ''"""
        )
        con.unregister("q_in")
        k1, b, avgdl = self.k1, self.b, self.avgdl
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE scores AS
                SELECT q.query_id, tf.doc_id,
                       sum(idf.idf * tf.tf * ({k1} + 1.0)
                           / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / {avgdl!r}))) AS score
                FROM qterms q JOIN tf USING (term) JOIN idf USING (term)
                     JOIN dl USING (doc_id)
                GROUP BY ALL"""
        )
        top = con.execute(
            f"""SELECT query_id, doc_id, score FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY score DESC, doc_id) AS rk
                  FROM scores) WHERE rk <= {int(k)} ORDER BY query_id, rk"""
        ).df()
        return top

    def lookup(self, pairs: pd.DataFrame) -> pd.DataFrame:
        """Oracle score of each given (query_id, doc_id) in the last
        :meth:`score` call; pairs that do not match the query get NaN."""
        self.con.register("pairs_in", pairs[["query_id", "doc_id"]])
        out = self.con.execute(
            """SELECT p.query_id, p.doc_id, s.score FROM pairs_in p
               LEFT JOIN scores s USING (query_id, doc_id)"""
        ).df()
        self.con.unregister("pairs_in")
        return out

    def close(self) -> None:
        self.con.close()


@dataclass
class Verdict:
    queries: int = 0
    failed_queries: int = 0
    near_tie_swaps: int = 0
    first_failure: str = ""

    @property
    def ok(self) -> bool:
        return self.failed_queries == 0


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b))


def check(engine: pd.DataFrame, expected_top: pd.DataFrame, engine_doc_scores: pd.DataFrame,
          query_ids) -> Verdict:
    """Compare engine rows (query_id, rank, doc_id, score) with the oracle.

    ``engine_doc_scores`` holds the oracle score (NaN if the doc does not
    match) of every (query_id, doc_id) the engine returned.  Each query
    fails on: wrong row count, ranks not 1..n, an engine score that is not
    the oracle's score for that doc, or a doc at a rank whose oracle score
    differs from the oracle's doc at that rank beyond the near-tie
    tolerance.  Differing docs whose oracle scores agree within it count
    as near-tie swaps."""
    v = Verdict()
    eng = {q: g.sort_values("rank") for q, g in engine.groupby("query_id", sort=False)}
    exp = {q: g for q, g in expected_top.groupby("query_id", sort=False)}
    osc = {(int(r.query_id), int(r.doc_id)): r.score for r in engine_doc_scores.itertuples()}
    for qid in query_ids:
        qid = int(qid)
        v.queries += 1
        e = eng.get(qid)
        x = exp.get(qid)
        n_e = 0 if e is None else len(e)
        n_x = 0 if x is None else len(x)
        why = ""
        swaps = 0
        if n_e != n_x:
            why = f"query {qid}: engine returned {n_e} rows, spec {n_x}"
        elif n_e:
            if list(e["rank"]) != list(range(1, n_e + 1)):
                why = f"query {qid}: ranks {list(e['rank'])}"
            for (ed, es), (xd, xs) in zip(
                zip(e["doc_id"].astype(int), e["score"]), zip(x["doc_id"].astype(int), x["score"])
            ):
                if why:
                    break
                true_e = osc.get((qid, ed), float("nan"))
                if true_e != true_e:
                    why = f"query {qid}: doc {ed} does not match the query"
                elif not _close(es, true_e):
                    why = f"query {qid}: doc {ed} scored {es!r}, spec {true_e!r}"
                elif ed != xd:
                    if _close(true_e, xs):
                        swaps += 1
                    else:
                        why = f"query {qid}: doc {ed} ({true_e!r}) where spec has {xd} ({xs!r})"
        if why:
            v.failed_queries += 1
            v.first_failure = v.first_failure or why
        else:
            v.near_tie_swaps += swaps
    return v


def verify(oracle: Oracle, queries: pd.DataFrame, engine: pd.DataFrame, k: int = TOP_K) -> Verdict:
    """Score ``queries`` with the oracle and check ``engine`` against it."""
    top = oracle.score(queries, k)
    pairs = engine[["query_id", "doc_id"]].drop_duplicates()
    doc_scores = oracle.lookup(pairs) if len(pairs) else pairs.assign(score=[])
    return check(engine, top, doc_scores, queries["query_id"])
