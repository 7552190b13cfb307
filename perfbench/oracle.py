"""Answer checks that share no code with the engine.

Expected answers come from DuckDB over the generator's own rows, using
the repository's BM25 oracle SQL (``__spark_entry__._bm25_sql`` and
``_bm25_prefix_sql``, imported unchanged) and its conventions: scores
rounded to 4 dp, doc_id tie-break, the oracle over-fetches k+50 rows so
that every contender at the k-th rounded score is visible.
"""

from __future__ import annotations

import duckdb

from __spark_entry__ import _bm25_prefix_sql, _bm25_sql
from corpus import Query, doc_id_of


class Oracle:
    def __init__(self, corpus, workdir: str, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"set threads = {int(threads)}")
        self.con.execute(f"set temp_directory = '{workdir}'")
        self.con.register("documents_src", corpus.oracle_frame())
        self.con.execute("create table documents as select * from documents_src")
        self.con.unregister("documents_src")
        self.n = corpus.n

    def close(self):
        self.con.close()

    def expected(self, q: Query, k: int) -> list[tuple[int, float]]:
        """[(doc_id, score_4dp)] in answer order, k+50 rows deep."""
        o = q.oracle
        if "prefix" in o:
            sql = _bm25_prefix_sql(*o["prefix"], k=k + 50)
        elif q.recency:
            # every qualifying doc, then the engine's recency order
            inner = _bm25_sql(**o, k=self.n)
            sql = (f"select q.doc_id, q.score from ({inner}) q "
                   f"join documents d using (doc_id) "
                   f"order by d.ts desc, q.doc_id asc limit {k + 50}")
        else:
            sql = _bm25_sql(**o, k=k + 50)
        return [(int(d), float(s)) for d, s in self.con.execute(sql).fetchall()]


def answer_rows(results: list[dict]) -> list[tuple[int, float]]:
    return [(doc_id_of(r["conv_id"], r["turn_idx"]), round(float(r["score"]), 4))
            for r in results]


def mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int,
             recency: bool) -> str | None:
    """None when ``got`` (the engine's top-k, raw-score order) is a correct
    top-k under the oracle's rounded order; otherwise a short reason.

    Rows strictly above the k-th rounded score must match the oracle
    exactly and in order; rows tied at the boundary score may be any of
    the oracle's docs at that score (raw-score order can pick different
    members of a tie that only rounding created)."""
    exp = want[:k]
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle has {len(exp)}"
    if recency:
        return None if got == exp else "recency order differs"
    if any(a[1] < b[1] for a, b in zip(got, got[1:])):
        return "scores increase down the list"
    by_score = {}
    for d, s in want:
        by_score.setdefault(s, set()).add(d)
    ranked = sorted(got, key=lambda r: (-r[1], r[0]))
    if [s for _d, s in ranked] != [s for _d, s in exp]:
        return "score list differs"
    if not exp:
        return None
    edge = exp[-1][1]
    if [r for r in ranked if r[1] > edge] != [r for r in exp if r[1] > edge]:
        return "docs above the boundary differ"
    edge_docs = [d for d, s in ranked if s == edge]
    if len(set(edge_docs)) != len(edge_docs) or not set(edge_docs) <= by_score[edge]:
        return "boundary docs not among the oracle's ties"
    return None


def live_violation(results: list[dict], allowed, recency: bool) -> str | None:
    """Invariants for an answer served while the index changes: keys were
    ingested, no key repeats, order holds."""
    keys = [doc_id_of(r["conv_id"], r["turn_idx"]) for r in results]
    if len(set(keys)) != len(keys):
        return "repeated key"
    if not all(allowed(d) for d in keys):
        return "key not ingested yet"
    col = "ts" if recency else "score"
    vals = [r[col] for r in results]
    if any(a < b for a, b in zip(vals, vals[1:])):
        return f"{col} increases down the list"
    return None
