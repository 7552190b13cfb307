"""Seeded workload generator: transcripts corpus, query mix, ingest batches.

Everything here is a pure function of the seed. The engine only ever
sees the parquet files written from these tables; the query strings and
the oracle inputs come from the same arrays, so the oracle never reads
anything the engine produced.

Vocabulary: a heavy head of ten function words (about 40% of tokens)
plus a Zipfian long tail ``w1 .. w30000`` (exponent 1.1). Text is
lowercase ASCII joined by single spaces, so DuckDB's
``string_split(text, ' ')`` tokenizes exactly like the engine's FTS5
tokenizer.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

HEAD = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
HEAD_W = np.array([10, 7, 6, 5, 5, 4, 3, 3, 2, 2], dtype=float)
HEAD_SHARE = 0.4
N_TAIL = 30000
ZIPF_S = 1.1
TURNS_PER_CONV = 8
TS0 = 1_700_000_000
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "bash", "browser", "calc"], dtype=object)
PREFIX_STEM = "w12"
CLASSES = ("rare", "head", "positional", "boolean")

VOCAB = np.array(HEAD + [f"w{r}" for r in range(1, N_TAIL + 1)], dtype=object)
_TAIL_P = 1.0 / np.arange(1, N_TAIL + 1) ** ZIPF_S
_TAIL_P /= _TAIL_P.sum()


@dataclass
class Corpus:
    """Turns ``first_id .. first_id + n - 1``; row id == oracle doc_id."""

    ids: np.ndarray
    role: np.ndarray
    tool: np.ndarray
    text: list
    term_ids: np.ndarray  # every token, concatenated
    offsets: np.ndarray  # doc i's tokens are term_ids[offsets[i]:offsets[i+1]]

    @property
    def n(self) -> int:
        return len(self.ids)

    def tokens(self, i: int) -> np.ndarray:
        return self.term_ids[self.offsets[i]: self.offsets[i + 1]]

    def slice(self, lo: int, hi: int) -> "Corpus":
        a, b = self.offsets[lo], self.offsets[hi]
        return Corpus(
            self.ids[lo:hi], self.role[lo:hi], self.tool[lo:hi], self.text[lo:hi],
            self.term_ids[a:b], self.offsets[lo: hi + 1] - a,
        )

    def term_turn_pairs(self) -> np.ndarray:
        """Distinct (turn, term) pairs, encoded ``turn * len(VOCAB) + term``."""
        doc_of = np.repeat(np.arange(self.n, dtype=np.int64), np.diff(self.offsets))
        return np.unique(doc_of * len(VOCAB) + self.term_ids)

    def stats(self) -> dict:
        """Corpus shape recorded with every result."""
        pairs = self.term_turn_pairs()
        return {
            "turns": int(self.n),
            "tokens": int(len(self.term_ids)),
            "distinct_terms": int(len(np.unique(self.term_ids))),
            "head_term_share": round(float(np.mean(self.term_ids < len(HEAD))), 4),
            "text_bytes": int(sum(len(t) for t in self.text)),
            "distinct_term_turn_pairs": int(len(pairs)),
        }

    def to_arrow(self):
        import pyarrow as pa

        conv = self.ids // TURNS_PER_CONV
        return pa.table(
            {
                "conv_id": pa.array([f"c{c:07d}" for c in conv], pa.string()),
                "turn_idx": pa.array(self.ids % TURNS_PER_CONV, pa.int32()),
                "role": pa.array(list(self.role), pa.string()),
                "text": pa.array(self.text, pa.string()),
                "tool": pa.array(list(self.tool), pa.string()),
                "ts": pa.array((TS0 + self.ids * 7) * 1_000_000, pa.timestamp("us", tz="UTC")),
            }
        )

    def oracle_frame(self):
        """The DuckDB ``documents`` table: doc_id orders exactly like the
        engine's (conv_id, turn_idx) key tie-break."""
        import pandas as pd

        return pd.DataFrame(
            {"doc_id": self.ids, "text": self.text, "role": self.role,
             "ts": TS0 + self.ids * 7}
        )

    def write_parquet(self, path: str):
        import pyarrow.parquet as pq

        pq.write_table(self.to_arrow(), path)


def doc_id_of(conv_id: str, turn_idx: int) -> int:
    return int(conv_id[1:]) * TURNS_PER_CONV + int(turn_idx)


def make_corpus(seed: int, n: int, first_id: int = 0) -> Corpus:
    rng = np.random.default_rng([seed, first_id, n])
    lens = rng.integers(4, 41, n)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    total = int(offsets[-1])
    is_head = rng.random(total) < HEAD_SHARE
    head = rng.choice(len(HEAD), size=total, p=HEAD_W / HEAD_W.sum())
    tail = len(HEAD) + rng.choice(N_TAIL, size=total, p=_TAIL_P)
    term_ids = np.where(is_head, head, tail).astype(np.int64)
    words = VOCAB[term_ids]
    text = [" ".join(words[offsets[i]: offsets[i + 1]]) for i in range(n)]
    role = ROLES[rng.integers(0, len(ROLES), n)]
    tool = np.where(rng.random(n) < 0.2, TOOLS[rng.integers(0, len(TOOLS), n)], None)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return Corpus(ids, role, tool, text, term_ids, offsets)


@dataclass
class Query:
    """One query of the mix: the HTTP parameters the client sends and the
    structured description the oracle turns into SQL."""

    cls: str
    name: str
    params: dict
    oracle: dict = field(default_factory=dict)

    @property
    def recency(self) -> bool:
        return self.params.get("order") == "recency"


def make_mix(seed: int, corpus: Corpus) -> list[Query]:
    """Three templates per class, ordered so that every four consecutive
    queries cover all four classes. Terms are drawn by document
    frequency band from the corpus itself, so every seed gets queries
    of the same cost shape and no query is empty."""
    rng = np.random.default_rng([seed, 7])
    df = np.bincount(corpus.term_turn_pairs() % len(VOCAB), minlength=len(VOCAB))
    w = lambda t: str(VOCAB[t])  # noqa: E731

    def band(lo, hi):
        ids = np.nonzero((df >= lo) & (df <= hi))[0]
        return ids[ids >= len(HEAD)]

    def pick(ids):
        return int(ids[rng.integers(0, len(ids))])

    rare, mid = band(3, 30), band(max(40, corpus.n // 400), max(400, corpus.n // 40))

    def doc_with(min_len):
        while True:
            toks = corpus.tokens(int(rng.integers(0, corpus.n)))
            if len(toks) >= min_len:
                return toks

    def tail_set(toks, k):
        tails = [t for t in dict.fromkeys(toks.tolist()) if t >= len(HEAD)]
        return [w(t) for t in rng.permutation(tails)[:k]] if len(tails) >= k else None

    def co_tail(k):
        while True:
            got = tail_set(doc_with(k), k)
            if got:
                return got

    def window(k, need_tail):
        toks = doc_with(k + 1)
        s = int(rng.integers(0, len(toks) - k + 1))
        seg = toks[s: s + k]
        if need_tail and not (seg >= len(HEAD)).any():
            return window(k, need_tail)
        return [w(t) for t in seg]

    h1, h2 = HEAD[0], HEAD[1 + int(rng.integers(0, 2))]
    r1, m1, m2, m3 = w(pick(rare)), w(pick(mid)), w(pick(mid)), w(pick(mid))
    a2, a3 = co_tail(2), co_tail(3)
    p2, p3 = window(2, True), window(3, True)
    nr = co_tail(2)
    ta, tb, tc = w(pick(mid)), w(pick(mid)), HEAD[2]
    fts5 = {"fts5": "1"}
    out = {
        "rare": [
            Query("rare", "single", {"q": r1}, dict(terms=[r1], and_terms=[r1])),
            Query("rare", "and2", {"q": " ".join(a2)}, dict(terms=a2, and_terms=a2)),
            Query("rare", "and3", {"q": " ".join(a3)}, dict(terms=a3, and_terms=a3)),
        ],
        "head": [
            Query("head", "single", {"q": h1}, dict(terms=[h1], and_terms=[h1])),
            Query("head", "and", {"q": f"{h1} {m1}"}, dict(terms=[h1, m1], and_terms=[h1, m1])),
            Query("head", "and_not", {"q": f"{h2} {m2} !{h1}"},
                  dict(terms=[h2, m2], and_terms=[h2, m2], not_terms=[h1])),
        ],
        "positional": [
            Query("positional", "phrase2", {"q": '"' + " ".join(p2) + '"'},
                  dict(terms=p2, and_terms=p2, phrase=p2)),
            Query("positional", "phrase3", {"q": '"' + " ".join(p3) + '"'},
                  dict(terms=p3, and_terms=p3, phrase=p3)),
            Query("positional", "near", {"q": f"NEAR({nr[0]} {nr[1]}, 5)", **fts5},
                  dict(terms=nr, and_terms=nr, near=(nr, 5))),
        ],
        "boolean": [
            Query("boolean", "or_not_tree", {"q": f"{ta} OR ({tb} NOT {tc})", **fts5},
                  dict(terms=[ta, tb], bool_where=(
                      f"s.doc_id in (select doc_id from tok where term = '{ta}') "
                      f"or (s.doc_id in (select doc_id from tok where term = '{tb}') "
                      f"and s.doc_id not in (select doc_id from tok where term = '{tc}'))"))),
            Query("boolean", "prefix", {"q": f"{PREFIX_STEM}* {m3}", **fts5},
                  dict(prefix=(PREFIX_STEM, m3))),
            Query("boolean", "role_recency", {"q": m1, "role": "user", "order": "recency"},
                  dict(terms=[m1], and_terms=[m1], doc_filter="d.role = 'user'")),
        ],
    }
    return [out[c][i] for i in range(3) for c in CLASSES]


@dataclass
class IngestPlan:
    base: Corpus
    batches: list  # [(new Corpus, redelivered Corpus)]

    @property
    def planted(self) -> int:
        return sum(d.n for _new, d in self.batches)


def make_ingest(seed: int, n_base: int, n_batches: int, batch: int,
                redeliver_share: float) -> IngestPlan:
    """Base corpus plus micro-batches of fresh turns. Batch i re-delivers
    exactly ``redeliver_share`` of batch i-1's rows (the base for i=0):
    at-least-once delivery, which the ingest must drop."""
    full = make_corpus(seed, n_base + n_batches * batch)
    base = full.slice(0, n_base)
    rng = np.random.default_rng([seed, 11])
    batches, prev = [], base
    k = int(round(batch * redeliver_share))
    for i in range(n_batches):
        lo = n_base + i * batch
        new = full.slice(lo, lo + batch)
        pick = np.sort(rng.choice(prev.n, size=k, replace=False))
        dup = _take(prev, pick)
        batches.append((new, dup))
        prev = new
    return IngestPlan(base, batches)


def _take(c: Corpus, rows: np.ndarray) -> Corpus:
    parts = [c.tokens(int(i)) for i in rows]
    lens = np.array([len(p) for p in parts], dtype=np.int64)
    return Corpus(
        c.ids[rows], c.role[rows], c.tool[rows], [c.text[int(i)] for i in rows],
        np.concatenate(parts) if parts else np.zeros(0, np.int64),
        np.concatenate([[0], np.cumsum(lens)]),
    )


def concat(parts: list) -> Corpus:
    offs, acc = [np.zeros(1, np.int64)], 0
    for p in parts:
        offs.append(p.offsets[1:] + acc)
        acc += p.offsets[-1]
    return Corpus(
        np.concatenate([p.ids for p in parts]),
        np.concatenate([p.role for p in parts]),
        np.concatenate([p.tool for p in parts]),
        [t for p in parts for t in p.text],
        np.concatenate([p.term_ids for p in parts]),
        np.concatenate(offs),
    )
