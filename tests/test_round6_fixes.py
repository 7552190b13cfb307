"""Round-6 optimization pins.

The optimizations are performance-only; these tests pin the invariants
they rely on:

1. The Arrow-native tokenize fast path emits partial blocks that decode
   to the same postings as the per-row Python tokenizer (including null
   / empty / whitespace / dirty-row edge cases), and a salted build
   decodes to exactly a per-document pure-Python reference.
2. ``encode_grouped_records_offsets`` (the shared-buffer positions
   encoder) slices exactly like the per-group ``bytes`` encoder.
3. The one slice-local evaluator answers the flat query families
   (AND, NOT, NOT group, phrase, OR with a phrase alternative, doc
   filter, recency order) exactly like a naive pandas BM25 oracle on an
   index with heavy-hitter salting, and forced pruning returns exactly
   the exhaustive result. NEAR and anchors are pinned by the live-FTS5
   differentials (test_near.py, test_fts5_tree.py).
"""

import math
import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

from aspublic_spark.functions.tokenizer import tokenize
from aspublic_spark.index import codec
from aspublic_spark.index.build import IndexBuilder, _tokenize_partials_arrow_factory
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.query.parser import parse_websearch
from aspublic_spark.tables import synth_transcripts


def _collect_postings(factory, batch, store_positions):
    """Decode every partial block a tokenizer factory emits into
    per-posting tuples; also checks each block's doc bounds."""
    rows = []
    for rb in factory([batch]):
        for r in rb.to_pylist():
            docs, tfs, dls, *pos = codec.unpack_block(r, store_positions)
            assert (r["min_doc"], r["max_doc"]) == (docs[0], docs[-1])
            assert (docs[1:] > docs[:-1]).all()
            for i in range(docs.size):
                rows.append(
                    (r["slice"], int(docs[i]), r["fld"], int(dls[i]), r["term"],
                     int(tfs[i]), pos[0][i].tolist() if pos else None)
                )
    return sorted(rows)


def _tokenizer(store_positions, analyzer="fts5"):
    return _tokenize_partials_arrow_factory(
        store_positions, 1, analyzer, block_size=2, salt_threshold=3
    )


def _force_python_factory(store_positions):
    """Build the factory with the Arrow fast path disabled (analyzer
    name unknown to the fast-path gate, tokenizer forced to fts5)."""
    from aspublic_spark.functions import stemmer

    orig = stemmer.get_analyzer
    stemmer.get_analyzer = lambda name: orig("fts5")
    try:
        return _tokenizer(store_positions, analyzer="__force_python__")
    finally:
        stemmer.get_analyzer = orig


def test_arrow_tokenize_path_matches_python_path():
    texts = [
        "hash join the table",
        "",
        None,
        "  leading and trailing  ",
        "the  the",
        "UPPER case_mix",
        "café déjà",
        "tab\tsep\nline",
        "   ",
        "a",
        "mixed CLEAN dirty_row here",
        "99 bottles of beer",
        "the table the end",
    ]
    n = len(texts)
    # doc ids run against row order: the cut must sort them itself
    doc_ids = np.random.default_rng(1).permutation(n).astype(np.int64) * 1000 - 5000
    batch = pa.record_batch(
        [
            pa.array(np.arange(n) % 2, type=pa.int32()),
            pa.array(doc_ids, type=pa.int64()),
            pa.array(texts, type=pa.string()),
        ],
        names=["slice", "doc_id", "f0"],
    )
    for store_positions in (True, False):
        new = _collect_postings(_tokenizer(store_positions), batch, store_positions)
        old = _collect_postings(
            _force_python_factory(store_positions), batch, store_positions
        )
        assert new == old
        assert ("the" in {r[4] for r in new}) and len(new) > 20  # non-vacuous


def test_grouped_records_offsets_match_bytes_encoder():
    rng = np.random.default_rng(0)
    lens = rng.integers(1, 9, size=200).astype(np.int64)
    vals = np.sort(rng.integers(0, 1 << 20, size=int(lens.sum())))
    buf, off = codec.encode_grouped_records_offsets(vals, lens)
    via_offsets = [buf.tobytes()[off[k] : off[k + 1]] for k in range(off.size - 1)]
    assert via_offsets == codec.encode_grouped_records(vals, lens)


K1, B = 1.2, 0.75


def _adjacent(toks, ph) -> bool:
    n = len(ph)
    return any(toks[i : i + n] == ph for i in range(len(toks) - n + 1))


# (query, search kwargs, scoring terms, match predicate over (tokens, row))
ORACLE_QUERIES = [
    ("query spark", {}, ["query", "spark"],
     lambda ts, r: {"query", "spark"} <= set(ts)),
    ("query spark !shuffle", {}, ["query", "spark"],
     lambda ts, r: {"query", "spark"} <= set(ts) and "shuffle" not in ts),
    ('"the the"', {}, ["the"], lambda ts, r: _adjacent(ts, ["the", "the"])),
    # sqlite semantics: !"a b" excludes docs holding BOTH terms
    ('table !"data query"', {}, ["table"],
     lambda ts, r: "table" in ts and not {"data", "query"} <= set(ts)),
    ("dup OR vector", {"parser": parse_websearch}, ["dup", "vector"],
     lambda ts, r: "dup" in ts or "vector" in ts),
    ('"data query" OR zebra', {"parser": parse_websearch},
     ["data", "query", "zebra"],
     lambda ts, r: "zebra" in ts or _adjacent(ts, ["data", "query"])),
    ("query spark", {"role": "assistant"}, ["query", "spark"],
     lambda ts, r: {"query", "spark"} <= set(ts) and r["role"] == "assistant"),
    ("data example !query", {"order": "recency"}, ["data", "example"],
     lambda ts, r: {"data", "example"} <= set(ts) and "query" not in ts),
    ("query !query", {}, ["query"], lambda ts, r: False),
]


def _bm25_oracle(pdf, scoring, match, k, order="bm25"):
    """Naive BM25 (k1=1.2, b=0.75, idf=ln((N-df+.5)/(df+.5)+1)) over
    the source rows: [(conv_id, turn_idx, score)] in the engine's order
    (score or ts desc, then key asc)."""
    toks_all = [tokenize(t) for t in pdf["text"]]
    n = len(toks_all)
    avgdl = sum(map(len, toks_all)) / n
    dfreq = {t: sum(t in ts for ts in toks_all) for t in scoring}
    out = []
    for (_, row), toks in zip(pdf.iterrows(), toks_all):
        if not match(toks, row):
            continue
        score = 0.0
        for t in scoring:
            tf = toks.count(t)
            if tf:
                idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1)
                score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(toks) / avgdl))
        first = -score if order == "bm25" else -row["ts"].value
        out.append((first, row["conv_id"], row["turn_idx"], score))
    out.sort(key=lambda x: x[:3])
    return [(c, t, s) for _f, c, t, s in out[:k]]


def _assert_matches_oracle(rows, want):
    assert [(r["conv_id"], r["turn_idx"]) for r in rows] == [(c, t) for c, t, _ in want]
    for r, (_c, _t, s) in zip(rows, want):
        assert abs(r["score"] - s) < 1e-9, (r, s)


@pytest.fixture(scope="module")
def fused_idx(spark, workdir):
    idx = os.path.join(workdir, "r6_fused_idx")
    shutil.rmtree(idx, ignore_errors=True)
    IndexBuilder(
        spark, idx, n_slices=4, block_size=32, salt_max_postings=500
    ).build(synth_transcripts(spark, 4000, seed=42))
    return idx


@pytest.fixture(scope="module")
def fused_corpus(spark):
    return synth_transcripts(spark, 4000, seed=42).toPandas()


def test_flat_query_families_match_pandas_oracle(spark, fused_idx, fused_corpus):
    eng = SearchEngine(spark, fused_idx)
    nonzero = 0
    for q, kw, scoring, match in ORACLE_QUERIES:
        rows = eng.search(q, k=100, **kw).df.collect()
        want = _bm25_oracle(
            fused_corpus, scoring, match, 100, kw.get("order", "bm25")
        )
        _assert_matches_oracle(rows, want)
        nonzero += bool(rows)
    assert nonzero >= 7  # the comparisons are non-vacuous


def test_partial_block_build_matches_python_reference(spark, workdir):
    """A salted partial-block build decodes to exactly what a
    per-document pure-Python reference computes from the same corpus
    (fts5 tokens -> (doc_id, fld, term, tf, dl, positions)): same
    postings, dictionary and stats. Salting is a shuffle key only, so
    an unsalted build answers queries identically."""
    from collections import Counter, defaultdict

    import aspublic_spark.index.build as B
    import pyspark.sql.functions as F
    from aspublic_spark.functions.stemmer import get_analyzer

    df = synth_transcripts(spark, 3000, seed=42)

    def build(idx, salt_max):
        shutil.rmtree(idx, ignore_errors=True)
        b = B.IndexBuilder(
            spark, idx, n_slices=4, block_size=32, salt_max_postings=salt_max
        )
        b.build(df)
        return b

    idx = os.path.join(workdir, "r6_partial_new")
    b = build(idx, 300)

    tokenize = get_analyzer("fts5")
    want_post, want_dict = set(), defaultdict(lambda: [0, 0, 0, 1 << 30])
    n_docs = total_tokens = 0
    for r in df.select(b.doc_id_col().alias("doc_id"), "text").collect():
        toks = tokenize(r["text"] or "")
        n_docs += 1
        total_tokens += len(toks)
        where = defaultdict(list)
        for p, t in enumerate(toks):
            where[t].append(p)
        for t, ps in where.items():
            want_post.add((r["doc_id"], 0, t, len(ps), len(toks), tuple(ps)))
            d = want_dict[(t, 0)]
            d[0] += 1
            d[1] += len(ps)
            d[2] = max(d[2], len(ps))
            d[3] = min(d[3], len(toks))

    blocks = spark.read.parquet(idx + "/postings/gen=0")
    got = [
        (r["doc_id"], r["fld"], r["term"], r["tf"], r["dl"], tuple(r["positions"]))
        for r in SearchEngine(spark, idx).unpack(blocks, with_positions=True).collect()
    ]
    assert len(got) == len(set(got)) and set(got) == want_post
    assert Counter(r[2] for r in got)["the"] > 300  # heavy term, salted
    assert {
        (r["term"], r["fld"]): [r["df"], r["cf"], r["max_tf"], r["min_dl"]]
        for r in b.dictionary_df().collect()
    } == dict(want_dict)
    (st,) = B.read_stats(idx)
    assert (st["n_docs"], st["total_tokens"]) == (n_docs, total_tokens)
    assert abs(st["avgdl"] - total_tokens / n_docs) < 1e-12
    # heavy-term salting engaged through the task-id scheme
    assert blocks.agg(F.max("salt")).first()[0] > 0
    plain_idx = os.path.join(workdir, "r6_partial_unsalted")
    build(plain_idx, 10**9)
    assert spark.read.parquet(plain_idx + "/postings").agg(F.max("salt")).first()[0] == 0
    for q in ["zebra", "the data", '"the the"']:
        assert (
            SearchEngine(spark, idx).search(q, k=50).df.collect()
            == SearchEngine(spark, plain_idx).search(q, k=50).df.collect()
        )


def test_forced_pruning_matches_exhaustive_and_oracle(spark, fused_idx, fused_corpus):
    eng = SearchEngine(spark, fused_idx, prune_min_postings=0)
    for q, terms, match in [
        ("query spark", ["query", "spark"],
         lambda ts, r: {"query", "spark"} <= set(ts)),
        ("query spark !shuffle", ["query", "spark"],
         lambda ts, r: {"query", "spark"} <= set(ts) and "shuffle" not in ts),
        ("the and", ["the", "and"], lambda ts, r: {"the", "and"} <= set(ts)),
    ]:
        res = eng.search(q, k=100)
        assert "theta" in res.pruning, q  # the pruner ran
        pruned = res.df.collect()
        assert pruned == eng.search(q, k=100, block_max=False).df.collect(), q
        _assert_matches_oracle(pruned, _bm25_oracle(fused_corpus, terms, match, 100))
        assert pruned


def test_block_ids_dense_and_full_blocks_pass_through(spark, workdir):
    """r6 pack pass-through invariants: (1) map-side cut yields FULL
    blocks (n == block_size) that survive to the stored layout, (2)
    within every (slice, term, fld, salt) group block_ids are dense
    0..k-1 (unique — the theta probe uses them as a window tiebreak),
    (3) no posting is duplicated or lost across the overlapping runs —
    each (doc, term, fld) pair appears exactly once in the whole
    index."""
    import pyspark.sql.functions as F

    idx = os.path.join(workdir, "r6_passthrough_idx")
    shutil.rmtree(idx, ignore_errors=True)
    IndexBuilder(
        spark, idx, n_slices=2, block_size=16, salt_max_postings=200
    ).build(synth_transcripts(spark, 3000, seed=42))
    blocks = spark.read.parquet(idx + "/postings/gen=0")
    assert blocks.filter(F.col("n") == 16).count() > 0  # (1)
    bad = (
        blocks.groupBy("slice", "term", "fld", "salt")
        .agg(
            F.count("*").alias("k"),
            F.countDistinct("block_id").alias("kd"),
            F.max("block_id").alias("mx"),
        )
        .filter((F.col("kd") != F.col("k")) | (F.col("mx") != F.col("k") - 1))
        .count()
    )
    assert bad == 0  # (2)
    eng = SearchEngine(spark, idx)
    unp = eng.unpack(blocks)
    total = unp.count()
    distinct = unp.select("doc_id", "term", "fld").distinct().count()
    assert total == distinct > 0  # (3)
