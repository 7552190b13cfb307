"""Stored-index invariants and pruned-search ground truth.

``assert_block_invariants`` decodes every stored block of an index and
checks the metadata the query side trusts without decoding: doc
bounds, doc order, counts, tf/dl aggregates, dense block ids and the
dictionary's df/cf. It runs after every kind of index writer: a
build, ``add_documents`` + ``compact()``, a re-slicing
``compact(n_slices=8)`` and a ``prune_index`` rewrite.

The ground-truth tests build single-int-key indexes whose doc ids run
against the input row order (descending, shuffled) and compare
searches with block-max / doc-range pruning forced on against the same
engine with pruning off and against a pandas BM25 oracle.
"""

import datetime as dt
import math
import os
import shutil
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from aspublic_spark.functions.tokenizer import tokenize
from aspublic_spark.index import codec
from aspublic_spark.index.build import (
    IndexBuilder,
    dictionary_location,
    live_gens,
)
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.tables import synth_transcripts

K1, B = 1.2, 0.75


def assert_block_invariants(spark, idx: str) -> int:
    """Decode every block of every live generation and check its
    metadata; returns the number of blocks checked."""
    df_cf = defaultdict(lambda: [0, 0])
    docs_of = defaultdict(set)
    block_ids = defaultdict(list)
    n_blocks = 0
    for g in live_gens(idx):
        for r in spark.read.parquet(os.path.join(idx, "postings", f"gen={g}")).collect():
            where = (g, r["slice"], r["term"], r["fld"], r["salt"], r["block_id"])
            docs, tfs, dls, pos = codec.unpack_block(r, with_positions=True)
            assert [len(p) for p in pos] == tfs.tolist(), where
            assert r["n"] == docs.size > 0, where
            assert r["min_doc"] <= r["max_doc"], where
            assert (r["min_doc"], r["max_doc"]) == (docs.min(), docs.max()), where
            assert (docs[1:] > docs[:-1]).all(), where
            assert r["sum_tf"] == int(tfs.sum()), where
            assert r["max_tf"] == int(tfs.max()), where
            assert r["min_dl"] == int(dls.min()), where
            key = (r["term"], r["fld"])
            df_cf[key][0] += r["n"]
            df_cf[key][1] += r["sum_tf"]
            before = len(docs_of[key])
            docs_of[key].update(docs.tolist())
            assert len(docs_of[key]) == before + docs.size, ("duplicate posting", where)
            block_ids[where[:5]].append(r["block_id"])
            n_blocks += 1
    for grp, ids in block_ids.items():
        assert sorted(ids) == list(range(len(ids))), grp
    dictionary = {
        (r["term"], r["fld"]): [r["df"], r["cf"]]
        for r in spark.read.parquet(dictionary_location(idx)).collect()
    }
    assert dictionary == dict(df_cf)
    return n_blocks


def _builder(spark, idx, **kw):
    shutil.rmtree(idx, ignore_errors=True)
    return IndexBuilder(
        spark, idx, **{"n_slices": 4, "block_size": 16, "salt_max_postings": 300, **kw}
    )


def test_build_blocks_hold_invariants(spark, workdir):
    idx = os.path.join(workdir, "inv_build_idx")
    b = _builder(spark, idx)
    b.build(synth_transcripts(spark, 3000, seed=42))
    assert assert_block_invariants(spark, idx) > 100
    # heavy terms were salted, so the salted groups were checked too
    salted = spark.read.parquet(idx + "/postings/gen=0").filter(F.col("salt") > 0)
    assert salted.count() > 0


def test_compaction_blocks_hold_invariants(spark, workdir):
    idx = os.path.join(workdir, "inv_compact_idx")
    b = _builder(spark, idx)
    b.build(synth_transcripts(spark, 2000, seed=42))
    b.add_documents(
        synth_transcripts(spark, 1000, seed=5).withColumn(
            "conv_id", F.concat(F.lit("z"), F.col("conv_id"))
        ),
        gen=1,
    )
    assert b.compact()["compacted"]
    assert len(live_gens(idx)) == 1
    assert assert_block_invariants(spark, idx) > 100
    assert b.compact(n_slices=8)["compacted"]
    assert b.n_slices == 8
    assert assert_block_invariants(spark, idx) > 100


def test_prune_rewrite_blocks_hold_invariants(spark, workdir):
    idx = os.path.join(workdir, "inv_prune_idx")
    b = _builder(spark, idx)
    df = synth_transcripts(spark, 3000, seed=42)
    b.build(df)
    # conv n starts at ts 1700000000 + n * 3600: cut gen 0 in half
    cutoff = dt.datetime.fromtimestamp(1700000000 + 180 * 3600, tz=dt.timezone.utc)
    res = b.prune_index(cutoff.replace(tzinfo=None))
    assert res["rewritten"] == [0]
    n_docs = SearchEngine(spark, idx).docs().count()
    assert 0 < n_docs < 3000
    assert assert_block_invariants(spark, idx) > 50


def test_heavy_term_salts_in_map_partition_zero(spark, workdir):
    """With a single input partition every posting is cut by map task
    0; a heavy term must still salt (to task id + 1) once it crosses
    the local threshold."""
    idx = os.path.join(workdir, "inv_salt_p0_idx")
    b = _builder(spark, idx, salt_max_postings=200)
    b.build(synth_transcripts(spark, 2000, seed=42).coalesce(1))
    salts = {
        r["salt"]
        for r in spark.read.parquet(idx + "/postings/gen=0")
        .filter(F.col("term") == "the")
        .select("salt")
        .distinct()
        .collect()
    }
    assert 1 in salts and salts <= {0, 1}
    assert_block_invariants(spark, idx)


# -- pruned search vs ground truth on adversarial doc ids -------------
N_DOCS = 3000


@pytest.fixture(scope="module")
def keyed_corpus(spark):
    pdf = synth_transcripts(spark, N_DOCS, seed=7).toPandas()[["text"]]
    rng = np.random.default_rng(3)
    return {
        "descending": pdf.assign(doc_id=np.arange(N_DOCS, 0, -1) * 1000),
        "shuffled": pdf.assign(doc_id=rng.permutation(N_DOCS) * 1000),
    }


@pytest.fixture(scope="module", params=["descending", "shuffled"])
def keyed(request, spark, workdir, keyed_corpus):
    pdf = keyed_corpus[request.param]
    idx = os.path.join(workdir, f"inv_keyed_{request.param}_idx")
    shutil.rmtree(idx, ignore_errors=True)
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_col="text", meta_cols=[],
        n_slices=2, block_size=16,
    ).build(spark.createDataFrame(pdf[["doc_id", "text"]]))
    return pdf, idx, SearchEngine(spark, idx, prune_min_postings=0)


def test_keyed_blocks_hold_invariants(spark, keyed):
    assert assert_block_invariants(spark, keyed[1]) > 100


def _oracle(pdf, and_terms=(), not_terms=(), phrase=(), k=10):
    toks_all = [tokenize(t) for t in pdf["text"]]
    n = len(toks_all)
    avgdl = sum(map(len, toks_all)) / n
    pos_terms = sorted(set(and_terms) | set(phrase))
    dfreq = {t: sum(t in ts for ts in toks_all) for t in pos_terms}
    out = []
    for doc_id, toks in zip(pdf["doc_id"], toks_all):
        if any(t not in toks for t in and_terms) or any(t in toks for t in not_terms):
            continue
        if phrase and not any(
            toks[i : i + len(phrase)] == list(phrase) for i in range(len(toks))
        ):
            continue
        score = 0.0
        for t in pos_terms:
            tf = toks.count(t)
            if tf:
                idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1)
                score += idf * tf * (K1 + 1) / (tf + K1 * (1 - B + B * len(toks) / avgdl))
        out.append((int(doc_id), score))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


GROUND_TRUTH = [
    dict(q="query spark", and_terms=["query", "spark"]),
    dict(q="data table", and_terms=["data", "table"]),
    dict(q="data !the", and_terms=["data"], not_terms=["the"]),
    dict(q="query spark !the", and_terms=["query", "spark"], not_terms=["the"]),
    dict(q='"data the"', phrase=["data", "the"]),
    dict(q='"the the"', phrase=["the", "the"]),
]


@pytest.mark.parametrize("k", [10, 50])
@pytest.mark.parametrize("case", GROUND_TRUTH, ids=[c["q"] for c in GROUND_TRUTH])
def test_pruned_search_matches_ground_truth(keyed, case, k):
    pdf, _idx, eng = keyed
    pruned = eng.search(case["q"], k=k)
    exhaustive = eng.search(case["q"], k=k, block_max=False)
    got = [(r["doc_id"], r["score"]) for r in pruned.df.collect()]
    distinct = set(case.get("and_terms", ())) | set(case.get("phrase", ()))
    if len(distinct) > 1 or case.get("not_terms"):
        assert pruned.pruning.get("range_pruned"), pruned.pruning  # it pruned
    assert got == [(r["doc_id"], r["score"]) for r in exhaustive.df.collect()]
    want = _oracle(
        pdf,
        and_terms=case.get("and_terms", ()),
        not_terms=case.get("not_terms", ()),
        phrase=case.get("phrase", ()),
        k=k,
    )
    assert got  # non-vacuous
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
