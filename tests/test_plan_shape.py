"""Every query shape runs through the engine's one evaluator.

Whatever its shape, a search's executed plan holds exactly one
MapInArrow over the postings scan — the pass that emits the scored
``(doc_id, score)`` candidates — no MapInPandas, and no semi or anti
join: phrase / NEAR / anchor windows, column filters, prefix terms, the
NOT side and FTS5 boolean trees are all applied inside that pass.
"""

import os
import shutil

import pytest

from aspublic_spark.index.build import IndexBuilder
from aspublic_spark.query.engine import SearchEngine
from aspublic_spark.query.parser import parse_fts5, parse_websearch

DOCS = [
    ("alpha beta gamma", "news"),
    ("beta alpha delta", "alpha report"),
    ("gamma delta alphabet", "misc"),
    ("alpine beta epsilon", "beta news"),
    ("delta gamma beta alpha", "gamma"),
    ("epsilon zeta alpha", "zeta notes"),
    ("alpha gamma zeta beta", "delta"),
    ("beta delta", "alpha beta"),
]

SHAPES = [
    ("single", "epsilon", {}),
    ("and", "alpha beta", {}),
    ("not", "epsilon !zeta", {}),
    ("phrase", '"alpha beta"', {}),
    ("near", "NEAR(alpha gamma, 2)", {"parser": parse_fts5}),
    ("anchor", "^alpha", {"parser": parse_fts5}),
    ("or_phrase", '"alpha beta" OR zeta', {"parser": parse_websearch}),
    ("column_filter", "subject:alpha beta", {"parser": parse_fts5}),
    ("prefix", "alp* beta", {"parser": parse_fts5}),
    ("prefix_phrase", '"alpha b"*', {"parser": parse_fts5}),
    ("not_prefix", "epsilon NOT alph*", {"parser": parse_fts5}),
    ("fts5_tree", "alpha OR (beta NOT delta)", {"parser": parse_fts5}),
]


@pytest.fixture(scope="module")
def shape_eng(spark, workdir):
    idx = os.path.join(workdir, "plan_shape_idx")
    shutil.rmtree(idx, ignore_errors=True)
    sdf = spark.createDataFrame(
        [(i + 1, t, s) for i, (t, s) in enumerate(DOCS)],
        "doc_id long, text string, subject string",
    )
    IndexBuilder(
        spark, idx, key_cols=["doc_id"], text_cols=["text", "subject"],
        meta_cols=[], n_slices=2, block_size=4,
    ).build(sdf)
    return SearchEngine(spark, idx)


@pytest.mark.parametrize("shape,q,kw", SHAPES, ids=[s[0] for s in SHAPES])
def test_one_evaluator_pass_per_query(shape_eng, shape, q, kw):
    res = shape_eng.search(q, k=10, **kw)
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    arrow = [ln for ln in plan.splitlines() if "MapInArrow" in ln]
    assert len(arrow) == 1 and "score#" in arrow[0], plan
    assert "MapInPandas" not in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    if shape == "single":  # one (term, field): no slice exchange needed
        assert "hashpartitioning(slice" not in plan, plan
    assert res.df.count() > 0, q  # a real query, not the empty plan
