"""Per-layer probes of the traced run.

Each probe calls one module's public functions from outside and records
a span around the call; nothing inside the program is instrumented.
Layers the workload's own timed window does not reach (queries on
bulk_build, ingest on bulk_build and search_mix) are driven by a small
probe here, so every traced run reports every layer.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from corpus import CLASSES, HEAD, concat, make_ingest, make_mix
from harness import median
from workloads import (K, REDELIVER_SHARE, SIZES, Workload, dir_bytes, engine_kwargs,
                       manifest_totals, query_params, read_df)

LAYERS = ("session", "functions.tokenizer", "index.build", "index.codec",
          "query.parser", "query.engine", "server", "streaming.ingest")


def run_probes(w: Workload):
    _d, ib, wall, counts = w.last_build
    w.build_layer(ib, wall, counts)
    index_files(w)
    tokenizer(w)
    mix = w.mix or make_mix(w.run.seed, w.corpus)
    if w.server is None:
        # bulk_build serves nothing in its window: its query-layer
        # figures are first-call figures on the index it built
        w.start_server(w.index_dir, cache_tables=True)
    query_layers(w, mix)
    codec(w, mix)
    pruning(w, mix)
    streaming(w)
    for layer, s in w.tracer.self_times().items():
        if layer in LAYERS:
            w.layer[f"selftime.{layer}_s"] = s


def index_files(w: Workload):
    sub = lambda *names: sum(dir_bytes(os.path.join(w.index_dir, n)) for n in names)  # noqa: E731
    w.layer["index.postings_bytes"] = sub("postings")
    w.layer["index.docs_bytes"] = sub("docs")
    w.layer["index.dictionary_bytes"] = sub("dictionary_gens", "dictionary_v")


def tokenizer(w: Workload):
    """tokens_udf over the workload corpus into a no-op sink."""
    from pyspark.sql import functions as F

    from aspublic_spark.functions.tokenizer import tokens_udf

    t = time.perf_counter()
    with w.tracer.span("functions.tokenizer", "tokens_udf"):
        w.df.select(F.size(tokens_udf(F.col("text"))).alias("n")).write.format(
            "noop").mode("overwrite").save()
    w.layer["tokenizer.tokens_per_s"] = w.run.corpus_stats["tokens"] / (time.perf_counter() - t)


def query_layers(w: Workload, mix):
    """parse, search() before collect, collect, Spark jobs per call, and
    HTTP overhead over an in-process handle_search of the same query."""
    from urllib.parse import parse_qs, urlencode

    from harness import http_search

    eng = w.server.engine
    per = {c: {"parse": [], "call": [], "collect": [], "jobs": [], "stages": [],
               "tasks": [], "http": []} for c in CLASSES}
    pruned = 0
    for q in mix:
        kw = engine_kwargs(q)
        p = per[q.cls]
        with w.tracer.span("query.parser", kw["parser"].__name__):
            t = time.perf_counter()
            for _ in range(20):
                kw["parser"](q.params["q"])
            p["parse"].append((time.perf_counter() - t) / 20 * 1000)
        info = {}
        with w.jobs.count(info):
            t = time.perf_counter()
            with w.tracer.span("query.engine", "SearchEngine.search"):
                res = eng.search(q.params["q"], k=K, **kw)
            t1 = time.perf_counter()
            with w.tracer.span("query.engine", "collect"):
                res.df.collect()
            t2 = time.perf_counter()
        p["call"].append(t1 - t)
        p["collect"].append(t2 - t1)
        for key in ("jobs", "stages", "tasks"):
            p[key].append(info[key])
        pruned += bool(res.pruning.get("theta_pruned"))
        if q is mix[CLASSES.index(q.cls)]:  # first template of each class
            t = time.perf_counter()
            with w.tracer.span("server", "QueryServer.handle_search"):
                w.server.handle_search(parse_qs(urlencode(query_params(q))))
            inproc = time.perf_counter() - t
            with w.tracer.span("server", "GET /search"):
                http = http_search(w.server.port, query_params(q))[2]
            p["http"].append((http - inproc) * 1000)
    for c in CLASSES:
        p = per[c]
        w.layer[f"parser.parse_ms.{c}"] = float(np.mean(p["parse"]))
        w.layer[f"engine.search_call_s.{c}"] = median(p["call"])
        w.layer[f"engine.collect_s.{c}"] = median(p["collect"])
        w.layer[f"engine.spark_jobs.{c}"] = float(np.mean(p["jobs"]))
        w.layer[f"engine.spark_stages.{c}"] = float(np.mean(p["stages"]))
        w.layer[f"engine.spark_tasks.{c}"] = float(np.mean(p["tasks"]))
        w.layer[f"server.http_overhead_ms.{c}"] = median(p["http"])
    w.layer["engine.theta_pruned_frac"] = pruned / len(mix)


def codec(w: Workload, mix):
    """Posting decode rate: unpack(blocks, with_positions) to a no-op sink."""
    eng = w.server.engine
    tail = sorted({t for q in mix for t in q.oracle.get("terms", []) if t not in HEAD})
    for name, terms in (("head", [HEAD[0]]), ("tail", tail)):
        st = eng.term_stats(terms)
        n = sum(r["df"] for rows in st.values() for r in rows.values())
        sink = lambda: eng.unpack(eng.blocks(terms), with_positions=True).write.format(  # noqa: E731
            "noop").mode("overwrite").save()
        sink()  # plan warm-up
        t = time.perf_counter()
        with w.tracer.span("index.codec", f"unpack.{name}"):
            sink()
        w.layer[f"codec.decode_postings_per_s.{name}"] = n / (time.perf_counter() - t)


def _top(rows, key_cols):
    return [(tuple(r[c] for c in key_cols), round(float(r["score"]), 4)) for r in rows]


def pruning(w: Workload, mix):
    """Forced block-max against exhaustive: timing on the workload index,
    result equality on the workload index and on a small index keyed by
    one descending numeric key."""
    from aspublic_spark.index.build import IndexBuilder
    from aspublic_spark.query.engine import SearchEngine

    mismatches = 0
    forced = SearchEngine(w.spark, w.index_dir, prune_min_postings=0)
    hq = next(q for q in mix if q.cls == "head")
    kw = engine_kwargs(hq)
    runs = {}
    for label, bm in (("blockmax_forced_s", True), ("exhaustive_s", False)):
        forced.search(hq.params["q"], k=K, block_max=bm, **kw).df.collect()
        t = time.perf_counter()
        with w.tracer.span("query.engine", label):
            runs[label] = forced.search(hq.params["q"], k=K, block_max=bm, **kw).df.collect()
        w.layer[f"engine.{label}"] = time.perf_counter() - t
    mismatches += (_top(runs["blockmax_forced_s"], forced.key_cols)
                   != _top(runs["exhaustive_s"], forced.key_cols))

    nk = min(SIZES[w.run.size]["probe_keyed"], w.corpus.n)
    sub = w.corpus.slice(0, nk)
    tbl = sub.to_arrow()
    tbl = tbl.append_column("doc_key", pa.array(nk - sub.ids, pa.int64()))
    path = w.path("keyed.parquet")
    pq.write_table(tbl, path)
    df = w.spark.read.parquet(path)
    kdir = w.path("keyed_index")
    with w.tracer.span("index.build", "IndexBuilder.build keyed"):
        IndexBuilder(w.spark, kdir, key_cols=["doc_key"]).build(df)
    keng = SearchEngine(w.spark, kdir, prune_min_postings=0)
    for q in make_mix(w.run.seed, sub):
        if q.cls not in ("rare", "head"):  # the flat AND/NOT shapes pruning serves
            continue
        kw = engine_kwargs(q)
        with w.tracer.span("query.engine", "pruned vs exhaustive"):
            a = keng.search(q.params["q"], k=K, **kw).df.collect()
            b = keng.search(q.params["q"], k=K, block_max=False, **kw).df.collect()
        mismatches += _top(a, ["doc_key"]) != _top(b, ["doc_key"])
    w.layer["engine.pruned_vs_exhaustive_mismatches"] = mismatches


def streaming(w: Workload):
    """StreamingIngest figures: from the ingest workload's own window, or
    from a small ingest with planted re-deliveries on the other two."""
    ing = getattr(w, "ingest", None)
    if ing is None:
        ing = _mini_ingest(w)
    offered = sum(o for o, _g, _p in ing["ingested"])
    got = sum(g for _o, g, _p in ing["ingested"])
    w.layer.update({
        "streaming.ingest_batch_s": median(ing["batch_s"]),
        "streaming.rows_offered": offered,
        "streaming.rows_ingested": got,
        "streaming.dup_dropped": offered - got,
        "streaming.useful_ratio": got / max(1, offered),
        "build.compact_s": median(ing["compact_s"]),
        "build.live_gens_max": max(ing["gens"]),
    })


def _mini_ingest(w: Workload) -> dict:
    from aspublic_spark.streaming.ingest import StreamingIngest

    n0, bsz, nb = SIZES[w.run.size]["probe_ingest"]
    plan = make_ingest(w.run.seed, n0, nb, bsz, REDELIVER_SHARE)
    plan.base.write_parquet(w.path("mini_base.parquet"))
    si = StreamingIngest(w.spark, w.path("mini_index"), w.path("mini_docs"))
    si.ingest_batch(read_df(w.spark, w.path("mini_base.parquet")))
    out = {"batch_s": [], "compact_s": [], "gens": [], "ingested": []}
    for i, (new, dup) in enumerate(plan.batches):
        path = w.path(f"mini_batch_{i}.parquet")
        concat([new, dup]).write_parquet(path)
        df = read_df(w.spark, path)
        t = time.perf_counter()
        with w.tracer.span("streaming.ingest", "StreamingIngest.ingest_batch"):
            got = si.ingest_batch(df)
        out["batch_s"].append(time.perf_counter() - t)
        out["ingested"].append((new.n + dup.n, got, dup.n))
    out["gens"].append(manifest_totals(si.builder.manifest())["live_gens"])
    t = time.perf_counter()
    with w.tracer.span("index.build", "IndexBuilder.compact"):
        si.builder.compact()
    out["compact_s"].append(time.perf_counter() - t)
    return out
