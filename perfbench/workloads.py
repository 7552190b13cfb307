"""The three workloads. Each returns after its timed window; answers are
checked afterwards, outside the timed window and outside ``setup_s``.

Every workload reports the same end-to-end metric names, measured on
its own timed operation (see NOTES.md): one fresh build (bulk_build),
one HTTP search (search_mix), one HTTP search while ingest runs
(ingest_while_serving).
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading
import time
from contextlib import nullcontext

from corpus import CLASSES, concat, make_corpus, make_ingest, make_mix
from harness import JobCounter, http_search, median, pct
from oracle import Oracle, answer_rows, live_violation, mismatch

K = 50

SIZES = {
    # turns; ingest: base turns, batch turns, batches per compaction
    "full": {"bulk_build": 20000, "search_mix": 20000,
             "ingest": (10000, 1000, 4), "probe_keyed": 4000,
             "probe_ingest": (1000, 250, 2)},
    "tiny": {"bulk_build": 3000, "search_mix": 3000,
             "ingest": (2000, 300, 2), "probe_keyed": 1000,
             "probe_ingest": (600, 150, 2)},
}
REDELIVER_SHARE = 0.1
WARM_BUILDS = 5
WARM_PASSES = 2
MAX_CYCLES = 3


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def manifest_totals(records: list[dict]) -> dict:
    """Build-layer figures read from ``IndexBuilder.manifest()``."""
    pack = [r for r in records if r.get("stage") == "pack"]
    glob = [r for r in records if r.get("stage") == "global"]
    return {
        "pack_s": sum(r.get("seconds", 0.0) for r in pack),
        "global_s": sum(r.get("seconds", 0.0) for r in glob),
        "n_postings": glob[0]["n_postings"] if glob else 0,
        "n_docs": glob[0]["n_docs"] if glob else 0,
        "n_blocks": sum(r.get("n_blocks", 0) for r in pack),
        "bytes_packed": sum(r.get("bytes_packed", 0) for r in pack),
        "live_gens": sum(1 for r in records if r.get("stage") == "raw"),
    }


def read_df(spark, path: str):
    from aspublic_spark.tables import TRANSCRIPTS_SCHEMA

    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)


def query_params(q) -> dict:
    return {**q.params, "k": K}


def engine_kwargs(q) -> dict:
    from aspublic_spark.query.parser import parse_fts5, parse_query

    kw = {"parser": parse_fts5 if q.params.get("fts5") else parse_query}
    for name in ("role", "order"):
        if name in q.params:
            kw[name] = q.params[name]
    return kw


class Workload:
    """Shared state of one run: counters, spans, metric sinks."""

    def __init__(self, run, spark, t_session):
        self.run = run
        self.spark = spark
        self.t_session = t_session
        self.tracer = run.tracer
        self.jobs = JobCounter(spark)
        self.op_times: list[float] = []
        self.peak_rss_mb = None
        self.named: dict[str, tuple] = {}  # per-workload metrics, printed by name
        self.layer: dict[str, float] = {}
        self.index_dir = None
        self.corpus = None
        self.df = None
        self.server = None
        self.mix = None
        self.seq = itertools.count()

    def path(self, *parts) -> str:
        return os.path.join(self.run.workdir, *parts)

    def setup_done(self):
        self.setup_s = time.perf_counter() - self.t_session

    def record(self, ok: bool, reason: str | None = None, wrong: bool = False):
        self.run.attempted += 1
        if not ok:
            self.run.failed += 1
            self.run.wrong += int(wrong)
            if len(self.run.failures) < 20:
                self.run.failures.append(" ".join(str(reason).split())[:300])

    def count_jobs(self, counts: dict):
        """Spark jobs of a block, counted only in the traced window."""
        return self.jobs.count(counts) if self.tracer.enabled else nullcontext()

    def timed_build(self, index_dir: str, df, counts: dict):
        from aspublic_spark.index.build import IndexBuilder

        t = time.perf_counter()
        with self.tracer.span("index.build", "IndexBuilder.build"), self.count_jobs(counts):
            b = IndexBuilder(self.spark, index_dir)
            b.build(df)
        return b, time.perf_counter() - t

    def build_layer(self, ib, wall: float, counts: dict):
        m = manifest_totals(ib.manifest())
        self.layer.update({
            "build.pack_s": m["pack_s"], "build.global_s": m["global_s"],
            "build.rest_s": wall - m["pack_s"] - m["global_s"],
            "build.n_postings": m["n_postings"], "build.n_blocks": m["n_blocks"],
            "build.bytes_packed": m["bytes_packed"],
            "build.spark_jobs": counts.get("jobs", 0),
            "build.spark_tasks": counts.get("tasks", 0),
            "codec.bytes_per_posting": m["bytes_packed"] / max(1, m["n_postings"]),
        })

    def check_build(self, ib, corpus_stats: dict):
        m = manifest_totals(ib.manifest())
        want = corpus_stats["distinct_term_turn_pairs"] + int(self.run.plant)
        if m["n_postings"] != want or m["n_docs"] != corpus_stats["turns"]:
            self.record(False, f"build: n_postings {m['n_postings']} != {want} "
                               f"or n_docs {m['n_docs']} != {corpus_stats['turns']}", True)
        else:
            self.record(True)

    def start_server(self, index_dir: str, **kw):
        from aspublic_spark.server import QueryServer

        self.server = QueryServer(self.spark, index_dir, port=0, **kw).start()
        return self.server

    def search(self, q, rid=None):
        with self.tracer.span("server", "GET /search", rid):
            return http_search(self.server.port, query_params(q))

    def finish_ops(self):
        self.op_p50 = median(self.op_times)
        self.op_p90 = pct(self.op_times, 0.9)
        self.named["failed_frac"] = (self.run.failed / max(1, self.run.attempted), "fraction")

    def timed(self, loop, op_times):
        """Run the timed window. A traced run splits it in two halves,
        untraced then traced, and keeps the traced result; the relative
        difference of the two op medians is the tracing overhead."""
        if not self.run.trace:
            out = loop(self.run.seconds)
        else:
            self.tracer.enabled = False
            plain = loop(self.run.seconds / 2)
            self.tracer.enabled = True
            out = loop(self.run.seconds / 2)
            base = median(op_times(plain))
            self.layer["trace.overhead_frac"] = median(op_times(out)) / base - 1.0
        # the memory peak ends with the window: the checks that follow
        # (DuckDB oracle, probes) run in this process too
        self.peak_rss_mb = self.run.rss.stop()
        return out


# -- bulk_build ---------------------------------------------------------------

def gen_bulk_build(run):
    corpus = make_corpus(run.seed, SIZES[run.size]["bulk_build"])
    corpus.write_parquet(run.path("corpus.parquet"))
    run.corpus_stats = corpus.stats()
    return corpus


def bulk_build(w: Workload, corpus):
    n, stats = corpus.n, w.run.corpus_stats
    df = read_df(w.spark, w.path("corpus.parquet"))
    w.corpus, w.df = corpus, df
    # the JVM and the Python workers need several builds before build
    # time stops falling; those builds are set-up
    for i in range(WARM_BUILDS):
        w.timed_build(w.path(f"idx_warm{i}"), df, {})
        shutil.rmtree(w.path(f"idx_warm{i}"), ignore_errors=True)
    w.setup_done()

    def loop(seconds):
        times, last = [], None
        t0 = time.perf_counter()
        while True:
            d = w.path(f"idx_{next(w.seq)}")
            counts = {}
            try:
                b, dt = w.timed_build(d, df, counts)
            except Exception as e:  # noqa: BLE001 - counted, run continues
                w.record(False, f"build: {type(e).__name__}: {e}", wrong=True)
            else:
                times.append(dt)
                w.check_build(b, stats)
                if last is not None:
                    shutil.rmtree(last[0], ignore_errors=True)
                last = (d, b, dt, counts)
            if time.perf_counter() - t0 >= seconds:
                if last is None:
                    raise RuntimeError(f"bulk_build: no build succeeded in {seconds:.1f} s; "
                                       f"first failure: {w.run.failures[:1]}")
                return times, last

    times, last = w.timed(loop, lambda r: r[0])
    w.op_times = times
    w.index_dir = last[0]
    w.last_build = last
    w.finish_ops()
    w.named["build_turns_per_s"] = (n / median(times), "turns/s")
    w.named["index_bytes_per_turn"] = (dir_bytes(w.index_dir) / n, "B")


# -- search_mix ---------------------------------------------------------------

def gen_search_mix(run):
    corpus = make_corpus(run.seed, SIZES[run.size]["search_mix"])
    corpus.write_parquet(run.path("corpus.parquet"))
    run.corpus_stats = corpus.stats()
    return corpus, make_mix(run.seed, corpus)


def search_mix(w: Workload, data):
    corpus, mix = data
    n = corpus.n
    df = read_df(w.spark, w.path("corpus.parquet"))
    w.corpus, w.df, w.mix = corpus, df, mix
    w.index_dir = w.path("index")
    counts = {}
    b, wall = w.timed_build(w.index_dir, df, counts)
    w.last_build = (w.index_dir, b, wall, counts)
    w.start_server(w.index_dir, cache_tables=True)
    # like builds, queries keep getting faster over the first passes
    for _ in range(WARM_PASSES):
        for q in mix:
            w.search(q)
    w.setup_done()

    answers = []

    def loop(seconds):
        times = []
        t0 = time.perf_counter()
        while True:
            for q in mix:
                st, body, dt = w.search(q, rid=len(answers))
                answers.append((q, st, body))
                times.append((q.cls, dt))
            if time.perf_counter() - t0 >= seconds:
                return times

    times = w.timed(loop, lambda r: [t for _c, t in r])
    w.op_times = [t for _c, t in times]
    check_answers(w, corpus, answers)
    w.check_build(b, w.run.corpus_stats)
    w.finish_ops()
    w.named["search_p50_s"] = (w.op_p50, "s")
    w.named["search_p90_s"] = (w.op_p90, "s")
    for c in CLASSES:
        w.named[f"search_{c}_p50_s"] = (median([t for k, t in times if k == c]), "s")
    w.named["index_bytes_per_turn"] = (dir_bytes(w.index_dir) / n, "B")


def check_answers(w: Workload, corpus, answers):
    """Compare every served answer with the DuckDB oracle."""
    with w.tracer.span("oracle", "duckdb"):
        oracle = Oracle(corpus, w.path("tmp"), w.run.cpus)
        expected = {}
        try:
            for q, st, body in answers:
                if st != 200 or "results" not in body:
                    w.record(False, f"{q.cls}/{q.name}: HTTP {st} {body.get('error')}", wrong=True)
                    continue
                if id(q) not in expected:
                    expected[id(q)] = oracle.expected(q, K)
                    if w.run.plant and expected[id(q)]:
                        d, s = expected[id(q)][0]
                        expected[id(q)][0] = (d, s + 1.0)
                why = mismatch(answer_rows(body["results"]), expected[id(q)], K, q.recency)
                w.record(why is None, f"{q.cls}/{q.name}: {why}", wrong=True)
        finally:
            oracle.close()


# -- ingest_while_serving -----------------------------------------------------

def gen_ingest(run):
    n_base, bsz, per_cycle = SIZES[run.size]["ingest"]
    plan = make_ingest(run.seed, n_base, per_cycle * MAX_CYCLES * (2 if run.trace else 1),
                       bsz, REDELIVER_SHARE)
    plan.base.write_parquet(run.path("base.parquet"))
    for i, (new, dup) in enumerate(plan.batches):
        concat([new, dup]).write_parquet(run.path(f"batch_{i}.parquet"))
    run.corpus_stats = plan.base.stats()
    return plan, make_mix(run.seed, plan.base)


def ingest_while_serving(w: Workload, data):
    from aspublic_spark.streaming.ingest import StreamingIngest

    plan, mix = data
    n_base, bsz, per_cycle = SIZES[w.run.size]["ingest"]
    w.corpus = plan.base
    w.mix = mix
    base_df = read_df(w.spark, w.path("base.parquet"))
    w.df = base_df
    batch_dfs = [read_df(w.spark, w.path(f"batch_{i}.parquet"))
                 for i in range(len(plan.batches))]
    w.index_dir = w.path("index")
    si = StreamingIngest(w.spark, w.index_dir, w.path("docs"))
    counts = {}
    t = time.perf_counter()
    with w.tracer.span("streaming.ingest", "StreamingIngest.ingest_batch"), w.count_jobs(counts):
        si.ingest_batch(base_df)
    n_before = si.rows_ingested_total
    w.last_build = (w.index_dir, si.builder, time.perf_counter() - t, counts)
    w.start_server(w.index_dir, cache_tables=True, auto_refresh=True)
    for q in mix[: len(CLASSES)]:
        w.search(q)
    w.setup_done()

    state = {"next": 0, "started": -1}
    live, batch_s, compact_s, gens = [], [], [], []
    ingested = []  # (offered, ingested, planted)

    def allowed_upto(started: int):
        hi = n_base + (started + 1) * bsz
        return lambda d: d < hi

    def client(stop: threading.Event, out: list):
        i = 0
        while not stop.is_set():
            q = mix[i % len(mix)]
            i += 1
            try:
                st, body, dt = w.search(q, rid=f"live{i}")
            except OSError as e:
                out.append((q, 0, {"error": str(e)}, 0.0, None))
                continue
            out.append((q, st, body, dt, allowed_upto(state["started"])))

    def loop(seconds):
        out, stop = [], threading.Event()
        th = threading.Thread(target=client, args=(stop, out), daemon=True)
        t0 = time.perf_counter()
        th.start()
        turns = 0
        try:
            for _cycle in range(MAX_CYCLES):
                for _b in range(per_cycle):
                    i = state["next"]
                    state["next"] += 1
                    state["started"] = i
                    new, dup = plan.batches[i]
                    t = time.perf_counter()
                    try:
                        with w.tracer.span("streaming.ingest", "StreamingIngest.ingest_batch"):
                            got = si.ingest_batch(batch_dfs[i])
                    except Exception as e:  # noqa: BLE001 - counted, run continues
                        w.record(False, f"ingest_batch {i}: {type(e).__name__}: {e}", wrong=True)
                        continue
                    batch_s.append(time.perf_counter() - t)
                    ingested.append((new.n + dup.n, got, dup.n))
                    ok = got == new.n - int(w.run.plant)
                    w.record(ok, f"ingest_batch {i}: ingested {got}, expected {new.n}", not ok)
                    turns += got
                gens.append(manifest_totals(si.builder.manifest())["live_gens"])
                t = time.perf_counter()
                try:
                    with w.tracer.span("index.build", "IndexBuilder.compact"):
                        si.builder.compact()
                    compact_s.append(time.perf_counter() - t)
                    w.record(True)
                except Exception as e:  # noqa: BLE001 - counted, run continues
                    w.record(False, f"compact: {type(e).__name__}: {e}", wrong=True)
                if time.perf_counter() - t0 >= seconds:
                    break
            wall = time.perf_counter() - t0
        finally:
            stop.set()
            th.join(timeout=150)
        live.extend(out)
        return turns / wall, [dt for _q, st, _b, dt, _a in out if st == 200]

    rate, lat = w.timed(loop, lambda r: r[1])
    for q, st, body, _dt, allowed in live:
        if st != 200 or "results" not in body:
            w.record(False, f"live {q.cls}/{q.name}: HTTP {st} {body.get('error')}")
            continue
        why = live_violation(body["results"], allowed, q.recency)
        w.record(why is None, f"live {q.cls}/{q.name}: {why}", wrong=True)
    w.op_times = lat
    w.ingest = {"batch_s": batch_s, "compact_s": compact_s, "gens": gens,
                "ingested": ingested}

    # post-ingest snapshot: every row ingested so far, against DuckDB
    final = concat([plan.base] + [new for new, _d in plan.batches[: state["next"]]])
    snap = [(q, *w.search(q)[:2]) for q in mix[: len(CLASSES)]]
    check_answers(w, final, snap)
    m = manifest_totals(si.builder.manifest())
    want = final.stats()["distinct_term_turn_pairs"]
    w.record(m["n_postings"] == want, f"final n_postings {m['n_postings']} != {want}", True)
    offered = sum(o for o, _g, _p in ingested)
    planted = sum(p for _o, _g, p in ingested)
    got = si.rows_ingested_total - n_before
    w.record(got == offered - planted,
             f"rows_ingested {got} != offered {offered} - planted {planted}", True)
    w.finish_ops()
    w.named["ingest_turns_per_s"] = (rate, "turns/s")
    w.named["live_search_p50_s"] = (w.op_p50, "s")
    w.named["live_search_tail_s"] = (w.op_p90, "s")  # tail = p90
    w.named["index_bytes_per_turn"] = (dir_bytes(w.index_dir) / final.n, "B")


# name -> (input generator, run); the generator needs no Spark and runs
# before the session starts, so it is outside setup_s
WORKLOADS = {
    "bulk_build": (gen_bulk_build, bulk_build),
    "search_mix": (gen_search_mix, search_mix),
    "ingest_while_serving": (gen_ingest, ingest_while_serving),
}
