"""sparksearch benchmark.

    python3 perfbench/run.py --workload <bulk_build|search_mix|ingest_while_serving>
                             --seed N --seconds S --trace <0|1>

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. Lines before it print every metric by name with its unit.
Spans and the full result (provenance, corpus stats, failures) are
written under ``.perfbench_out/``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


class Run:
    def __init__(self, a):
        from harness import Tracer

        self.workload = a.workload
        self.seed = a.seed
        self.seconds = a.seconds
        self.trace = bool(a.trace)
        self.size = a.size
        self.plant = a.plant_wrong_answer
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(self.trace)
        self.workdir = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
        self.outdir = os.path.join(os.getcwd(), ".perfbench_out")
        self.attempted = self.failed = self.wrong = 0
        self.failures: list[str] = []
        self.corpus_stats: dict = {}
        self.rss = None  # RssSampler, stopped when the timed window ends

    def path(self, *parts) -> str:
        return os.path.join(self.workdir, *parts)


def source_digest() -> str:
    """Content hash of the program's sources: the revision when the
    checkout carries no git metadata."""
    h = hashlib.sha1()
    for root, dirs, files in sorted(os.walk(os.path.join(ROOT, "aspublic_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "index_bytes_per_turn": "B",
             "op_p50_s": "s", "op_p90_s": "s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test size")
    ap.add_argument("--plant-wrong-answer", action="store_true",
                    help="self-test: corrupt the expected answers, so every check must fail")
    a = ap.parse_args(argv)

    # the program and its oracle; absent in a checkout without the
    # repository, which must fail here, before any result
    import aspublic_spark  # noqa: F401
    import __spark_entry__  # noqa: F401
    from harness import RssSampler, confine, provenance, spark_conf, stop_spark
    from workloads import WORKLOADS, Workload

    if a.workload not in WORKLOADS:
        ap.error(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    run = Run(a)
    os.makedirs(run.workdir, exist_ok=True)
    os.makedirs(run.outdir, exist_ok=True)
    confine(run.workdir)
    gen, body = WORKLOADS[a.workload]
    run.rss = RssSampler().start()
    spark = w = None
    try:
        with run.tracer.span("generator", "inputs"):
            data = gen(run)
        from aspublic_spark.session import get_spark

        t_session = time.perf_counter()
        with run.tracer.span("session", "get_spark"):
            spark = get_spark("perfbench", cpus=run.cpus, extra_conf=spark_conf(run.workdir))
        session_s = time.perf_counter() - t_session
        w = Workload(run, spark, t_session)
        body(w, data)
        if run.trace:
            from probes import run_probes

            w.layer["session.start_s"] = session_s
            run_probes(w)
    finally:
        if w is not None and w.server is not None:
            w.server.stop()
        if spark is not None:
            stop_spark(spark)
        run.rss.stop()
        shutil.rmtree(run.workdir, ignore_errors=True)

    e2e = {"setup_s": w.setup_s, "peak_rss_mb": w.peak_rss_mb,
           "index_bytes_per_turn": w.named["index_bytes_per_turn"][0],
           "op_p50_s": w.op_p50, "op_p90_s": w.op_p90}
    layer_units = _layer_units()
    if run.trace:
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in sorted(w.layer.items())
                   if k in layer_units}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    prov = provenance(ROOT, run.seed, run.cpus)
    if prov["git_rev"] is None:
        prov["source_sha1"] = source_digest()
    full = {
        "workload": run.workload, "trace": run.trace, "seconds": run.seconds,
        "provenance": prov, "corpus": run.corpus_stats, "op_times": w.op_times,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in w.named.items()},
        "e2e": e2e, "layer": w.layer, "failures": run.failures,
    }
    tag = f"{run.workload}_s{run.seed}_t{int(run.trace)}"
    with open(os.path.join(run.outdir, f"result_{tag}.json"), "w") as f:
        json.dump(full, f, indent=1, default=str)
    if run.trace:
        run.tracer.dump(os.path.join(run.outdir, f"spans_{tag}.jsonl"))

    print(f"# {run.workload} seed={run.seed} {prov['session']} nproc={prov['nproc']} "
          f"mem={prov['mem_total_mb']}MB python={prov['python']} pyspark={prov['pyspark']} "
          f"pyarrow={prov['pyarrow']} rev={prov['git_rev'] or prov.get('source_sha1')}")
    print(f"# corpus {json.dumps(run.corpus_stats)}  timed ops: {len(w.op_times)}")
    for k, (v, u) in w.named.items():
        print(f"{k} = {v:.6g} {u}")
    for k, v in e2e.items():
        print(f"{k} = {v:.6g} {E2E_UNITS[k]}")
    if run.trace:
        for k, v in sorted(w.layer.items()):
            print(f"{k} = {v:.6g} {layer_units.get(k, '')}")
    for r in run.failures:
        print(f"# failure: {r}")
    print(json.dumps({
        "correct": run.wrong == 0, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
