"""Measurement plumbing: process sandbox, memory sampling, spans, Spark
job counting, HTTP client, provenance."""

from __future__ import annotations

import json
import os
import platform
import subprocess
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from contextlib import contextmanager


def confine(workdir: str, heap: str = "2g"):
    """Point every scratch location of Python, the JVM and Spark into
    ``workdir``. Must run before the Spark gateway starts."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        workdir, "spark_local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xss16m -XX:-UsePerfData -Djava.io.tmpdir={tmp}" '
        "pyspark-shell"
    )


def spark_conf(workdir: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }


def stop_spark(spark):
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- memory -----------------------------------------------------------------

def _tree_rss_kb(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants (JVM, Python
    workers), read from /proc. A child of the JVM that still runs the
    JVM's own binary is a fork about to exec a command (Hadoop runs shell
    commands that way): it shares the JVM's pages, so it is not counted
    twice. Its comm is the name of the forking thread, so only the
    binary tells it apart. Each process's binary is read before its RSS:
    a fork whose binary no longer reads ``java`` has already exec'd, so
    the RSS read after it is its own."""
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    exe: dict[int, str | None] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        try:
            exe[pid] = os.readlink(f"/proc/{name}/exe")
        except OSError:
            exe[pid] = None
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
            ppid = int(st[st.rindex(")") + 2:].split()[1])
            with open(f"/proc/{name}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * page_kb
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        jvm = exe.get(p) if os.path.basename(exe.get(p) or "") == "java" else None
        stack.extend(c for c in kids.get(p, []) if jvm is None or exe.get(c) != jvm)
    return total


class RssSampler:
    """Peak summed RSS of this process tree, sampled every ``period`` s."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.period)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_kb / 1024.0


# -- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, layer, start, end, parent, request id).
    ``enabled=False`` makes every span a no-op, so one code path serves
    the untraced and the traced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, layer: str, name: str, rid=None):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"id": None, "layer": layer, "name": name, "rid": rid,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the time their children cover."""
        child_cover: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur = 0.0, None
            for a, b in sorted(child_cover.get(s["id"], [])):
                if cur is None or a > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [a, b]
                else:
                    cur[1] = max(cur[1], b)
            if cur:
                covered += cur[1] - cur[0]
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobCounter:
    """Spark jobs, stages and tasks caused by one block of code:
    a unique job group per block, read back through the status tracker.
    Jobs submitted from helper threads the program starts carry no group;
    those are picked up as new ungrouped job ids."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def count(self, out: dict):
        self.n += 1
        gid = f"perfbench-{os.getpid()}-{self.n}"
        st = self.sc.statusTracker()
        before = set(st.getJobIdsForGroup(None))
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = set(st.getJobIdsForGroup(gid)) | (set(st.getJobIdsForGroup(None)) - before)
            stages = [sid for j in jobs if (info := st.getJobInfo(j)) for sid in info.stageIds]
            tasks = sum(si.numTasks for sid in stages if (si := st.getStageInfo(sid)))
            out.update(jobs=len(jobs), stages=len(stages), tasks=tasks)


# -- statistics -------------------------------------------------------------

def pct(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    v = sorted(values)
    if not v:
        return float("nan")
    x = q * (len(v) - 1)
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def median(values) -> float:
    return pct(values, 0.5)


# -- HTTP -------------------------------------------------------------------

def http_search(port: int, params: dict, timeout: float = 120.0):
    """(status, body, seconds) for one GET /search."""
    url = f"http://127.0.0.1:{port}/search?" + urllib.parse.urlencode(params)
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(url, timeout=timeout) as r:
            status, raw = r.status, r.read()
    except urllib.error.HTTPError as e:
        status, raw = e.code, e.read()
    dt = time.perf_counter() - t0
    try:
        body = json.loads(raw)
    except ValueError:
        body = {"error": raw[:200].decode("utf-8", "replace")}
    return status, body, dt


# -- provenance -------------------------------------------------------------

def provenance(root: str, seed: int, cpus: int) -> dict:
    import pyarrow
    import pyspark

    rev = None
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        pass
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_rev": rev,
        "seed": seed,
        "session": f"local[{cpus}]",
    }
