"""Long-lived query server: the reference's actual deployment shape.

The reference serves searches from a resident FastAPI process whose
sqlite connection (and page cache) stays warm across requests
(viewer.py:115-139 — `/api/search` calls translateSearchString + one
SELECT per request on a long-lived connection). The Spark-native analog
is a resident driver process holding ONE SparkSession and ONE
``SearchEngine(cache_tables=True)``: docs + dictionary pinned in
executor memory, Catalyst plan shapes compiled once, the driver-side
term cache accumulating across requests. A cold one-shot ``cli.py
search`` pays session startup + first-plan codegen per query (~10 s);
this server pays them once at boot and serves steady-state queries at
the warm latencies BENCH reports.

FastAPI is not a baked-in dependency here, so the HTTP layer is the
stdlib ``ThreadingHTTPServer`` — same JSON surface, zero extra deps.
Spark drivers schedule jobs from concurrent request threads safely
(each request is an independent action; the engine's caches are
read-mostly and guarded by the GIL for the dict updates).

Endpoints (all JSON):

- ``GET /search?q=...&k=...`` — query params mirror ``cli.py search``
  flags (role, tool_present, after, before, conv_prefix, order,
  websearch, field_weights); response shape is identical to the CLI's
  (``results`` + ``debug.dbtime_ms`` + parsed echo — Q13/Q14).
- ``GET /healthz`` — liveness.
- ``GET /stats`` — index stats (doc/posting counts, avgdl).
- ``POST /refresh`` — re-list index generations after an incremental
  build or compaction (snapshot semantics otherwise).
"""

from __future__ import annotations

import json
import math
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


def validate_conv_prefix(conv_prefix):
    """Facet input validation shared by the CLI and the server — the
    analog of the reference's domain-facet normalize+reject
    (db_sqlite.py:107-117). Returns the cleaned prefix or raises
    ValueError."""
    if conv_prefix is None:
        return None
    conv_prefix = conv_prefix.strip()
    if not conv_prefix or any(ch in conv_prefix for ch in ' \t\n;%&"'):
        raise ValueError("invalid conv_prefix")
    return conv_prefix


def parse_ts_param(v):
    """Parse an after/before query param. A pure ISO date stays a
    ``date`` so the engine applies the reference's endpoint coercion
    (pure-date range EXCLUDES both endpoint days); a full ISO datetime
    is strict at that instant."""
    if v is None:
        return None
    import datetime as dt

    try:
        return dt.date.fromisoformat(v)
    except ValueError:
        pass
    try:
        return dt.datetime.fromisoformat(v)
    except ValueError:
        raise ValueError(f"invalid timestamp: {v!r}")


def shape_response(res, rows, dbtime_ms):
    """Q13 result shaping + Q14 timing — one shape for CLI and server."""
    return {
        "results": [r.asDict(recursive=True) for r in rows],
        "debug": {
            "dbtime_ms": round(dbtime_ms, 1),
            "parsed": {
                "and": res.parsed.and_terms,
                "phrases": res.parsed.phrases,
                "not": res.parsed.not_terms,
                "not_groups": res.parsed.not_groups,
                "not_phrases": res.parsed.not_phrases,
                "near": [[tg, n] for tg, n in res.parsed.nears],
                "anchor": res.parsed.anchors,
                "col": [
                    [
                        ("-" if neg else "")
                        + (cols[0] if len(cols) == 1 else "{" + " ".join(cols) + "}"),
                        toks,
                    ]
                    for cols, neg, toks in res.parsed.col_filters
                ],
                "prefix": res.parsed.prefixes,
                "not_prefix": res.parsed.not_prefixes,
                "prefix_phrase": [
                    [lead, s] for lead, s in res.parsed.prefix_phrases
                ],
                "or": res.parsed.or_groups,
                "or_phrases": res.parsed.or_phrase_groups,
                # raw-FTS5 boolean structure the flat fields can't
                # express (s-expression; None for flat-lowered queries)
                "tree": (
                    res.parsed.tree.describe() if res.parsed.tree else None
                ),
            },
            "pruning": res.pruning,
        },
    }


class QueryServer:
    """Resident search server over one warm SearchEngine.

    ``start()`` binds and serves on a daemon thread (use ``port=0`` to
    bind an ephemeral port, then read ``.port``); ``serve_forever()``
    blocks (the CLI entry point); ``stop()`` shuts the listener down.
    """

    def __init__(
        self,
        spark,
        index_dir: str | None = None,
        host: str = "127.0.0.1",
        port: int = 8080,
        cache_tables: bool = True,
        prune_min_postings: int | None = None,
        engine=None,
        auto_refresh: bool = False,
    ):
        from aspublic_spark.query.engine import SearchEngine

        if engine is None:
            if index_dir is None:
                raise ValueError("pass index_dir or an existing engine")
            kw = {}
            if prune_min_postings is not None:
                kw["prune_min_postings"] = prune_min_postings
            # auto_refresh: probe the manifest per search so a server
            # following an ingest stream serves new generations without
            # an explicit POST /refresh (costs one listdir + one pointer
            # read per query; POST /refresh stays the zero-probe path)
            engine = SearchEngine(
                spark, index_dir, cache_tables=cache_tables,
                auto_refresh=auto_refresh, **kw,
            )
        self.spark = spark
        self.engine = engine
        self.host = host
        self._requested_port = port
        self._httpd = None
        self._thread = None
        self.started_at = time.time()
        self.n_requests = 0

    # ---- lifecycle ----

    @property
    def port(self) -> int:
        return self._httpd.server_address[1] if self._httpd else self._requested_port

    def _make_server(self):
        handler = _make_handler(self)
        httpd = ThreadingHTTPServer((self.host, self._requested_port), handler)
        httpd.daemon_threads = True
        return httpd

    def start(self):
        self._httpd = self._make_server()
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def serve_forever(self):
        self._httpd = self._make_server()
        self._httpd.serve_forever()

    def stop(self):
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    def warm(self, queries: tuple[str, ...] = ()):
        """Compile the per-family plan shapes once at boot (first-ever
        query of a shape pays ~1 s of Catalyst/codegen — a resident
        server absorbs that before taking traffic). Callers pass corpus
        terms; absent terms still compile the plans."""
        for q in queries:
            try:
                self.engine.search(q, k=1).df.collect()
            except Exception:
                pass

    # ---- request handling ----

    def handle_search(self, params: dict) -> tuple[int, dict]:
        from aspublic_spark.query.parser import (
            parse_fts5,
            parse_query,
            parse_websearch,
        )

        def one(name, default=None):
            v = params.get(name)
            return v[0] if v else default

        q = one("q", "")
        try:
            k = int(one("k", "50"))
        except ValueError:
            return 400, {"error": "k must be an integer"}
        role = one("role")
        tool_present = one("tool_present")
        if tool_present is not None:
            tool_present = tool_present.lower() in ("1", "true", "yes")
        order = one("order", "bm25")
        websearch = one("websearch", "0").lower() in ("1", "true", "yes")
        fts5 = one("fts5", "0").lower() in ("1", "true", "yes")
        fw = one("field_weights")
        try:
            fw = [float(x) for x in fw.split(",")] if fw else None
            if fw is not None and not all(map(math.isfinite, fw)):
                raise ValueError
        except ValueError:
            return 400, {"error": "field_weights must be finite numbers"}
        try:
            conv_prefix = validate_conv_prefix(one("conv_prefix"))
            after = parse_ts_param(one("after"))
            before = parse_ts_param(one("before"))
        except ValueError as e:
            return 400, {"error": str(e)}
        try:
            res = self.engine.search(
                q,
                k=k,
                role=role,
                tool_present=tool_present,
                after=after,
                before=before,
                conv_prefix=conv_prefix,
                order=order,
                parser=(
                    parse_websearch if websearch
                    else parse_fts5 if fts5
                    else parse_query
                ),
                field_weights=fw,
            )
            t0 = time.time()
            rows = res.df.collect()
            dbtime_ms = (time.time() - t0) * 1000
        except Exception as e:  # surface engine errors as JSON, keep serving
            return 400, {"error": f"{type(e).__name__}: {e}"}
        return 200, shape_response(res, rows, dbtime_ms)

    def handle_stats(self) -> tuple[int, dict]:
        from aspublic_spark.index import build as B

        stats = B.read_stats(self.engine.index_dir)
        return 200, {
            "stats": stats,
            "uptime_sec": round(time.time() - self.started_at, 1),
            "n_requests": self.n_requests,
        }

    def handle_refresh(self) -> tuple[int, dict]:
        self.engine.refresh()
        return 200, {"refreshed": True}


def _make_handler(server: QueryServer):
    class Handler(BaseHTTPRequestHandler):
        # one resident QueryServer per handler class
        def _reply(self, code: int, payload: dict):
            body = json.dumps(payload, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            server.n_requests += 1
            u = urlparse(self.path)
            if u.path == "/healthz":
                self._reply(200, {"ok": True})
            elif u.path == "/search":
                code, payload = server.handle_search(parse_qs(u.query))
                self._reply(code, payload)
            elif u.path == "/stats":
                code, payload = server.handle_stats()
                self._reply(code, payload)
            else:
                self._reply(404, {"error": "not found"})

        def do_POST(self):
            server.n_requests += 1
            u = urlparse(self.path)
            if u.path == "/refresh":
                code, payload = server.handle_refresh()
                self._reply(code, payload)
            else:
                self._reply(404, {"error": "not found"})

        def log_message(self, fmt, *args):  # quiet: Spark logs are noisy enough
            pass

    return Handler
