"""HTTP service façade — the reference's route table over DP3Engine.

Route parity with server/routes/routes.go:32-68 (the one §2.5 surface
previously declared a non-goal): every handler was already an engine
method (engine.py "Service surface" section); this module adds only the
wire — stdlib ThreadingHTTPServer, JSON request bodies with the
reference's field names (query.go:34-44, statrange.go:15-22,
delete.go:14-20, import.go:16-19, export.go:14-20), JSON-lines query
output, MCAP bytes for /export, and bearer shared-key auth on the
mutating routes (util/mw/middleware.go:59-77 — the reference itself
documents shared-key as demo-grade, so stdlib-only is the honest
equivalent; production fronts Spark with a real gateway).

| route | method | handler |
|---|---|---|
| /                                        | GET      | banner "dp3" |
| /export                                  | POST     | merged-topic MCAP stream |
| /statrange                               | POST/GET | binned stats for one topic |
| /databases                               | GET      | database names |
| /databases/{db}/query                    | POST     | QL -> JSON lines (explain/skeleton/limit/offset) |
| /databases/{db}/topics                   | GET      | topic list |
| /databases/{db}/tables                   | GET      | catalog table summary |
| /databases/{db}/producers                | GET      | producer list |
| /databases/{db}/schemas/{hash}           | GET      | schema registry lookup (404 on miss) |
| /databases/{db}/statistics               | GET      | base summary rows |
| /databases/{db}/tail                     | GET      | rows after ?from= version + new cursor |
| /databases/{db}/statistics/available     | GET      | available-statistics rows |
| /delete                                  | POST/GET (auth) | tombstone a range |
| /databases/{db}/import                   | POST (auth) | import MCAP by path |
| /databases/{db}/producers/{p}/import     | POST (auth) | import MCAP request body |
"""

from __future__ import annotations

import dataclasses
import json
import re
import tempfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from dp3_spark.engine import DP3Engine
from dp3_spark.operators.merge import sort_rows
from dp3_spark.ql import parse

# names interpolated into a QL statement (export route): anything outside
# this set could change the parsed statement shape
_QL_NAME = re.compile(r"[A-Za-z0-9_\-./]+")

# charset-legal names that are nevertheless QL reserved words: a producer
# or topic literally named 'between' would change the assembled statement
# shape ('from dev1 between ...') even though every character passes
# _QL_NAME, so reserved words are rejected too (QL has no quoting yet).
# Mirror of every word ql/parser.py eat_word/at_word consumes.
_QL_KEYWORDS = frozenset(
    {
        "from", "between", "and", "or", "where", "desc", "limit",
        "offset", "precedes", "succeeds", "neighbors", "immediate",
        "by", "as", "now", "explain", "truncate",
    }
)


class DatabaseNotFound(Exception):
    """Unknown database name -> 404 (the reference's route semantics);
    kept distinct from KeyError so missing request-body fields still map
    to 400."""


class DP3Service:
    """Serve one or more named databases, each backed by a DP3Engine.

    schema_registries: optional {db: registry DataFrame} from
    read_mcap_schemas for the /schemas/{hash} route."""

    def __init__(
        self,
        engines: dict[str, DP3Engine],
        *,
        shared_key: str = "",
        schema_registries: dict | None = None,
    ):
        if not engines:
            raise ValueError("need at least one database")
        self.engines = engines
        self.shared_key = shared_key
        self.schema_registries = schema_registries or {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------- wire

    def start(self, host: str = "127.0.0.1", port: int = 0) -> tuple[str, int]:
        svc = self

        class Handler(BaseHTTPRequestHandler):
            # chunked transfer framing is an HTTP/1.1 construct — a 1.0
            # status line with Transfer-Encoding: chunked mis-frames the
            # body for spec-compliant clients (and forces
            # connection-per-request on the tail poller)
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet test output
                pass

            def do_GET(self):
                svc._dispatch(self, "GET")

            def do_POST(self):
                svc._dispatch(self, "POST")

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self._server.server_address[:2]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None

    # -------------------------------------------------------- dispatch

    def _dispatch(self, h: BaseHTTPRequestHandler, method: str) -> None:
        try:
            self._route(h, method)
        except Exception as e:  # surface, never hang the socket
            if getattr(h, "_dp3_streaming", False):
                # chunked headers already sent: an error response is
                # impossible — drop the connection so the client sees a
                # truncated chunk stream instead of a silent short body
                h.close_connection = True
                return
            name = type(e).__name__
            if "NotFound" in name:
                code = 404
            elif isinstance(e, (ValueError, KeyError)):
                code = 400
            else:
                code = 500
            _respond(h, code, {"error": f"{name}: {e}"})

    def _route(self, h: BaseHTTPRequestHandler, method: str) -> None:
        url = urlparse(h.path)
        parts = [p for p in url.path.split("/") if p]
        params = {k: v[-1] for k, v in parse_qs(url.query).items()}

        if not parts:
            _raw(h, 200, b"dp3", "text/plain")
            return
        if parts == ["databases"] and method == "GET":
            _respond(h, 200, sorted(self.engines))
            return
        if parts == ["statrange"]:
            req = {**params, **_body(h)}
            eng = self._engine(req.get("database"))
            if req.get("quantiles"):
                # quantile stats ride the summary store's persisted
                # DDSketch columns when servable (engine.stat_quantiles);
                # the reference keeps quantile summaries on inner nodes
                # for the same reason (nodestore/statistics.go:129-155)
                qs = req["quantiles"]
                if isinstance(qs, str):
                    qs = [float(x) for x in qs.split(",") if x]
                flds = _fields(req.get("fields")) or ("value",)
                if len(flds) != 1:
                    # silently quantiling only fields[0] would misattribute
                    # p-columns; one field per request, explicit
                    raise ValueError(
                        f"quantiles accept exactly one field, got {list(flds)}"
                    )
                df = eng.stat_quantiles(
                    topic=req["topic"],
                    start_ns=int(req["start"]),
                    end_ns=int(req["end"]),
                    granularity_ns=int(req["granularity"]),
                    field=flds[0],
                    quantiles=tuple(qs),
                    producer=req.get("producer") or None,
                )
            else:
                df = eng.stat_range(
                    topic=req["topic"],
                    start_ns=int(req["start"]),
                    end_ns=int(req["end"]),
                    granularity_ns=int(req["granularity"]),
                    numeric_fields=_fields(req.get("fields")),
                    producer=req.get("producer") or None,
                )
            _respond(h, 200, _rows(df))
            return
        if parts == ["export"] and method == "POST":
            req = _body(h)
            eng = self._engine(req.get("database"))
            # the QL statement is assembled from request strings: reject
            # any name containing QL metacharacters (whitespace, ',', ';',
            # quotes, ...) so a crafted value can never change the parsed
            # statement shape.  A charset check — NOT catalog membership —
            # because (a) membership costs two full-corpus distinct scans
            # per request, and (b) a hostile name that was previously
            # INGESTED passes membership yet still rewrites the statement;
            # the charset gate blocks it regardless of catalog state.
            # Unknown-but-well-formed names just export zero rows.
            producer = req["producer"]
            for name in [producer, *req["topics"]]:
                if name == "*":
                    continue
                if not _QL_NAME.fullmatch(name):
                    raise ValueError(
                        f"name {name!r} contains QL metacharacters "
                        "(allowed: letters, digits, '_', '-', '.', '/')"
                    )
                if name.lower() in _QL_KEYWORDS:
                    raise ValueError(
                        f"name {name!r} is a reserved QL keyword"
                    )
            topics = ", ".join(sorted(req["topics"]))
            ql = f"from {producer} {topics}"
            if req.get("start") is not None and req.get("end") is not None:
                ql += f" between {int(req['start'])} and {int(req['end'])}"
            # stream the MCAP as it is produced (query_to_mcap writes
            # incrementally off toLocalIterator) — never buffer the full
            # export in the service process (reference pipes its response
            # the same way, routes/export.go)
            out = _ChunkedWriter(h, "application/octet-stream")
            eng.query_mcap(ql + ";", out)
            out.close()
            return
        if parts == ["delete"]:
            if not self._authed(h):
                return
            req = {**params, **_body(h)}
            eng = self._engine(req.get("database"))
            v = eng.delete(
                req["producer"], req["topic"], int(req["start"]), int(req["end"])
            )
            _respond(h, 200, {"version": v})
            return

        if len(parts) >= 2 and parts[0] == "databases":
            db = parts[1]
            eng = self._engine(db)
            rest = parts[2:]
            if rest == ["query"] and method == "POST":
                self._query(h, eng)
                return
            if rest == ["topics"]:
                _respond(h, 200, eng.topics())
                return
            if rest == ["producers"]:
                _respond(h, 200, eng.producers())
                return
            if rest == ["tables"]:
                df = eng.tables()
                if params.get("producer"):
                    df = df.filter(df["producer"] == params["producer"])
                if params.get("topic"):
                    df = df.filter(df["topic"] == params["topic"])
                _respond(h, 200, _rows(df))
                return
            if len(rest) == 2 and rest[0] == "schemas":
                from dp3_spark.sources.mcap import schema_by_hash

                reg = self.schema_registries.get(db)
                if reg is None:
                    _respond(h, 404, {"error": f"no schema registry for {db}"})
                    return
                row = schema_by_hash(reg, rest[1])
                d = row.asDict()
                d["schema_data"] = bytes(d["schema_data"]).decode(
                    "utf-8", "replace"
                )
                _respond(h, 200, d)
                return
            if rest == ["statistics"]:
                df = eng.summarize(
                    granularity_ns=int(params.get("granularity", 60 * 10**9)),
                    numeric_fields=_fields(params.get("fields")),
                )
                if params.get("topic"):
                    df = df.filter(df["topic"] == params["topic"])
                _respond(h, 200, _rows(df))
                return
            if rest == ["tail"]:
                # poll-based tail (cli/cmd/tail.go shape): rows appended
                # strictly after ?from=, plus the new cursor.  JSON lines:
                # first line carries the version so a client can stream
                # rows without buffering them behind one object.  The
                # ?limit= cap cuts at a VERSION boundary: a follow client
                # advances its cursor to the served version, so serving
                # "latest version" with a row-truncated body would strand
                # the capped-off rows forever.  Per-version counts are one
                # row per append since `from` — a bounded collect — and at
                # least one version always ships, so the poller makes
                # progress even when a single append exceeds the cap.
                frm = int(params.get("from", 0))
                cap = int(params.get("limit", 10000))
                # per-version counts from the write manifests when the
                # table carries them — zero data IO per poll; the legacy
                # groupBy(version) derivation scans everything past the
                # cursor and pays a full listing per poll at scale
                counts = None
                try:
                    counts = eng.tail_version_counts(frm)
                except Exception:
                    counts = None
                # bound: the exact row count of a manifest-planned body,
                # which lets a small one sort in one task (sort_rows)
                rows, upto, bound = None, frm, None
                if counts is not None:
                    upto, n = frm, 0
                    for v, c in counts:
                        if n and n + c > cap:
                            break
                        upto, n = v, n + c
                    if upto > frm:
                        rows, bound = eng.tail_slice(frm, upto), n
                        if rows is None:
                            # the manifests vanished between the plan and
                            # the read (a compact raced this poll): the
                            # cursor MUST NOT advance past rows that were
                            # never served — re-derive both from the scan
                            counts = None
                if counts is None:
                    bound = None
                    tl = eng.tail(frm)
                    per_v = (
                        tl.groupBy("version").count().orderBy("version").collect()
                    )
                    upto, n = frm, 0
                    for r in per_v:
                        if n and n + r["count"] > cap:
                            break
                        upto, n = r["version"], n + r["count"]
                    rows = (
                        tl.filter(tl["version"] <= upto) if upto > frm else None
                    )
                out = _ChunkedWriter(h, "application/json")
                out.write(json.dumps({"version": upto}).encode() + b"\n")
                if rows is not None:
                    rows = sort_rows(
                        rows, ["log_time", "producer", "topic", "sequence"], bound
                    )
                    for s in rows.toJSON().toLocalIterator():
                        out.write((s if isinstance(s, str) else s[0]).encode() + b"\n")
                out.close()
                return
            if rest == ["statistics", "available"]:
                _respond(h, 200, _rows(eng.available_statistics()))
                return
            if rest == ["import"] and method == "POST":
                if not self._authed(h):
                    return
                req = _body(h)
                v = eng.import_mcap([(req["path"], req["producer"])])
                _respond(h, 200, {"version": v})
                return
            if len(rest) == 3 and rest[0] == "producers" and rest[2] == "import":
                if not self._authed(h):
                    return
                # stream the upload to disk in 64 KiB pieces — the body is
                # an arbitrarily large MCAP file and must never be held in
                # service memory whole (the response-side discipline,
                # applied to the request side)
                with tempfile.NamedTemporaryFile(suffix=".mcap") as f:
                    remaining = int(h.headers.get("Content-Length") or 0)
                    while remaining > 0:
                        piece = h.rfile.read(min(65536, remaining))
                        if not piece:
                            raise ValueError("truncated import body")
                        f.write(piece)
                        remaining -= len(piece)
                    f.flush()
                    v = eng.import_mcap([(f.name, rest[1])])
                _respond(h, 200, {"version": v})
                return
        _respond(h, 404, {"error": f"no route for {method} {url.path}"})

    # -------------------------------------------------------- handlers

    def _query(self, h: BaseHTTPRequestHandler, eng: DP3Engine) -> None:
        req = _body(h)
        stmt = req["query"]
        if req.get("explain"):
            df = eng.execute(stmt)
            txt = "" if df is None else df._jdf.queryExecution().toString()
            _respond(h, 200, {"explain": txt})
            return
        from dp3_spark.output import to_json_lines

        off = int(req.get("offset") or 0)
        lim = int(req.get("limit") or 0)
        parsed = parse(stmt)
        q = parsed.query
        # bound the scan BEFORE materialization: QL output is time-ordered
        # by construction, so its first off+lim rows are the deterministic
        # head.  A query folds that head into its own limit (applied after
        # its offset), so the compiler plans one top-k sort for it; an
        # explain statement's plan text is not folded and is cut after.
        fold = bool(lim) and q is not None and not q.explain
        if fold:
            head = off + lim if q.limit is None else min(q.limit, off + lim)
            parsed = dataclasses.replace(parsed, query=dataclasses.replace(q, limit=head))
        df = eng.execute(parsed)
        if df is None:  # truncate statement
            _respond(h, 200, {"ok": True})
            return
        if lim and not fold:
            df = df.limit(off + lim)
        lines_df = to_json_lines(df, skeleton=bool(req.get("skeleton")))
        # stream the response as it executes (routes/query.go:92-135 pipes
        # results the same way): toLocalIterator pulls one partition at a
        # time, so an unlimited query of a big topic never materializes on
        # the service process
        out = _ChunkedWriter(h, "application/json")
        for i, row in enumerate(lines_df.toLocalIterator()):
            if i < off:
                continue
            line = row if isinstance(row, str) else row[0]
            out.write(line.encode() + b"\n")
        out.close()

    # --------------------------------------------------------- helpers

    def _engine(self, db: str | None) -> DP3Engine:
        if db is None:
            if len(self.engines) == 1:
                return next(iter(self.engines.values()))
            raise ValueError("database is required")
        if db not in self.engines:
            raise DatabaseNotFound(f"unknown database {db!r}")
        return self.engines[db]

    def _authed(self, h: BaseHTTPRequestHandler) -> bool:
        if not self.shared_key:
            return True
        import hmac

        tok = h.headers.get("Authorization", "")
        # bearer scheme required (middleware.go parseBearerToken parity);
        # constant-time compare
        if tok.startswith("Bearer ") and hmac.compare_digest(
            tok[len("Bearer "):].strip(), self.shared_key
        ):
            return True
        _respond(h, 401, {"error": "invalid token"})
        return False


class _ChunkedWriter:
    """File-like over the response socket using HTTP/1.1 chunked transfer
    encoding.  Headers go out lazily on the first SOCKET EMIT (not the
    first buffered write), so a handler that fails before any bytes hit
    the wire — even after buffering a sub-64 KiB prefix like the tail
    cursor line — still gets a proper 4xx/5xx; only a failure after the
    first emitted chunk must drop the connection (the client sees a
    truncated chunk stream, never a silent short body).  Writes are
    buffered to ~64 KiB chunks so a line-at-a-time producer doesn't emit
    a chunk frame per line."""

    CHUNK = 64 * 1024

    def __init__(self, h: BaseHTTPRequestHandler, ctype: str):
        self.h = h
        self.ctype = ctype
        self.started = False
        self.buf = bytearray()

    def _start(self) -> None:
        if not self.started:
            self.h.send_response(200)
            self.h.send_header("Content-Type", self.ctype)
            self.h.send_header("Transfer-Encoding", "chunked")
            self.h.end_headers()
            self.h._dp3_streaming = True  # dispatch: error responses impossible now
            self.started = True

    def _emit(self, data: bytes) -> None:
        self._start()
        self.h.wfile.write(b"%x\r\n" % len(data) + data + b"\r\n")

    def write(self, data: bytes) -> int:
        self.buf += data
        if len(self.buf) >= self.CHUNK:
            self._emit(bytes(self.buf))
            self.buf.clear()
        return len(data)

    def flush(self) -> None:
        if self.buf:
            self._emit(bytes(self.buf))
            self.buf.clear()

    def close(self) -> None:
        self._start()  # zero-row result still yields a valid empty response
        self.flush()
        self.h.wfile.write(b"0\r\n\r\n")


def _fields(v) -> tuple[str, ...]:
    """fields arrive as a JSON list (POST body) or a comma-joined string
    (GET query param) — a bare string must split, never char-iterate."""
    if not v:
        return ("value",)
    if isinstance(v, str):
        return tuple(s for s in v.split(",") if s)
    return tuple(v)


def _body(h: BaseHTTPRequestHandler) -> dict:
    data = _raw_body(h)
    if not data:
        return {}
    out = json.loads(data)
    if not isinstance(out, dict):
        raise ValueError("request body must be a JSON object")
    return out


def _raw_body(h: BaseHTTPRequestHandler) -> bytes:
    n = int(h.headers.get("Content-Length") or 0)
    return h.rfile.read(n) if n else b""


def _strs(collected) -> list[str]:
    """toJSON() yields plain strings (RDD) in classic Spark, Rows in some
    connect shims — accept both."""
    return [r if isinstance(r, str) else r[0] for r in collected]


def _rows(df) -> list[dict]:
    return [json.loads(s) for s in _strs(df.toJSON().collect())]


def _respond(h: BaseHTTPRequestHandler, code: int, obj) -> None:
    _raw(h, code, json.dumps(obj).encode(), "application/json")


def _raw(h: BaseHTTPRequestHandler, code: int, data: bytes, ctype: str) -> None:
    h.send_response(code)
    h.send_header("Content-Type", ctype)
    h.send_header("Content-Length", str(len(data)))
    h.end_headers()
    h.wfile.write(data)
