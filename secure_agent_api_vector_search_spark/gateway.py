"""HTTP tool gateway (U4, served form) — the minimal network surface
the reference exposes its toolset through.

Reference mapping: the reference serves `tools.yaml:1-44` with the MCP
Toolbox server and agents discover it over HTTP
(`ToolboxSyncClient("http://127.0.0.1:5000").load_toolset(...)`,
agent/agent.py:6-8). The Toolbox server's public wire shape is

    GET  /api/toolset/{toolsetName}        -> tool manifest (JSON-Schema)
    POST /api/tool/{toolName}/invoke       -> validated invocation

This module reproduces exactly that shape over the in-process
`toolset.py` registry, with stdlib ``http.server`` only — no new
dependencies. Everything below the socket is the same zero-trust
surface the in-process path uses: named tools only, JSON-typed
parameters validated BEFORE any plan is built (toolset.py Tool.__call__,
U5), never raw SQL. Validation failures map to 400 with the validation
message; unknown tools/toolsets to 404; results are returned as JSON
rows capped at ``row_cap`` (an agent tool result is a context-window
payload, not a bulk export — the cap keeps the gateway from becoming an
unbounded collect path).

Serving model: ``ThreadingHTTPServer`` on a caller-chosen port (port 0
= ephemeral, used by the tests). Spark job submission is thread-safe,
so concurrent tool calls simply become concurrent Spark jobs on the
shared session. ``ToolGateway`` is a context manager; ``serve()``
blocks, ``start()`` runs on a daemon thread for embedding in tests or a
driver process.

Request log: every response logs one structured INFO line on this
module's logger — ``request {"method", "tool", "status", "rows",
"validate_ms", "plan_ms", "execute_ms", "serialize_ms"}`` as JSON, the
phases a request reached. INFO is off unless the embedding process
enables it (``logging.getLogger(__name__).setLevel(logging.INFO)``).
"""

from __future__ import annotations

import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from secure_agent_api_vector_search_spark import toolset as TS

_SERVER_VERSION = "secure-agent-api-vector-search-spark/gateway"
_log = logging.getLogger(__name__)


def _ms(t0: float) -> float:
    return round(1000 * (time.perf_counter() - t0), 1)


class ToolGateway:
    """Serve one or more toolsets over HTTP from a live SparkSession."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        row_cap: int = 1000,
        toolsets: tuple[str, ...] | None = None,
    ) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.row_cap = row_cap
        # scope: a gateway serves ONLY the toolsets it was configured
        # with — a v2-only tool must not be invocable through a gateway
        # whose manifest exposes just customer_data_tools (the manifest
        # and the invocation surface must agree). None = all registered.
        self.toolsets = tuple(toolsets) if toolsets is not None else tuple(TS._TOOLSETS)
        for name in self.toolsets:
            TS.load_toolset(name)  # fail fast on unknown names
        gateway = self

        class Handler(BaseHTTPRequestHandler):
            tool_name: str | None = None  # the invoked tool, for the request log

            # http.server's own lines (access line, parse errors) go to
            # this module's logger at DEBUG, never to stderr; the
            # request line is _send's
            def log_message(self, fmt, *args):  # noqa: A002
                _log.debug(fmt, *args)

            def _send(self, code: int, payload: dict, timing: dict | None = None) -> None:
                """Serialize and write one response, logging the
                request's one structured INFO line first: tool, status,
                rows, the phase times in ``timing`` (validate / plan /
                execute) and serialize."""
                t = time.perf_counter()
                body = json.dumps(payload).encode("utf-8")
                if _log.isEnabledFor(logging.INFO):
                    rec = {
                        "method": self.command,
                        "tool": self.tool_name,
                        "status": code,
                        "rows": payload.get("rowCount", 0),
                        **(timing or {}),
                        "serialize_ms": _ms(t),
                    }
                    _log.info("request %s", json.dumps(rec))
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:  # noqa: N802 (http.server contract)
                parts = [p for p in self.path.split("/") if p]
                if len(parts) == 3 and parts[:2] == ["api", "toolset"]:
                    if parts[2] not in gateway.toolsets:
                        self._send(
                            404, {"error": f"toolset {parts[2]!r} not served here"}
                        )
                        return
                    try:
                        schemas = TS.toolset_schemas(parts[2])
                    except KeyError as exc:
                        self._send(404, {"error": str(exc)})
                        return
                    self._send(200, {
                        "serverVersion": _SERVER_VERSION,
                        "tools": {s["name"]: s for s in schemas},
                    })
                    return
                self._send(404, {"error": f"no route {self.path!r}"})

            def do_POST(self) -> None:  # noqa: N802
                parts = [p for p in self.path.split("/") if p]
                if not (
                    len(parts) == 4
                    and parts[:2] == ["api", "tool"]
                    and parts[3] == "invoke"
                ):
                    self._send(404, {"error": f"no route {self.path!r}"})
                    return
                self.tool_name = parts[2]
                tool = gateway._find_tool(parts[2])
                if tool is None:
                    self._send(404, {"error": f"unknown tool {parts[2]!r}"})
                    return
                n = int(self.headers.get("Content-Length") or 0)
                try:
                    params = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(params, dict):
                        raise ValueError("request body must be a JSON object")
                except ValueError as exc:
                    self._send(400, {"error": f"bad request body: {exc}"})
                    return
                t = time.perf_counter()
                try:
                    # bind step alone (Tool.validate): ONLY genuine
                    # zero-trust rejections map to 400 — a TypeError
                    # raised later, inside plan build or execution, is
                    # a server fault and stays a 500
                    tool.validate(**params)
                except TypeError as exc:
                    self._send(400, {"error": str(exc)}, {"validate_ms": _ms(t)})
                    return
                timing = {"validate_ms": _ms(t)}
                try:
                    t = time.perf_counter()
                    df = tool.fn(gateway.spark, gateway.sf_dir, **params)
                    timing["plan_ms"] = _ms(t)
                    t = time.perf_counter()
                    rows = [
                        r.asDict(recursive=True)
                        for r in df.limit(gateway.row_cap).collect()
                    ]
                    timing["execute_ms"] = _ms(t)
                except Exception:  # noqa: BLE001 — plan/exec failure
                    # semantically invalid values that pass type checks
                    # (negative limits, analysis errors) surface from
                    # the engine; the client must get a JSON error,
                    # never a dropped connection — and a GENERIC one:
                    # raw exception text (paths, SQL fragments, class
                    # names) stays in the server-side log, not on the
                    # wire of a zero-trust surface
                    _log.exception("tool %r failed", parts[2])
                    self._send(500, {"error": "internal server error"}, timing)
                    return
                self._send(200, {"result": rows, "rowCount": len(rows)}, timing)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    def _find_tool(self, name: str) -> TS.Tool | None:
        for ts_name in self.toolsets:
            for t in TS._TOOLSETS[ts_name]:
                if t.name == name:
                    return t
        return None

    @property
    def address(self) -> tuple[str, int]:
        return self._server.server_address[:2]

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"

    def start(self) -> "ToolGateway":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def serve(self) -> None:
        self._server.serve_forever()

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

    def __enter__(self) -> "ToolGateway":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
