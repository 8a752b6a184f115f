"""The gateway under test, in its own process.

    python3 perfbench/server.py --data DIR [--trace-out FILE]

Starts a fresh Spark session and a ``ToolGateway`` over DIR serving
``customer_data_tools_v3``, prints ``{"port": N}`` on stdout, then obeys
lines on stdin: ``trace on`` / ``trace off`` switch span recording
(only with ``--trace-out``) and ``stop`` (or end of input) writes the
trace, stops the gateway and Spark, and exits.
"""

from __future__ import annotations

import argparse
import http.server
import json
import sys


def install_tracer(spark):
    """Spans at every layer boundary a tool call crosses, wrapped from
    here around the program's public functions."""
    from secure_agent_api_vector_search_spark import embedder
    from secure_agent_api_vector_search_spark import toolset as TS
    from secure_agent_api_vector_search_spark.operators import ivf, lookup
    from secure_agent_api_vector_search_spark.sources import tables

    from tracing import Tracer

    tracer = Tracer(spark)
    tracer.wrap(TS.Tool, "validate", "toolset.validate")
    seen = set()
    for tools in TS._TOOLSETS.values():
        for tool in tools:
            if id(tool) not in seen:
                seen.add(id(tool))
                tracer.wrap(tool, "fn", "toolset.plan", group=True)
    tracer.wrap(tables, "load_documents", "tables.load_documents")
    tracer.wrap(embedder, "embed_text", "embedder.embed_text")
    tracer.wrap(ivf, "build_ivf", "ivf.build_ivf")
    tracer.wrap(ivf, "ivf_search", "ivf.ivf_search")
    tracer.wrap(lookup, "get_record_by_id", "lookup.get_record_by_id")
    tracer.install_spark()

    # the operation id travels in a request header the client sets
    parse = http.server.BaseHTTPRequestHandler.parse_request

    def parse_request(self):
        ok = parse(self)
        if ok:
            tracer.begin_op(self.headers.get("X-Bench-Op"))
        return ok

    http.server.BaseHTTPRequestHandler.parse_request = parse_request
    return tracer


def list_skew(data: str) -> float:
    """max/mean list size of the gateway's memoized IVF index."""
    from secure_agent_api_vector_search_spark import toolset as TS
    from secure_agent_api_vector_search_spark.operators.ivf import list_balance_stats

    entry = TS._ANN_STORE.get(data)
    return list_balance_stats(entry[1])["skew"] if entry else 0.0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    from secure_agent_api_vector_search_spark.gateway import ToolGateway
    from secure_agent_api_vector_search_spark.session import get_session

    spark = get_session("perfbench-gateway")
    tracer = install_tracer(spark) if args.trace_out else None
    gateway = ToolGateway(spark, args.data, toolsets=("customer_data_tools_v3",))
    if tracer is not None:
        handler = gateway._server.RequestHandlerClass
        tracer.wrap(handler, "_send", "gateway.send")
        tracer.enabled = True
    gateway.start()
    print(json.dumps({"port": gateway.address[1]}), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.strip()
            if cmd == "stop":
                break
            if tracer is not None and cmd in ("trace on", "trace off"):
                tracer.enabled = cmd == "trace on"
                print(json.dumps({"ack": cmd, "gc_ms": tracer.gc_ms()}), flush=True)
    finally:
        gateway.stop()
        if tracer is not None:
            tracer.enabled = False
            tracer.dump(args.trace_out, {"list_skew": list_skew(args.data)})
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
