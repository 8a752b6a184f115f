"""The closed-loop agent workload against a live ``ToolGateway``.

``CPUS`` clients each run agent turns back to back: exact search,
page 2 with page 1's cursor, lookups of the top two hits, ANN search.
The gateway runs in its own process (server.py); the clients are
threads of this process, each sending its next call only when the last
one has answered.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import threading
import time

import numpy as np

import gen
from procs import CPUS, HERE, Child, ProcSampler
from reference import ExactIndex, check_ranked, check_rows

N_DOCS = 2000
N_FILES = 8
K = 10          # rows per search page
NPROBE = 4      # ANN lists probed per query (of the tool's 16)
FULL_PROBE = 1_000_000  # clamped to n_lists: the exact-answer identity
TOOLS = {
    "lookup": "get_record_by_id",
    "search": "find_similar_customer_records",
    "page": "find_similar_customer_records_page",
    "ann": "find_similar_customer_records_ann",
}


class Inputs:
    """Everything a run sends, generated from the seed before the
    program starts."""

    def __init__(self, seed: int, work: str):
        self.data = os.path.join(work, "agent-data")
        corpus = gen.agent_corpus(seed, self.data, N_DOCS, N_FILES)
        self.index = ExactIndex(corpus["rows"])
        self.queries = gen.queries(seed, corpus["vocab"], 1000)
        self._next_q = itertools.count()
        self._next_turn = itertools.count()
        self._refs: dict = {}

    def query(self) -> str:
        return self.queries[next(self._next_q) % len(self.queries)]

    def turn(self) -> int:
        return next(self._next_turn)

    def ranking(self, q: str):
        """(reference top 2K ids, reference scores) for query ``q``."""
        if q not in self._refs:
            self._refs[q] = self.index.ranking(q, 2 * K)
        return self._refs[q]


class Client:
    """One HTTP caller; every call's record goes to ``calls``."""

    def __init__(self, port: int, calls: list, tag_ops: bool):
        self.port = port
        self.calls = calls
        self.tag_ops = tag_ops

    def call(self, kind: str, params: dict, **meta) -> dict:
        body = json.dumps(params).encode()
        headers = {"Content-Type": "application/json"}
        rec = {"kind": kind, "params": params,
               "op": f"{threading.get_ident()}-{time.perf_counter_ns()}", **meta}
        if self.tag_ops:
            headers["X-Bench-Op"] = rec["op"]
        t0 = time.perf_counter()
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=150)
            try:
                conn.request("POST", f"/api/tool/{TOOLS[kind]}/invoke", body, headers)
                resp = conn.getresponse()
                raw = resp.read()
                rec["status"] = resp.status
            finally:
                conn.close()
        except OSError as exc:
            raw, rec["status"] = b"", f"{type(exc).__name__}: {exc}"
        rec["t0"], rec["t1"] = t0, time.perf_counter()
        rec["bytes"] = len(raw)
        try:
            rec["result"] = json.loads(raw)["result"] if rec["status"] == 200 else None
        except (ValueError, KeyError, TypeError):
            rec["result"] = None
        self.calls.append(rec)
        return rec


def session_turn(client: Client, inputs: Inputs, turn: int) -> None:
    """One agent turn; a search without rows ends it early."""
    q = inputs.query()
    meta = {"turn": turn}
    hits = client.call("search", {"query_text": q, "limit": K}, **meta)["result"]
    if not hits:
        return
    last = hits[-1]
    client.call("page", {"query_text": q, "limit": K, "after_score": last["similarity"],
                         "after_id": last["doc_id"]}, **meta)
    for h in hits[:2]:
        client.call("lookup", {"record_id": str(h["doc_id"])}, want=h["doc_id"], **meta)
    client.call("ann", {"query_text": q, "limit": K, "nprobe": NPROBE}, **meta)


def warm_up(port: int, inputs: Inputs, q: str, doc_id: int) -> list[dict]:
    """The first call of each tool on a fresh server compiles its plans,
    and the first ANN call builds the IVF index. One call of each tool
    with inputs outside the timed set, one at a time: concurrent first
    calls can fail (see README). The ANN call probes every list, so it
    must equal the exact answer; the page cursor is the reference's
    rank-K row."""
    calls: list = []
    c = Client(port, calls, tag_ops=True)
    ranked, scores = inputs.ranking(q)
    cursor = ranked[K - 1]
    c.call("search", {"query_text": q, "limit": K})
    c.call("page", {"query_text": q, "limit": K,
                    "after_score": inputs.index.score_of(scores, cursor), "after_id": cursor})
    c.call("lookup", {"record_id": str(doc_id)}, want=doc_id)
    c.call("lookup", {"record_id": f"0{doc_id}"}, want=None)  # non-canonical: 0 rows
    c.call("ann", {"query_text": q, "limit": K, "nprobe": FULL_PROBE})
    return calls


def drive(port: int, inputs: Inputs, seconds: float, calls: list,
          tag_ops: bool) -> tuple[float, float]:
    """Closed loop of ``CPUS`` clients for ``seconds``; a turn begun
    before the deadline runs to its end. Returns (start, end)."""
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def loop():
        client = Client(port, calls, tag_ops)
        while time.perf_counter() < deadline:
            session_turn(client, inputs, inputs.turn())

    threads = [threading.Thread(target=loop) for _ in range(CPUS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return t_start, time.perf_counter()


def check_call(rec: dict, inputs: Inputs) -> str | None:
    """None when the call answered 200 with exactly the right rows."""
    if rec["status"] != 200 or rec["result"] is None:
        return f"status {rec['status']}"
    res = rec["result"]
    if rec["kind"] == "lookup":
        want = rec["want"]
        if want is None:
            return None if res == [] else f"{len(res)} rows for a non-canonical id"
        row = inputs.index.rows[want]
        exp = {k: row[k] for k in ("doc_id", "lang", "source", "n_chars", "text")}
        return None if res == [exp] else "wrong row"
    ranked, scores = inputs.ranking(rec["params"]["query_text"])
    if rec["kind"] == "search":
        return check_ranked(res, ranked[:K], scores, inputs.index)
    if rec["kind"] == "page":
        return check_ranked(res, ranked[K:2 * K], scores, inputs.index)
    if rec["params"]["nprobe"] >= FULL_PROBE:
        return check_ranked(res, ranked[:K], scores, inputs.index)
    if len(res) > K:
        return f"{len(res)} rows"
    return check_rows(res, scores, inputs.index)


def recall(rec: dict, inputs: Inputs) -> float:
    top = set(inputs.ranking(rec["params"]["query_text"])[0][:K])
    return len(top & {r["doc_id"] for r in rec["result"]}) / K


def pct(values, q: float) -> float:
    if not len(values):
        raise RuntimeError("no successful operation to take a percentile of")
    return float(np.percentile(np.asarray(values, dtype=float), q * 100))


def turn_ms(calls) -> list[float]:
    """Latency of each complete agent turn: the sum of its five calls."""
    turns: dict = {}
    for c in calls:
        if "turn" in c:
            turns.setdefault(c["turn"], []).append(c)
    return [
        1000 * sum(c["t1"] - c["t0"] for c in cs)
        for cs in turns.values()
        if len(cs) == 5 and all(c["status"] == 200 for c in cs)
    ]


def tail(values) -> tuple[str, float]:
    """The highest of p99/p90/p75/p50 with at least ten samples beyond
    it, as (name, value)."""
    for q in (0.99, 0.9, 0.75):
        if len(values) * (1 - q) >= 10:
            return f"p{round(q * 100)}", pct(values, q)
    return "p50", pct(values, 0.5)


def summarize(calls, inputs: Inputs) -> dict:
    """The run's figures per tool."""
    ok = [c for c in calls if c["status"] == 200]
    out: dict = {"calls": len(calls)}
    for kind in TOOLS:
        lat = [1000 * (c["t1"] - c["t0"]) for c in ok if c["kind"] == kind]
        if lat:
            out[f"{kind}_p50_ms"] = pct(lat, 0.5)
            out[f"{kind}_calls"] = len(lat)
    lat = [1000 * (c["t1"] - c["t0"]) for c in ok]
    if lat:
        name, value = tail(lat)
        out[f"tool_{name}_ms"] = value
    turns = turn_ms(calls)
    if turns:
        out["session_p50_ms"] = pct(turns, 0.5)
        out["sessions"] = len(turns)
    rec = [recall(c, inputs) for c in ok if c["kind"] == "ann" and not c["error"]]
    if rec:
        out["ann_recall_at_10"] = sum(rec) / len(rec)
    return out


def run(seed: int, seconds: float, trace: bool, work: str, setups: int) -> dict:
    """``setups`` fresh servers one after another, each set up, warmed
    and then driven for its share of ``seconds``; figures pool all of
    them. A traced run starts one server and drives it untraced for
    the first half of ``seconds`` and traced for the second."""
    inputs = Inputs(seed, work)
    trace_out = os.path.join(work, "trace.json") if trace else None
    n = 1 if trace else setups
    setup_s, warm, calls, windows = [], [], [], []
    peak = {"driver": 0, "worker": 0}
    cpu_s = 0.0
    for i in range(n):
        child = Child([os.path.join(HERE, "server.py"), "--data", inputs.data]
                      + (["--trace-out", trace_out] if trace else []),
                      work, trace, f"server-{i}.log")
        try:
            port = child.read(timeout=170)["port"]
            warm += warm_up(port, inputs, inputs.queries[-1 - i], i)
            setup_s.append(time.perf_counter() - child.t_start)
            with ProcSampler(child) as sampler:
                if trace:
                    # set-up ran traced (it builds the IVF index)
                    child.send("trace off")
                    child.read(timeout=60)
                    untraced = drive(port, inputs, seconds / 2, calls, True)
                    child.send("trace on")
                    gc0 = child.read(timeout=60)["gc_ms"]
                cpu0 = sampler.cpu_s()
                windows.append(drive(port, inputs, seconds / (2 if trace else n), calls, trace))
                cpu_s += sampler.cpu_s() - cpu0
                if trace:
                    child.send("trace off")
                    gc1 = child.read(timeout=60)["gc_ms"]
            peak["driver"] = max(peak["driver"], sampler.driver_rss_peak)
            peak["worker"] = max(peak["worker"], sampler.worker_rss_peak)
        finally:
            child.close(fast=not trace)
    for rec in warm + calls:
        rec["error"] = check_call(rec, inputs)
    failures = [f"{r['kind']}: {r['error']}" for r in warm + calls if r["error"]]
    wall = sum(b - a for a, b in windows)
    detail = summarize(calls, inputs)
    detail.update({
        "setup_s": setup_s, "failures": failures[:5],
        "driver_rss_mb_peak": peak["driver"] / 2**20,
        "worker_rss_mb_peak": peak["worker"] / 2**20,
        "cpu_util": cpu_s / (wall * CPUS),
    })
    if trace:
        import layers

        with open(trace_out) as fh:
            traced = json.load(fh)
        detail["gc_ms"] = gc1 - gc0
        metrics = layers.agent_metrics(calls, warm, {"untraced": untraced, "traced": windows[0]},
                                       traced, detail)
    else:
        metrics = {
            "setup_s": pct(setup_s, 0.5),
            "op_p50_ms": pct(turn_ms(calls), 0.5),
            "throughput_per_s": sum(1 for c in calls if c["status"] == 200) / wall,
        }
    return {"metrics": metrics, "detail": detail, "attempted": len(warm) + len(calls),
            "failed": len(failures)}
