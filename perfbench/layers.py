"""Per-layer metrics of a traced run, computed from its spans.

Every run prints every per-layer metric; a layer the workload does not
exercise reads 0. Per-call figures are medians over the calls of the
traced window; a layer's self time is its spans' time minus the part
their child spans cover, per operation (tool call or pipeline pass).
"""

from __future__ import annotations

import statistics

TOOL_KINDS = ("lookup", "search", "page", "ann")
STAGES = ("ingest", "quality", "dedup", "span_strip", "decontam", "split_write")
SELF_LAYERS = ("gateway", "toolset", "tables", "lookup", "embedder", "ivf", "spark",
               "pipelines", "curate")
# curate_corpus's outputs (relative to its out_dir) -> the stage writing them
STAGE_OF_OUTPUT = {
    "rejects/parse": "ingest", "rejects/link_density": "ingest", "expectations": "ingest",
    "rejects/quality": "quality", "rejects/dedup": "dedup",
    "rejects/span_empty": "span_strip",
    "eval_reserved": "decontam", "rejects/contamination": "decontam",
    "rejects/lm_tail": "decontam",
    "train_shards": "split_write", "val": "split_write", "test": "split_write",
    "leakage_audit": "split_write",
}


def catalog() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    out = []
    for t in TOOL_KINDS:
        out += [(f"gateway.overhead_ms.{t}", "ms", "lower"),
                (f"gateway.response_bytes.{t}", "bytes", "lower"),
                (f"toolset.plan_ms.{t}", "ms", "lower"),
                (f"toolset.plan_jobs.{t}", "count", "lower"),
                (f"exec.ms.{t}", "ms", "lower"),
                (f"exec.jobs.{t}", "count", "lower"),
                (f"exec.tasks.{t}", "count", "lower"),
                (f"exec.task_cpu_ms.{t}", "ms", "lower"),
                (f"exec.rows_read.{t}", "count", "lower"),
                (f"exec.shuffle_bytes.{t}", "bytes", "lower")]
    out += [("toolset.validate_ms", "ms", "lower"),
            ("tables.load_documents_ms", "ms", "lower"),
            ("embedder.embed_text_ms", "ms", "lower"),
            ("embedder.corpus_rows_embedded.search", "count", "lower"),
            ("embedder.corpus_rows_embedded.page", "count", "lower"),
            ("ivf.build_s", "s", "lower"),
            ("ivf.rows_scored.ann", "count", "lower"),
            ("ivf.list_skew", "ratio", "lower"),
            ("pipelines.backfill_s", "s", "lower"),
            ("pipelines.index_build_s", "s", "lower"),
            ("pipelines.index_bytes_per_doc", "bytes", "lower"),
            ("pipelines.bytes_written_per_input_byte", "ratio", "lower")]
    out += [(f"curate.stage_s.{s}", "s", "lower") for s in STAGES]
    out += [("curate.stage_coverage", "ratio", "higher"),
            ("curate.spark_actions", "count", "lower"),
            ("curate.spark_jobs", "count", "lower"),
            ("curate.persist_calls", "count", "lower"),
            ("curate.shuffle_bytes", "bytes", "lower"),
            ("proc.driver_rss_mb_peak", "MB", "lower"),
            ("proc.worker_rss_mb_peak", "MB", "lower"),
            ("jvm.gc_ms", "ms", "lower"),
            ("proc.cpu_util", "ratio", "higher")]
    out += [(f"selftime_ms.{layer}", "ms", "lower") for layer in SELF_LAYERS]
    out += [("trace.overhead_pct", "%", "lower"),
            ("trace.bookkeeping_ms", "ms", "lower")]
    return out


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _children(spans: list[dict]) -> dict:
    out: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            out.setdefault(sp["parent"], []).append(sp)
    return out


def _covered(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict], n_ops: int) -> dict:
    """Per layer (span-name prefix), self time per operation in ms."""
    kids = _children(spans)
    acc = dict.fromkeys(SELF_LAYERS, 0.0)
    for sp in spans:
        layer = sp["name"].split(".")[0]
        if layer in acc:
            cov = _covered((c["start"], c["end"]) for c in kids.get(sp["id"], []))
            acc[layer] += _dur(sp) - cov
    return {f"selftime_ms.{k}": 1000 * v / max(n_ops, 1) for k, v in acc.items()}


def _descendants(sp: dict, kids: dict) -> list[dict]:
    out, frontier = [], [sp]
    while frontier:
        s = frontier.pop()
        out.append(s)
        frontier += kids.get(s["id"], [])
    return out


def _group_sum(spans, groups: dict, key: str) -> float:
    return sum(groups.get(s["group"], {}).get(key, 0) for s in spans if "group" in s)


def agent_metrics(calls: list, warm: list, phases: dict, traced: dict, detail: dict) -> dict:
    spans, groups = traced["spans"], traced["groups"]
    t0, t1 = phases["traced"]
    window = {c["op"]: c for c in calls if t0 <= c["t0"] <= t1 and c["status"] == 200}
    by_op: dict = {}
    for sp in spans:
        by_op.setdefault(sp["op"], []).append(sp)
    kids = _children(spans)
    per: dict = {}
    for op, call in window.items():
        sps = by_op.get(op, [])
        top = {s["name"]: s for s in sps if s["parent"] is None}
        if not {"toolset.validate", "toolset.plan", "spark.collect"} <= set(top):
            continue
        plan, ex = top["toolset.plan"], top["spark.collect"]
        served = _dur(top["toolset.validate"]) + _dur(plan) + _dur(ex)
        row = {
            "gateway.overhead_ms": 1000 * (call["t1"] - call["t0"] - served),
            "gateway.response_bytes": call["bytes"],
            "toolset.plan_ms": 1000 * _dur(plan),
            "toolset.plan_jobs": _group_sum(_descendants(plan, kids), groups, "jobs"),
            "exec.ms": 1000 * _dur(ex),
        }
        g = groups.get(ex.get("group"), {})
        for k in ("jobs", "tasks", "task_cpu_ms", "rows_read", "shuffle_bytes"):
            row[f"exec.{k}"] = g.get(k, 0)
        row["embed_rows"] = _group_sum(sps, groups, "embed_rows")
        row["scored"] = g.get("cache_filter_rows", 0)
        per.setdefault(call["kind"], []).append(row)
    values: dict = {}
    for kind, rows in per.items():
        for k in rows[0]:
            if k not in ("embed_rows", "scored"):
                values[f"{k}.{kind}"] = _median(r[k] for r in rows)
    for kind in ("search", "page"):
        values[f"embedder.corpus_rows_embedded.{kind}"] = _median(
            r["embed_rows"] for r in per.get(kind, []))
    values["ivf.rows_scored.ann"] = _median(r["scored"] for r in per.get("ann", []))
    in_window = [s for s in spans if s["op"] in window]
    for name, key in (("toolset.validate", "toolset.validate_ms"),
                      ("tables.load_documents", "tables.load_documents_ms"),
                      ("embedder.embed_text", "embedder.embed_text_ms")):
        values[key] = 1000 * _median(_dur(s) for s in in_window if s["name"] == name)
    # the lazy index build happens inside the first ANN call (set-up)
    builds = [s for s in spans if s["name"] == "ivf.build_ivf"]
    if builds:
        plan = next((s for s in spans if s["id"] == builds[0]["parent"]), builds[0])
        values["ivf.build_s"] = _dur(plan)
    values["ivf.list_skew"] = traced.get("list_skew", 0.0)
    values.update(self_times(in_window, len(window)))
    untraced = [c for c in calls if phases["untraced"][0] <= c["t0"] <= phases["untraced"][1]
                and c["status"] == 200]
    lat_u = _median(c["t1"] - c["t0"] for c in untraced)
    lat_t = _median(c["t1"] - c["t0"] for c in window.values())
    values["trace.overhead_pct"] = 100 * (lat_t - lat_u) / lat_u if lat_u else 0.0
    n_traced = len(warm) + sum(1 for c in calls if t0 <= c["t0"] <= t1)
    values["trace.bookkeeping_ms"] = 1000 * traced["bookkeeping_s"] / max(n_traced, 1)
    values.update(_resources(detail))
    return values


def _resources(detail: dict) -> dict:
    return {
        "proc.driver_rss_mb_peak": detail["driver_rss_mb_peak"],
        "proc.worker_rss_mb_peak": detail["worker_rss_mb_peak"],
        "proc.cpu_util": detail["cpu_util"],
        "jvm.gc_ms": detail["gc_ms"],
    }


def curate_stages(spans: list[dict], groups: dict) -> dict:
    """Stage times of one ``curate_corpus`` span tree. Each Spark action
    belongs to the stage of the next output written (a write belongs to
    the stage owning its path) and is charged the time since the
    previous action ended, so plan building between actions counts
    too."""
    kids = _children(spans)
    cur = next((s for s in spans if s["name"] == "pipelines.curate_corpus"), None)
    if cur is None:
        return {}
    inside = _descendants(cur, kids)[1:]
    grouped = [s for s in inside if "group" in s]
    action_ids = {s["id"] for s in grouped}
    # time only outermost actions: a nested one is inside its parent's
    actions = sorted((s for s in grouped if s["parent"] not in action_ids),
                     key=lambda s: s["start"])
    stage_of = []
    for s in actions:
        path = s.get("path", "")
        stage_of.append(next((st for key, st in STAGE_OF_OUTPUT.items()
                              if path.endswith("/" + key)), None))
    nxt = "split_write"
    for i in range(len(actions) - 1, -1, -1):
        if stage_of[i] is None:
            stage_of[i] = nxt
        nxt = stage_of[i]
    values = {f"curate.stage_s.{s}": 0.0 for s in STAGES}
    prev = cur["start"]
    for s, stage in zip(actions, stage_of):
        values[f"curate.stage_s.{stage}"] += s["end"] - prev
        prev = s["end"]
    values["curate.stage_coverage"] = (prev - cur["start"]) / _dur(cur)
    values["curate.spark_actions"] = len(grouped)
    values["curate.spark_jobs"] = _group_sum(grouped, groups, "jobs")
    values["curate.shuffle_bytes"] = _group_sum(grouped, groups, "shuffle_bytes")
    values["curate.persist_calls"] = sum(1 for s in inside if s["name"] == "spark.persist")
    return values


def batch_metrics(passes: list, traced: dict, detail: dict, sizes: dict) -> dict:
    spans, groups = traced["spans"], traced["groups"]
    first = [s for s in spans if s["op"] == "pass-0"]
    values = curate_stages(first, groups)
    values["pipelines.backfill_s"] = detail["backfill_s"]
    values["pipelines.index_build_s"] = detail["index_build_s"]
    values["pipelines.index_bytes_per_doc"] = sizes["index_bytes"] / sizes["n_docs"]
    values["pipelines.bytes_written_per_input_byte"] = (
        (sizes["index_bytes"] + sizes["embedded_bytes"]) / sizes["input_bytes"])
    values.update(self_times(first, 1))
    values["trace.bookkeeping_ms"] = 1000 * traced["bookkeeping_s"] / len(passes)
    values["trace.overhead_pct"] = 100 * traced["bookkeeping_s"] / sum(p["wall_s"] for p in passes)
    values.update(_resources(detail))
    return values
