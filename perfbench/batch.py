"""The batch workload: ingest (embedding backfill, IVF index build and
write) and training-corpus curation, driven pass by pass in a child
process (batchjob.py) over seeded inputs, with every output checked."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow.dataset as ds

import gen
from procs import CPUS, HERE, Child, ProcSampler

N_INGEST = 2000
N_CURATE_BASE = 200


def start_job(work: str, paths: dict, trace_out: str | None, i: int) -> Child:
    args = [os.path.join(HERE, "batchjob.py"), "--ingest", paths["ingest"],
            "--raw", paths["raw"], "--out", os.path.join(work, "out")]
    if trace_out:
        args += ["--trace-out", trace_out]
    child = Child(args, work, bool(trace_out), f"batch-{i}.log")
    try:
        child.read(timeout=170)
    except BaseException:
        child.close(fast=True)
        raise
    return child


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def check_pass(res: dict, ingest: dict, planted: dict) -> dict:
    """Per job of the pass, the reasons its outputs are wrong (an empty
    list: correct)."""
    from secure_agent_api_vector_search_spark.embedder import embed_text

    bad: dict = {"backfill": [], "index": [], "curate": []}
    if "error" in res:
        return {job: [res["error"]] for job in bad}
    if res["rows"] != ingest["n_docs"]:
        bad["backfill"].append(f"backfill wrote {res['rows']} rows, expected {ingest['n_docs']}")
    emb = ds.dataset(f"{res['out']}/embedded", format="parquet").to_table(
        columns=["doc_id", "embedding"]).to_pydict()
    by_id = dict(zip(emb["doc_id"], emb["embedding"]))
    for row in ingest["sample"]:
        if by_id.get(row["doc_id"]) != embed_text(row["text"]):
            bad["backfill"].append(f"vector of doc {row['doc_id']} differs from embed_text")
            break
    ids = ds.dataset(f"{res['out']}/index/lists", format="parquet",
                     partitioning="hive").to_table(columns=["doc_id"])["doc_id"].to_numpy()
    if len(ids) != ingest["n_docs"] or len(np.unique(ids)) != len(ids):
        bad["index"].append(f"index holds {len(ids)} rows ({len(np.unique(ids))} distinct) "
                            f"for {ingest['n_docs']} docs")
    a = res["audit"]
    if a["ingested"] != planted["generated"]:
        bad["curate"].append(f"ingested {a['ingested']}, generated {planted['generated']}")
    if a["quarantined"] != planted["malformed"]:
        bad["curate"].append(f"quarantined {a['quarantined']}, planted {planted['malformed']}")
    if a["split_train"] + a["split_val"] + a["split_test"] != a["after_decontamination"]:
        bad["curate"].append("splits do not sum to after_decontamination")
    if a.get("span_stripped_docs", 0) + a.get("span_emptied", 0) < 1:
        bad["curate"].append("span strip removed no planted span")
    return bad


def run(seed: int, seconds: float, trace: bool, work: str, setups: int) -> dict:
    data = os.path.join(work, "batch-data")
    ingest = gen.ingest_corpus(seed, data, N_INGEST, n_files=CPUS * 2)
    dump = gen.curation_dump(seed, data, N_CURATE_BASE)
    planted = dump["planted"]
    paths = {"ingest": ingest["path"], "raw": dump["path"]}
    trace_out = os.path.join(work, "trace.json") if trace else None
    n = 1 if trace else setups
    setup_s = []
    for i in range(n):
        child = start_job(work, paths, trace_out, i)
        setup_s.append(time.perf_counter() - child.t_start)
        if i < n - 1:
            child.close(fast=True)
    passes = []
    try:
        with ProcSampler(child) as sampler:
            cpu0 = sampler.cpu_s()
            t_start = time.perf_counter()
            while not passes or time.perf_counter() - t_start < seconds:
                child.send(f"pass {len(passes)}")
                passes.append(child.read(timeout=170))
            t_end = time.perf_counter()
            cpu1 = sampler.cpu_s()
    finally:
        child.close(fast=not trace)
    failures = []
    for res in passes:
        res["errors"] = check_pass(res, ingest, planted)
        failures += [f"{job}: {e}" for job, errs in res["errors"].items() for e in errs]
    passes_ok = [p for p in passes if "error" not in p]
    if not passes_ok:
        raise RuntimeError(f"no batch pass completed: {failures[:3]}")
    input_docs = ingest["n_docs"] + planted["generated"] + planted["malformed"]
    detail = {
        "passes": len(passes), "setup_s": setup_s, "planted": planted,
        "audit": passes_ok[0]["audit"], "failures": failures[:5],
        "ingest_docs_per_s": _median([ingest["n_docs"] / (p["backfill_s"] + p["index_build_s"])
                                      for p in passes_ok]),
        "curate_docs_per_s": _median([(planted["generated"] + planted["malformed"]) / p["curate_s"]
                                      for p in passes_ok]),
        "driver_rss_mb_peak": sampler.driver_rss_peak / 2**20,
        "worker_rss_mb_peak": sampler.worker_rss_peak / 2**20,
        "cpu_util": (cpu1 - cpu0) / ((t_end - t_start) * CPUS),
    }
    for k in ("backfill_s", "index_build_s", "curate_s", "wall_s"):
        detail[k] = _median([p[k] for p in passes_ok])
    if trace:
        import layers

        with open(trace_out) as fh:
            traced = json.load(fh)
        detail["gc_ms"] = traced["gc_ms"]
        res = passes_ok[0]
        sizes = {
            "index_bytes": dir_bytes(f"{res['out']}/index"),
            "embedded_bytes": dir_bytes(f"{res['out']}/embedded"),
            "input_bytes": ingest["input_bytes"], "n_docs": ingest["n_docs"],
        }
        metrics = layers.batch_metrics(passes_ok, traced, detail, sizes)
    else:
        metrics = {
            "setup_s": _median(setup_s),
            "op_p50_ms": 1000 * detail["wall_s"],
            "throughput_per_s": input_docs / detail["wall_s"],
        }
    return {"metrics": metrics, "detail": detail, "attempted": 3 * len(passes),
            "failed": sum(1 for p in passes for errs in p["errors"].values() if errs)}


def _median(values) -> float:
    return float(np.median(values))
