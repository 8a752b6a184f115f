"""The batch pipeline under test, in its own process.

    python3 perfbench/batchjob.py --ingest DIR --raw DIR --out DIR \\
        [--trace-out FILE]

Starts a fresh Spark session and prints ``{"ready": true}``. Each
``pass N`` line on stdin then runs one pipeline pass and prints its
timings and audit: ``run_backfill_job`` and ``build_and_write_index``
over the ingest corpus, then ``curate_corpus`` over the raw dump.
``stop`` (or end of input) writes the trace and exits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

STRIP_SPANS_K = 20
N_SHARDS = 4


def install_tracer(spark):
    from secure_agent_api_vector_search_spark import embedder, pipelines
    from secure_agent_api_vector_search_spark.operators import (
        components, curation, dedup, ivf, substr, textops,
    )
    from secure_agent_api_vector_search_spark.sources import ingest_formats

    from tracing import Tracer

    tracer = Tracer(spark)
    for attr in ("run_backfill_job", "build_and_write_index", "curate_corpus"):
        tracer.wrap(pipelines, attr, f"pipelines.{attr}")
    tracer.wrap(embedder, "embed_udf", "embedder.embed_udf")
    tracer.wrap(ivf, "build_ivf", "ivf.build_ivf")
    tracer.wrap(ivf, "write_ivf", "ivf.write_ivf")
    for owner, attrs in (
        (ingest_formats, ("load_jsonl_documents",)),
        (textops, ("html_extract",)),
        (dedup, ("dedup_normalized_keep_first", "minhash_near_dup_pairs")),
        (components, ("keep_first",)),
        (substr, ("strip_dup_spans",)),
        (curation, ("contamination_check", "dataset_split", "write_epoch_shards")),
    ):
        for attr in attrs:
            tracer.wrap(owner, attr, f"curate.{attr}")
    tracer.install_spark()
    return tracer


def one_pass(spark, args, n: int) -> dict:
    from secure_agent_api_vector_search_spark import pipelines as P

    out = os.path.join(args.out, f"pass-{n}")
    t0 = time.perf_counter()
    rows = P.run_backfill_job(spark, args.ingest, f"{out}/embedded")
    t1 = time.perf_counter()
    n_lists = P.build_and_write_index(spark, f"{out}/embedded", f"{out}/index", id_col="doc_id")
    t2 = time.perf_counter()
    audit = P.curate_corpus(
        spark, args.raw, f"{out}/curated", min_quality=0.25,
        strip_spans_k=STRIP_SPANS_K, n_shards=N_SHARDS,
    )
    t3 = time.perf_counter()
    return {"out": out, "rows": rows, "n_lists": n_lists, "audit": audit,
            "backfill_s": t1 - t0, "index_build_s": t2 - t1, "curate_s": t3 - t2,
            "wall_s": t3 - t0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ingest", required=True)
    ap.add_argument("--raw", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    from secure_agent_api_vector_search_spark.session import get_session

    spark = get_session("perfbench-batch")
    tracer = install_tracer(spark) if args.trace_out else None
    if tracer is not None:
        tracer.enabled = True
        gc0 = tracer.gc_ms()
    print(json.dumps({"ready": True}), flush=True)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if cmd[:1] == ["pass"]:
                if tracer is not None:
                    tracer.begin_op(f"pass-{cmd[1]}")
                try:
                    res = one_pass(spark, args, int(cmd[1]))
                except Exception as exc:  # noqa: BLE001 — reported as a failed pass
                    traceback.print_exc()
                    res = {"error": f"{type(exc).__name__}: {exc}"}
                print(json.dumps(res), flush=True)
            elif cmd[:1] == ["stop"]:
                break
    finally:
        if tracer is not None:
            tracer.enabled = False
            tracer.dump(args.trace_out, {"gc_ms": tracer.gc_ms() - gc0})
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
