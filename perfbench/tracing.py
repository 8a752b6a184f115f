"""Spans around the program's public functions, installed from the
benchmark's own code.

A span records name, start, end, its parent span and the operation it
belongs to (a tool call, or a pass of the batch pipeline); spans stay in
memory until :meth:`Tracer.dump`. Every Spark action issued inside a
span runs under a job group named after that span, so the status REST
API can attribute jobs, stages and SQL metrics to it afterwards
(Python call sites cannot: most read ``$anonfun$withThreadLocalCaptured``
or ``NativeMethodAccessorImpl.java:0``).
"""

from __future__ import annotations

import dataclasses
import functools
import itertools
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.bookkeeping_s = 0.0
        self._book_lock = threading.Lock()

    # -- context -------------------------------------------------------
    def begin_op(self, op: str) -> None:
        """Mark the current thread as working for operation ``op``."""
        self._local.op = op
        self._local.stack = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.op = None
        return self._local.stack

    @contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield None
            return
        t_book = time.perf_counter()
        stack = self._stack()
        sp = {
            "id": next(self._ids), "name": name, "op": self._local.op,
            "parent": stack[-1]["id"] if stack else None,
        }
        prev = None
        if group:
            sp["group"] = f"bench-{sp['id']}"
            prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
            self.sc.setJobGroup(sp["group"], name)
        stack.append(sp)
        self._book(time.perf_counter() - t_book)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t_book = time.perf_counter()
            stack.pop()
            if prev is not None:
                for k, v in zip(_GROUP_KEYS, prev):
                    self.sc.setLocalProperty(k, v)
            self.spans.append(sp)
            self._book(time.perf_counter() - t_book)

    def _book(self, dt: float) -> None:
        with self._book_lock:
            self.bookkeeping_s += dt

    # -- installation --------------------------------------------------
    def wrap(self, owner, attr: str, name: str, group: bool = False,
             describe=None) -> None:
        """Replace ``owner.attr`` by a traced version of itself;
        ``describe(args, kwargs)`` adds fields to each span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, group=group) as sp:
                if sp is not None and describe is not None:
                    sp.update(describe(args, kwargs))
                return fn(*args, **kwargs)

        try:
            setattr(owner, attr, traced)
        except dataclasses.FrozenInstanceError:  # a Tool instance
            object.__setattr__(owner, attr, traced)

    def install_spark(self) -> None:
        """Spans around the DataFrame actions and writer calls; each
        runs under its own job group."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for attr in ("collect", "count"):
            self.wrap(DataFrame, attr, f"spark.{attr}", group=True)
        self.wrap(DataFrame, "persist", "spark.persist")
        for attr in ("parquet", "json", "save"):
            self.wrap(DataFrameWriter, attr, f"spark.write.{attr}", group=True,
                      describe=_write_path)

    # -- read-back -----------------------------------------------------
    def rest(self, path: str):
        base = self.sc.uiWebUrl
        app = self.sc.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}", timeout=60) as r:
            return json.load(r)

    def gc_ms(self) -> float:
        """JVM GC time of the (local-mode) driver executor so far."""
        return float(sum(e.get("totalGCTime", 0) for e in self.rest("executors")))

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write spans plus the per-group Spark job, stage and SQL
        metrics to ``path`` (JSON)."""
        jobs = self.rest("jobs")
        stages = self.rest("stages")
        sql = self.rest("sql?details=true&planDescription=true&offset=0&length=1000000")
        groups: dict[str, dict] = {}
        stage_by_id = {}
        for st in stages:
            stage_by_id.setdefault(st["stageId"], []).append(st)
        job_group = {}
        for j in jobs:
            g = j.get("jobGroup")
            if not g or not g.startswith("bench-"):
                continue
            job_group[j["jobId"]] = g
            m = groups.setdefault(g, _zero())
            m["jobs"] += 1
            for sid in j.get("stageIds", []):
                for st in stage_by_id.get(sid, []):
                    if st.get("status") == "SKIPPED":
                        continue
                    m["tasks"] += st.get("numTasks", 0)
                    m["task_cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
                    m["rows_read"] += st.get("inputRecords", 0)
                    m["shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
            g = next((job_group[i] for i in ids if i in job_group), None)
            if g is None:
                continue
            nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
            rows = {i: next((_metric_int(m.get("value")) for m in n.get("metrics", [])
                             if m.get("name") == "number of output rows"), 0)
                    for i, n in nodes.items()}
            m = groups[g]
            for i, n in nodes.items():
                m["node_rows"][n["nodeName"]] = m["node_rows"].get(n["nodeName"], 0) + rows[i]
            for i in _embed_node_ids(ex.get("planDescription", ""), nodes):
                m["embed_rows"] += rows[i]
            # rows surviving the filter over a cached relation: the
            # IVF probe's list filter over the memoized index
            for e in ex.get("edges", []):
                child, parent = nodes.get(e["fromId"]), nodes.get(e["toId"])
                if child and parent and child["nodeName"] == "InMemoryTableScan" \
                        and parent["nodeName"] == "Filter":
                    m["cache_filter_rows"] += rows[e["toId"]]
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "groups": groups,
                       "bookkeeping_s": self.bookkeeping_s, **(extra or {})}, fh)


def _write_path(args, kwargs) -> dict:
    path = args[1] if len(args) > 1 else kwargs.get("path")
    return {"path": str(path)} if path is not None else {}


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "task_cpu_ms": 0.0, "rows_read": 0,
            "shuffle_bytes": 0, "embed_rows": 0, "cache_filter_rows": 0, "node_rows": {}}


def _embed_node_ids(plan: str, nodes: dict) -> list[int]:
    """REST node ids of the ArrowEvalPython nodes evaluating the corpus
    embedding UDF (``embedder.embed_udf``'s ``_embed``). Only the
    formatted plan names a node's UDF, and it numbers operators leaf
    first while the REST node ids count from the root, so the two
    ArrowEvalPython lists are matched in opposite orders."""
    # an adaptive plan also prints its initial plan, under new ids
    final = set(re.findall(r"ArrowEvalPython \((\d+)\)", plan.split("== Initial Plan ==")[0]))
    sections = [m for m in re.findall(r"\((\d+)\) ArrowEvalPython\n(.*?)(?:\n\n|\Z)", plan, re.S)
                if m[0] in final]
    sections.sort(key=lambda m: int(m[0]))
    rest = sorted((i for i, n in nodes.items() if n["nodeName"] == "ArrowEvalPython"),
                  reverse=True)
    if len(sections) != len(rest):
        return []
    return [i for i, (_, body) in zip(rest, sections) if "_embed(" in body]


def _metric_int(value) -> int:
    """A row-count SQL metric arrives as a display string ('20,000')."""
    try:
        return int(str(value).split()[0].replace(",", ""))
    except (ValueError, IndexError):
        return 0
