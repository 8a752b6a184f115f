"""Agent tool-discovery surface (U4) — the engine-side equivalent of
the reference's toolbox client + toolset config.

Reference mapping: `agent/agent.py:6-17` loads the named toolset
`customer_data_tools` from the secure API and hands the discovered
tools to an LLM agent; `tools.yaml:12-44` declares each tool as
(name, description, typed parameters, statement). The LLM orchestration
itself (google-adk / gemini) is a declared non-goal (SURVEY §7) — what
IS rebuilt here is everything below it, the part that makes the API
"secure by construction":

- **discovery**: ``load_toolset("customer_data_tools")`` returns typed
  tool descriptors, including a JSON-Schema parameters block in the
  shape LLM tool-calling APIs consume;
- **typed invocation**: ``tool(spark, sf_dir, **params)`` validates
  names, types, and requiredness BEFORE any plan is built — callers can
  only run named tools with validated parameters, never raw SQL
  (README.md:67, U5). Unknown tool, unknown param, missing param, or a
  type mismatch each raise, mirroring the toolbox server's contract.

Tools are bound to the same engine paths the named-query catalog uses:
`find_similar_customer_records` → driver-side query embed + exact
cosine top-k (tools.yaml:13-27); `get_record_by_id` → typed point
lookup (tools.yaml:28-38).

Every tool reads one corpus store (:func:`_corpus`), kept per
``sf_dir`` and corpus version like the reference's backfilled
``abstract_embeddings`` column (sql/04_embeddings.sql): the documents
relation, the corpus vectors embedded once and persisted, and the IVF
index built lazily from those vectors. A warm call embeds only its
query text (tools.yaml:24-26): exact search and the keyset page score
the stored vectors, the ANN tool probes the stored index, the lookup
filters the stored documents relation.
"""

from __future__ import annotations

import os
import re
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Module-level on purpose: tool functions run on gateway request
# threads, and first calls that import at call time can race each
# other into Python's import-lock deadlock detection (_DeadlockError).
# Modules, not functions, so callers see attributes rebound after
# import (tracing wrappers).
from secure_agent_api_vector_search_spark import embedder
from secure_agent_api_vector_search_spark.operators import ivf, lookup, topk
from secure_agent_api_vector_search_spark.sources import tables

_PY_TYPES = {"string": str, "integer": int, "number": (int, float), "boolean": bool}


@dataclass(frozen=True)
class ToolParam:
    name: str
    type: str  # "string" | "integer" | "number" | "boolean"
    description: str = ""
    required: bool = True


@dataclass(frozen=True)
class Tool:
    name: str
    description: str
    parameters: tuple[ToolParam, ...]
    fn: Callable[..., DataFrame]

    def json_schema(self) -> dict:
        """The parameters block in LLM tool-calling shape."""
        return {
            "name": self.name,
            "description": self.description,
            "parameters": {
                "type": "object",
                "properties": {
                    p.name: {"type": p.type, "description": p.description}
                    for p in self.parameters
                },
                "required": [p.name for p in self.parameters if p.required],
            },
        }

    def validate(self, **params) -> None:
        """The BIND step alone: names, requiredness, JSON types — every
        zero-trust rejection raises TypeError HERE, before any plan is
        built. Separated from __call__ so transport layers (gateway.py)
        can map genuine bind failures to 400 while anything raised
        inside execution — including a server-side TypeError — stays a
        server fault."""
        declared = {p.name: p for p in self.parameters}
        unknown = set(params) - set(declared)
        if unknown:
            raise TypeError(f"{self.name}: unknown parameter(s) {sorted(unknown)}")
        missing = [p.name for p in self.parameters if p.required and p.name not in params]
        if missing:
            raise TypeError(f"{self.name}: missing required parameter(s) {missing}")
        for name, value in params.items():
            want = _PY_TYPES[declared[name].type]
            if isinstance(value, bool) and declared[name].type != "boolean":
                raise TypeError(f"{self.name}: {name} must be {declared[name].type}")
            if not isinstance(value, want):
                raise TypeError(
                    f"{self.name}: {name} must be {declared[name].type}, "
                    f"got {type(value).__name__}"
                )

    def __call__(self, spark: SparkSession, sf_dir: str, **params) -> DataFrame:
        self.validate(**params)
        return self.fn(spark, sf_dir, **params)


# sf_dir → (fingerprint, documents, vectors)
_CORPUS_STORE: dict[str, tuple[str, DataFrame, DataFrame]] = {}
# sf_dir → (fingerprint, index); perfbench/server.py reads entry[1]
_ANN_STORE: dict[str, tuple[str, ivf.IvfIndex]] = {}
_BUILD_LOCK = threading.RLock()  # store builds and drops


def _corpus_fingerprint(sf_dir: str) -> str:
    """Cheap content-change detector for the documents corpus under
    ``sf_dir``: (relpath, size, mtime_ns) of every parquet file. Keys
    the corpus store so a rewritten corpus is re-read and re-embedded
    instead of served stale. ``""`` means the corpus cannot be statted
    locally (a non-local URI or a missing path): no change could be
    detected, so such a corpus is never stored."""
    local = sf_dir[len("file:"):] if sf_dir.startswith("file:") else sf_dir
    if local.startswith("//"):  # file:///abs/path
        local = local[2:]
    path = os.path.join(local, "documents.parquet")
    parts: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), path)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def _embed_corpus(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.col("doc_id").alias("vec_id"),
        embedder.embed_udf(64)(F.col("text")).alias("embedding"),
    )


def _corpus(spark: SparkSession, sf_dir: str) -> tuple[str, DataFrame, DataFrame]:
    """(fingerprint, documents, vectors) of the corpus under ``sf_dir``
    — the corpus store, the engine's stored embedding column (the
    reference backfills ``abstract_embeddings`` once,
    sql/04_embeddings.sql, and a tool call embeds only its query).

    Built once per corpus version: the documents relation is loaded
    once (file listing and schema resolved once, not persisted) and
    the vectors are embedded once, persisted and materialized here, so
    a warm call starts no Spark job before its collect. A changed
    fingerprint drops the old entry (vectors and IVF index together)
    and rebuilds; builds run under one lock, so concurrent first calls
    build once. A corpus that cannot be statted locally bypasses the
    store: read and embedded per call."""
    fp = _corpus_fingerprint(sf_dir)
    if not fp:
        docs = tables.load_documents(spark, sf_dir)
        return fp, docs, _embed_corpus(docs)
    entry = _CORPUS_STORE.get(sf_dir)
    if entry is None or entry[0] != fp:
        with _BUILD_LOCK:
            entry = _CORPUS_STORE.get(sf_dir)
            if entry is None or entry[0] != fp:
                invalidate_corpus_store(sf_dir)
                docs = tables.load_documents(spark, sf_dir)
                vectors = _embed_corpus(docs).persist()
                vectors.count()
                entry = _CORPUS_STORE[sf_dir] = (fp, docs, vectors)
    return entry


def _ann_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, ivf.IvfIndex]:
    """(documents, IVF index) — the index built lazily from the stored
    vectors, its assignment persisted, under the same lock and
    fingerprint as the corpus store."""
    fp, docs, vectors = _corpus(spark, sf_dir)
    if not fp:
        return docs, ivf.build_ivf(vectors, n_lists=16, seed=42)
    entry = _ANN_STORE.get(sf_dir)
    if entry is None or entry[0] != fp:
        with _BUILD_LOCK:
            entry = _ANN_STORE.get(sf_dir)
            if entry is None or entry[0] != fp:
                index = ivf.build_ivf(vectors, n_lists=16, seed=42)
                index.assigned.persist().count()  # serve probes from a hot store
                if entry is not None:  # built from a corpus version since replaced
                    entry[1].assigned.unpersist()
                entry = _ANN_STORE[sf_dir] = (fp, index)
    return docs, entry[1]


def invalidate_corpus_store(sf_dir: str | None = None) -> None:
    """The drop hook: release one corpus dir's stored vectors and IVF
    index together (both unpersisted), or every dir's."""
    with _BUILD_LOCK:
        everything = _CORPUS_STORE.keys() | _ANN_STORE.keys()
        for k in [sf_dir] if sf_dir is not None else list(everything):
            corpus = _CORPUS_STORE.pop(k, None)
            if corpus is not None:
                corpus[2].unpersist()
            ann = _ANN_STORE.pop(k, None)
            if ann is not None:
                ann[1].assigned.unpersist()


def _find_similar(spark: SparkSession, sf_dir: str, query_text: str, limit: int) -> DataFrame:
    _fp, docs, vectors = _corpus(spark, sf_dir)
    return topk.find_similar_records(docs, vectors, embedder.embed_text(query_text, 64), k=limit)


def _find_similar_page(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    limit: int,
    after_score: float,
    after_id: int,
) -> DataFrame:
    """Keyset-paginated U1: the page strictly after the
    (after_score, after_id) cursor — page 1's last row, handed back by
    the caller. Same projection as find_similar_customer_records, so a
    client pages by swapping tools and threading the cursor. Page 2
    reads the stored vectors but re-scores the whole corpus."""
    _fp, docs, vectors = _corpus(spark, sf_dir)
    top = topk.topk_similar_after(
        vectors,
        embedder.embed_text(query_text, 64),
        last_score=float(after_score),
        last_id=after_id,
        k=limit,
    )
    return topk.join_back_documents(top, docs)


def _find_similar_ann(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    limit: int,
    nprobe: int,
) -> DataFrame:
    """U1 through the V5 ANN path — README.md:51's "high-speed
    similarity search" made literal: the IVF index is built once per
    corpus version from the corpus store's vectors (the index
    lifecycle; see :func:`_corpus`), the query probes only the
    ``nprobe`` nearest lists, and the projection is byte-identical to
    find_similar_customer_records (join_back_documents — the shared U1
    contract). ``nprobe`` is the
    recall/latency knob: clamped to [1, n_lists]; at n_lists the answer
    is exactly the exact tool's (the gate-pinned full-probe identity).
    The exact tool stays the reference-faithful default (V6: the
    reference's own index routes L2 under a cosine query and is unused
    by its planner — here the approximate path is explicit opt-in)."""
    docs, index = _ann_index(spark, sf_dir)
    n_lists = len(index.centroids)
    top = ivf.ivf_search(
        index,
        embedder.embed_text(query_text, 64),
        k=limit,
        nprobe=max(1, min(int(nprobe), n_lists)),
    )
    return topk.join_back_documents(top, docs)


def _get_record(spark: SparkSession, sf_dir: str, record_id: str) -> DataFrame:
    """record_id is a STRING, matching the reference contract
    (tools.yaml:34-35 declares ``type: string`` — ids there are
    VARCHAR(25) like ``POL-10326103``). The testdata documents table
    keys on a bigint doc_id, so the string is cast internally with
    VARCHAR-equality semantics: only the CANONICAL decimal rendering of
    an id matches (``"42"`` — not ``"042"``, ``" 42 "``, ``"+42"``, or
    Unicode digits, all of which ``int()`` would silently normalize but
    a reference-side ``record_id = $1`` string compare would not). Any
    non-canonical id binds like any other unmatched VARCHAR value —
    0 rows, never an error and never interpolated SQL (U5)."""
    _fp, docs, _vectors = _corpus(spark, sf_dir)
    # canonical decimal AND inside int64 — a 20+-digit numeral is valid
    # for the reference's VARCHAR(25) ids but can never equal a bigint
    # key, so it binds 0 rows instead of overflowing F.lit (U5: never
    # an error)
    if (
        re.fullmatch(r"0|[1-9][0-9]*", record_id) is None
        or int(record_id) > 0x7FFFFFFFFFFFFFFF
    ):
        return docs.select(*lookup.LOOKUP_COLUMNS).limit(0)
    return lookup.get_record_by_id(docs, int(record_id))


_TOOLSETS: dict[str, tuple[Tool, ...]] = {
    "customer_data_tools": (
        Tool(
            name="find_similar_customer_records",
            description="Semantic search over insurance policies and articles.",
            parameters=(
                # both parameters are REQUIRED, as in the reference: the
                # toolbox config (tools.yaml:18-21) declares them with no
                # optionality and the statement binds both $1 and $2
                ToolParam("query_text", "string", "natural-language search query"),
                ToolParam("limit", "integer", "max results"),
            ),
            fn=_find_similar,
        ),
        Tool(
            name="get_record_by_id",
            description="Retrieve a record by its unique ID.",
            # type STRING per tools.yaml:34-35 (reference ids are VARCHAR)
            parameters=(ToolParam("record_id", "string", "primary id"),),
            fn=_get_record,
        ),
    ),
}

# v2: the reference surface UNCHANGED (tools.yaml parity above) plus
# the keyset-pagination extension — a separate toolset so reference
# parity stays byte-literal while clients that want deep pagination
# opt in by name.
_TOOLSETS["customer_data_tools_v2"] = _TOOLSETS["customer_data_tools"] + (
    Tool(
        name="find_similar_customer_records_page",
        description="Next page of semantic search results, strictly after "
                    "the (after_score, after_id) cursor from the previous "
                    "page's last row.",
        parameters=(
            ToolParam("query_text", "string", "natural-language search query"),
            ToolParam("limit", "integer", "max results"),
            ToolParam("after_score", "number", "previous page's last similarity"),
            ToolParam("after_id", "integer", "previous page's last doc_id"),
        ),
        fn=_find_similar_page,
    ),
)


# v3: v2 plus the indexed search tool — the ANN path served with an
# explicit nprobe recall/latency knob; reference parity (v1) and the
# paged extension (v2) stay untouched, clients opt in by toolset name.
_TOOLSETS["customer_data_tools_v3"] = _TOOLSETS["customer_data_tools_v2"] + (
    Tool(
        name="find_similar_customer_records_ann",
        description="Semantic search through the IVF index: probes only "
                    "the nprobe nearest lists (recall/latency knob; at "
                    "n_lists it equals the exact tool's answer).",
        parameters=(
            ToolParam("query_text", "string", "natural-language search query"),
            ToolParam("limit", "integer", "max results"),
            ToolParam("nprobe", "integer", "lists to probe (1..n_lists)"),
        ),
        fn=_find_similar_ann,
    ),
)


def load_toolset(name: str) -> tuple[Tool, ...]:
    """Discovery: the engine-side ``ToolboxSyncClient.load_toolset``
    (agent/agent.py:8). Unknown toolset names raise — there is no way
    to reach undeclared functionality through this surface."""
    if name not in _TOOLSETS:
        raise KeyError(f"unknown toolset {name!r}; available: {sorted(_TOOLSETS)}")
    return _TOOLSETS[name]


def toolset_schemas(name: str) -> list[dict]:
    """JSON-Schema descriptors for every tool in a toolset — what an
    agent framework feeds to the model as its tool list."""
    return [t.json_schema() for t in load_toolset(name)]
