"""U4 tool-discovery surface (toolset.py): discovery, JSON-Schema
shape, typed invocation, and the zero-trust rejections."""

from __future__ import annotations

import pytest

from secure_agent_api_vector_search_spark.toolset import (
    load_toolset,
    toolset_schemas,
)


def test_discovery_lists_reference_tools():
    tools = load_toolset("customer_data_tools")
    assert [t.name for t in tools] == [
        "find_similar_customer_records",
        "get_record_by_id",
    ]
    with pytest.raises(KeyError):
        load_toolset("no_such_toolset")


def test_schemas_are_llm_tool_shape():
    schemas = toolset_schemas("customer_data_tools")
    fs = schemas[0]
    assert fs["name"] == "find_similar_customer_records"
    assert fs["parameters"]["type"] == "object"
    assert set(fs["parameters"]["properties"]) == {"query_text", "limit"}
    # both declared required, matching tools.yaml:18-21 (no optionality
    # in the reference config; the statement binds $1 AND $2)
    assert fs["parameters"]["required"] == ["query_text", "limit"]
    assert schemas[1]["parameters"]["required"] == ["record_id"]
    # record_id is a STRING parameter (tools.yaml:34-35)
    assert schemas[1]["parameters"]["properties"]["record_id"]["type"] == "string"


def test_semantic_search_tool_end_to_end(spark, sf_dir):
    find, _ = load_toolset("customer_data_tools")
    rows = find(spark, sf_dir, query_text="fast hash join", limit=3).collect()
    assert 0 < len(rows) <= 3
    assert {"doc_id", "text", "similarity"} <= set(rows[0].asDict())
    sims = [r["similarity"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_lookup_tool_end_to_end(spark, sf_dir):
    _, get = load_toolset("customer_data_tools")
    rows = get(spark, sf_dir, record_id="42").collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 42
    assert get(spark, sf_dir, record_id=str(10**12)).count() == 0
    # a hostile string binds as a value, never as SQL: 0 rows, no error
    # (the reference's VARCHAR id has the same injection-safe semantics)
    assert get(spark, sf_dir, record_id="42; DROP TABLE docs").count() == 0


def test_typed_invocation_rejections(spark, sf_dir):
    find, get = load_toolset("customer_data_tools")
    with pytest.raises(TypeError, match="missing required"):
        find(spark, sf_dir, limit=3)
    with pytest.raises(TypeError, match="missing required"):
        find(spark, sf_dir, query_text="x")  # limit is required, as in tools.yaml
    with pytest.raises(TypeError, match="unknown parameter"):
        find(spark, sf_dir, query_text="x", sql="DROP TABLE docs")
    with pytest.raises(TypeError, match="must be string"):
        get(spark, sf_dir, record_id=42)  # record_id is a string parameter
    with pytest.raises(TypeError, match="must be integer"):
        find(spark, sf_dir, query_text="x", limit=True)  # bool is not an int here


def test_record_id_requires_canonical_decimal_rendering(spark, sf_dir):
    """VARCHAR-equality semantics: '042', ' 42 ', '+42' must NOT match
    doc 42 (a reference-side string bind would not), only '42' does."""
    from secure_agent_api_vector_search_spark.toolset import load_toolset

    tool = {t.name: t for t in load_toolset("customer_data_tools")}["get_record_by_id"]
    assert tool(spark, sf_dir, record_id="42").count() == 1
    for bad in ("042", " 42 ", "+42", "4_2", ""):
        assert tool(spark, sf_dir, record_id=bad).count() == 0


def test_record_id_beyond_int64_binds_zero_rows_not_error(spark, sf_dir):
    """A canonical 20+-digit numeral is a legal VARCHAR(25) id but can
    never equal a bigint key — it must bind 0 rows, never raise (U5)."""
    from secure_agent_api_vector_search_spark.toolset import load_toolset

    tool = {t.name: t for t in load_toolset("customer_data_tools")}["get_record_by_id"]
    assert tool(spark, sf_dir, record_id="12345678901234567890").count() == 0
    assert tool(spark, sf_dir, record_id=str(2**63 - 1)).count() == 0  # max int64: valid, no match


def test_v2_toolset_pagination_walks_without_gaps(spark, sf_dir):
    """The v2 toolset keeps reference parity (same first two tools)
    and adds the cursor-paged search; walking two pages through the
    TOOL surface reconstructs the one-shot top-10 exactly."""
    tools = {t.name: t for t in load_toolset("customer_data_tools_v2")}
    assert set(tools) == {
        "find_similar_customer_records",
        "get_record_by_id",
        "find_similar_customer_records_page",
    }
    find = tools["find_similar_customer_records"]
    page = tools["find_similar_customer_records_page"]

    full = find(spark, sf_dir, query_text="spark join", limit=10).collect()
    page1 = full[:5]
    last = page1[-1]
    page2 = page(
        spark, sf_dir,
        query_text="spark join", limit=5,
        after_score=float(last["similarity"]), after_id=int(last["doc_id"]),
    ).collect()
    got = [(r["doc_id"], r["similarity"]) for r in page1 + page2]
    want = [(r["doc_id"], r["similarity"]) for r in full]
    assert got == want
    # zero-trust still holds on the new tool
    with pytest.raises(TypeError):
        page(spark, sf_dir, query_text="x", limit=5)  # missing cursor
    with pytest.raises(TypeError):
        page(spark, sf_dir, query_text="x", limit=5,
             after_score="high", after_id=3)  # wrong type


def _copy_corpus(sf_dir, dest) -> str:
    """A fresh corpus dir holding ``sf_dir``'s documents — a corpus the
    toolset store has never seen."""
    import shutil

    dest.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", dest / "documents.parquet")
    return str(dest)


def _rewrite_corpus_text(sf_dir, corpus) -> None:
    """Rewrite ``corpus``'s documents with every text moved to the next
    doc_id: same ids and size, different answers."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet")
    texts = t.column("text").to_pylist()
    t = t.set_column(
        t.schema.get_field_index("text"), "text", pa.array(texts[-1:] + texts[:-1])
    )
    pq.write_table(t, f"{corpus}/documents.parquet")


def _final_plan_outside_cache(df) -> str:
    """The executed plan's final section minus every InMemoryRelation
    subtree: the work a call does itself, not the stored frames' build
    plans that Spark prints under the cache node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    kept, cache_depth = [], None
    for line in plan.split("== Initial Plan ==")[0].splitlines():
        depth = len(line) - len(line.lstrip(" :+-"))
        if cache_depth is not None and depth > cache_depth:
            continue
        cache_depth = depth if "InMemoryRelation" in line else None
        if cache_depth is None:
            kept.append(line)
    return "\n".join(kept)


@pytest.fixture(scope="module")
def stored_corpus(spark, sf_dir, tmp_path_factory):
    """A corpus dir whose store is built (the cold first call)."""
    from secure_agent_api_vector_search_spark.toolset import _find_similar

    d = _copy_corpus(sf_dir, tmp_path_factory.mktemp("stored") / "corpus")
    _find_similar(spark, d, "warm up", 3).collect()
    return d


def test_paged_search_embeds_corpus_once(spark, stored_corpus):
    """A warm v2 page call embeds no corpus row and scores once: outside
    the stored vectors' InMemoryRelation the plan holds exactly one
    ArrowEvalPython node — the fold_query_scorer (``score(``) — and no
    ``_embed(`` node; the keyset cursor filters that node's output."""
    from secure_agent_api_vector_search_spark.toolset import _find_similar_page

    df = _find_similar_page(spark, stored_corpus, "insurance claim water", 5, 0.5, 0)
    df.collect()
    own = _final_plan_outside_cache(df)
    assert "InMemoryTableScan" in own
    assert own.count("ArrowEvalPython") == 1 and own.count("score(") == 1
    assert "_embed(" not in own


def test_search_embeds_and_scores_corpus_once(spark, stored_corpus):
    """Page-1 twin of test_paged_search_embeds_corpus_once: a warm
    find_similar_customer_records call embeds no corpus row and scores
    the stored vectors once, under a TakeOrderedAndProject top-k."""
    from secure_agent_api_vector_search_spark.toolset import _find_similar

    df = _find_similar(spark, stored_corpus, "insurance claim water", 5)
    df.collect()
    own = _final_plan_outside_cache(df)
    assert "InMemoryTableScan" in own
    assert own.count("ArrowEvalPython") == 1 and own.count("score(") == 1
    assert "_embed(" not in own
    assert "TakeOrderedAndProject" in own


def _answers(spark, d, q="water damage claim"):
    """(search, page, ann at full probe, lookup) answers as plain rows."""
    from secure_agent_api_vector_search_spark import toolset as T

    def ids(df):
        return [(r["doc_id"], r["similarity"]) for r in df.collect()]

    search = ids(T._find_similar(spark, d, q, 6))
    last_id, last_score = search[2]
    return {
        "search": search,
        "page": ids(T._find_similar_page(spark, d, q, 3, last_score, last_id)),
        "ann": ids(T._find_similar_ann(spark, d, q, 6, nprobe=16)),
        "lookup": [r.asDict() for r in T._get_record(spark, d, "42").collect()],
    }


def test_concurrent_first_calls_build_store_once(spark, sf_dir, tmp_path, monkeypatch):
    """Four threads make their first call (search, page, ANN, ANN) into
    a fresh corpus at once: the corpus embedding and the IVF index are
    each built once (the build lock), and every answer equals the
    single-thread answer."""
    import threading

    from secure_agent_api_vector_search_spark import embedder
    from secure_agent_api_vector_search_spark import toolset as T
    from secure_agent_api_vector_search_spark.operators import ivf

    d = _copy_corpus(sf_dir, tmp_path / "corpus")
    q = "water damage claim"
    calls = {
        "search": lambda: T._find_similar(spark, d, q, 6),
        "page": lambda: T._find_similar_page(spark, d, q, 3, 0.2, 0),
        "ann": lambda: T._find_similar_ann(spark, d, q, 6, nprobe=16),
    }
    builds = {"embed_udf": 0, "build_ivf": 0}

    def counted(owner, name):
        fn = getattr(owner, name)

        def wrapper(*a, **kw):
            builds[name] += 1
            return fn(*a, **kw)

        monkeypatch.setattr(owner, name, wrapper)

    counted(embedder, "embed_udf")
    counted(ivf, "build_ivf")
    order = ["search", "page", "ann", "ann"]
    barrier = threading.Barrier(len(order))
    got: dict = {}
    errors: list = []

    def run(i, tool):
        try:
            barrier.wait()
            got[i] = [tuple(r) for r in calls[tool]().collect()]
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i, t)) for i, t in enumerate(order)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert builds == {"embed_udf": 1, "build_ivf": 1}
    T.invalidate_corpus_store(d)
    for i, tool in enumerate(order):
        assert got[i] == [tuple(r) for r in calls[tool]().collect()], tool
    T.invalidate_corpus_store(d)


def test_toolset_import_loads_tool_modules():
    """Every module a tool call needs is imported with the toolset, so
    concurrent first calls on gateway threads never race each other
    through call-time imports (Python's import-lock _DeadlockError)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "secure_agent_api_vector_search_spark"
    code = (
        f"import sys, {pkg}.toolset\n"
        f"mods = ['embedder', 'operators.topk', 'operators.ivf', "
        f"'operators.lookup', 'sources.tables']\n"
        f"print([m for m in mods if '{pkg}.' + m not in sys.modules])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]", out


def test_ann_store_invalidates_on_corpus_change(spark, sf_dir, tmp_path):
    """The corpus store (vectors + IVF index) is keyed on a corpus
    content fingerprint: rewriting the parquet under the same dir must
    rebuild it — the exact search, the page tool and the ANN tool all
    answer from the new text (a stale store would silently break the
    nprobe=n_lists ≡ exact identity) — and invalidate_corpus_store is
    the one drop hook, releasing the vectors and the index together."""
    import os
    import shutil

    from secure_agent_api_vector_search_spark import toolset as T

    src = f"{sf_dir}/documents.parquet"
    d = _copy_corpus(sf_dir, tmp_path / "corpus")

    before = _answers(spark, d)
    idx1 = T._ANN_STORE[d][1]
    vectors1 = T._CORPUS_STORE[d][2]
    assert _answers(spark, d) == before
    assert T._ANN_STORE[d][1] is idx1  # unchanged corpus → cache hit
    assert T._CORPUS_STORE[d][2] is vectors1

    # rewrite the corpus file (same content, new mtime) → rebuild
    shutil.copy(src, f"{d}/documents.parquet")
    os.utime(f"{d}/documents.parquet")
    assert _answers(spark, d) == before
    assert T._ANN_STORE[d][1] is not idx1
    assert not vectors1.is_cached  # the old version was released

    # different text under the same ids → every tool's answer moves
    _rewrite_corpus_text(sf_dir, d)
    after = _answers(spark, d)
    for tool in ("search", "page", "ann"):
        assert after[tool] != before[tool], tool
    assert after["ann"] == after["search"]  # full probe ≡ exact, fresh
    assert after["lookup"][0]["text"] != before["lookup"][0]["text"]

    vectors, index = T._CORPUS_STORE[d][2], T._ANN_STORE[d][1]
    T.invalidate_corpus_store(d)
    assert d not in T._CORPUS_STORE and d not in T._ANN_STORE
    assert not vectors.is_cached and not index.assigned.is_cached
    T.invalidate_corpus_store()  # idempotent full drop


def test_store_follows_file_uri_corpus(spark, sf_dir, tmp_path):
    """A ``file:`` sf_dir is statted like the plain path, so its store
    is invalidated when the corpus is rewritten."""
    from secure_agent_api_vector_search_spark import toolset as T

    d = _copy_corpus(sf_dir, tmp_path / "corpus")
    for uri in (f"file:{d}", f"file://{d}"):
        assert T._corpus_fingerprint(uri) == T._corpus_fingerprint(d) != ""
    uri = f"file://{d}"
    before = _answers(spark, uri)
    assert uri in T._CORPUS_STORE
    _rewrite_corpus_text(sf_dir, d)
    after = _answers(spark, uri)
    for tool in ("search", "page", "ann", "lookup"):
        assert after[tool] != before[tool], tool
    T.invalidate_corpus_store(uri)


def test_unstattable_corpus_bypasses_store(spark, sf_dir, tmp_path):
    """A corpus that cannot be statted locally (here a glob Spark reads
    but ``os`` cannot stat) has no fingerprint: the tools read and embed
    it per call, store nothing, and never serve stale data."""
    from secure_agent_api_vector_search_spark import toolset as T

    d = _copy_corpus(sf_dir, tmp_path / "corpus")
    glob = d[:-1] + "[s]"  # .../corpu[s] matches only .../corpus
    assert T._corpus_fingerprint(glob) == ""
    before = _answers(spark, glob)
    assert before == _answers(spark, d)
    assert glob not in T._CORPUS_STORE and glob not in T._ANN_STORE
    _rewrite_corpus_text(sf_dir, d)
    after = _answers(spark, glob)
    for tool in ("search", "page", "ann", "lookup"):
        assert after[tool] != before[tool], tool
    assert after == _answers(spark, d)
    T.invalidate_corpus_store(d)
