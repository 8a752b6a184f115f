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


def test_paged_search_embeds_corpus_once(spark, sf_dir):
    """The v2 paged tool derives similarity from the embed UDF and the
    cursor filters on it: the executed plan must carry exactly TWO
    ArrowEvalPython nodes — the corpus embed evaluated ONCE and the
    one query scorer evaluated ONCE (see operators/topk.py). The
    regression this guards: an UNMARKED embed UDF gets cloned by
    Catalyst into the extracted filter stage and the corpus embeds
    4x per page request (measured 4 nodes before the
    asNondeterministic marking)."""
    from secure_agent_api_vector_search_spark.toolset import _find_similar_page

    df = _find_similar_page(spark, sf_dir, "insurance claim water", 5, 0.5, 0)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # executed AQE plans print BOTH the final and the initial plan —
    # count only the final section
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 2


def test_search_embeds_and_scores_corpus_once(spark, sf_dir):
    """Page-1 twin of test_paged_search_embeds_corpus_once: the
    find_similar_customer_records plan embeds the corpus once and
    scores it once — both iterator UDFs chained in ONE ArrowEvalPython
    node, so the embeddings never return to the JVM — under a
    TakeOrderedAndProject top-k."""
    from secure_agent_api_vector_search_spark.toolset import _find_similar

    df = _find_similar(spark, sf_dir, "insurance claim water", 5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1
    assert final.count("_embed(") == 1 and final.count("score(") == 1
    assert "TakeOrderedAndProject" in final


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
    """The memoized IVF index is keyed on a corpus content fingerprint:
    rewriting the parquet under the same dir must rebuild the index
    (stale-index serving would silently break the advertised
    nprobe=n_lists ≡ exact identity), and invalidate_ann_store is the
    explicit drop hook."""
    import shutil

    from secure_agent_api_vector_search_spark import toolset as T

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    src = f"{sf_dir}/documents.parquet"
    shutil.copy(src, corpus / "documents.parquet")
    d = str(corpus)

    T._find_similar_ann(spark, d, "water damage", 3, nprobe=16).collect()
    idx1 = T._ANN_STORE[d][1]
    T._find_similar_ann(spark, d, "water damage", 3, nprobe=16).collect()
    assert T._ANN_STORE[d][1] is idx1  # unchanged corpus → cache hit

    # rewrite the corpus file (same content, new mtime) → rebuild
    shutil.copy(src, corpus / "documents.parquet")
    import os

    os.utime(corpus / "documents.parquet")
    T._find_similar_ann(spark, d, "water damage", 3, nprobe=16).collect()
    assert T._ANN_STORE[d][1] is not idx1

    T.invalidate_ann_store(d)
    assert d not in T._ANN_STORE
    T.invalidate_ann_store()  # idempotent full drop
