"""HTTP tool gateway (gateway.py): the served form of U4 — discovery →
typed call → rows over a real socket, and the zero-trust rejections
mapped to HTTP codes. Mirrors the reference's Toolbox wire surface
(GET /api/toolset/{name}, POST /api/tool/{name}/invoke —
agent/agent.py:6-8 discovers tools.yaml:1-44 this way)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from secure_agent_api_vector_search_spark.gateway import ToolGateway


@pytest.fixture(scope="module")
def gateway(spark, sf_dir):
    with ToolGateway(spark, sf_dir) as gw:
        yield gw


def _get(url: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def _post(url: str, payload) -> tuple[int, dict]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read())


def test_discovery_over_socket(gateway):
    code, manifest = _get(f"{gateway.url}/api/toolset/customer_data_tools")
    assert code == 200
    assert set(manifest["tools"]) == {
        "find_similar_customer_records",
        "get_record_by_id",
    }
    # the manifest carries the same JSON-Schema the in-process surface
    # exports — an agent framework can feed it straight to a model
    fs = manifest["tools"]["find_similar_customer_records"]
    assert fs["parameters"]["required"] == ["query_text", "limit"]


def test_unknown_toolset_and_tool_are_404(gateway):
    code, body = _get(f"{gateway.url}/api/toolset/nope")
    assert code == 404 and "nope" in body["error"]
    code, body = _post(f"{gateway.url}/api/tool/drop_table/invoke", {})
    assert code == 404 and "drop_table" in body["error"]


def test_typed_invocation_returns_rows(gateway):
    code, body = _post(
        f"{gateway.url}/api/tool/get_record_by_id/invoke", {"record_id": "7"}
    )
    assert code == 200
    assert body["rowCount"] == 1
    assert body["result"][0]["doc_id"] == 7


def test_semantic_search_over_socket(gateway):
    code, body = _post(
        f"{gateway.url}/api/tool/find_similar_customer_records/invoke",
        {"query_text": "fast hash join", "limit": 3},
    )
    assert code == 200
    assert body["rowCount"] == 3
    assert {"doc_id", "similarity"} <= set(body["result"][0])


def test_zero_trust_rejections_are_400(gateway):
    base = f"{gateway.url}/api/tool/get_record_by_id/invoke"
    # wrong type (U5: integer where the contract says VARCHAR)
    code, body = _post(base, {"record_id": 7})
    assert code == 400 and "must be string" in body["error"]
    # unknown parameter
    code, body = _post(base, {"record_id": "7", "sql": "DROP TABLE x"})
    assert code == 400 and "unknown parameter" in body["error"]
    # missing required parameter
    code, body = _post(base, {})
    assert code == 400 and "missing required" in body["error"]
    # non-object body
    code, body = _post(base, ["not", "an", "object"])
    assert code == 400 and "JSON object" in body["error"]


def test_non_canonical_id_binds_zero_rows_not_error(gateway):
    # "042" is a valid VARCHAR value that equals no stored id — the
    # gateway returns an empty result, never an error (U5 semantics
    # preserved through the HTTP layer)
    code, body = _post(
        f"{gateway.url}/api/tool/get_record_by_id/invoke", {"record_id": "042"}
    )
    assert code == 200 and body["rowCount"] == 0


def test_server_fault_is_generic_500_even_for_type_errors(spark, sf_dir):
    """A TypeError raised INSIDE tool execution is a server fault (500),
    never a 400 — the 400 mapping is scoped to Tool.validate alone —
    and the 500 body is GENERIC: raw exception text (paths, SQL
    fragments, internal class names) must not reach clients of a
    zero-trust surface."""
    from secure_agent_api_vector_search_spark import toolset as TS

    def boom(spark, sf_dir, record_id):
        raise TypeError("internal/path/leak.py: secret frame detail")

    TS._TOOLSETS["gateway_test_tools"] = (
        TS.Tool(
            name="boom_tool",
            description="always fails server-side",
            parameters=(TS.ToolParam("record_id", "string", "id"),),
            fn=boom,
        ),
    )
    try:
        with ToolGateway(spark, sf_dir, toolsets=("gateway_test_tools",)) as gw:
            code, body = _post(
                f"{gw.url}/api/tool/boom_tool/invoke", {"record_id": "42"}
            )
            assert code == 500
            assert body["error"] == "internal server error"
            assert "leak" not in json.dumps(body)
            # bind failures on the same tool still map to 400 with the
            # validation message
            code, body = _post(f"{gw.url}/api/tool/boom_tool/invoke", {})
            assert code == 400 and "missing required" in body["error"]
    finally:
        del TS._TOOLSETS["gateway_test_tools"]


def test_v3_ann_search_tool_over_socket(spark, sf_dir):
    """customer_data_tools_v3: the IVF-served search tool with the
    nprobe knob. At nprobe = n_lists the probed union IS the corpus, so
    the result must equal the exact tool's row-for-row (the full-probe
    identity, through the HTTP surface); a low nprobe still returns
    `limit` rows through the same projection."""
    with ToolGateway(spark, sf_dir, toolsets=("customer_data_tools_v3",)) as gw:
        code, manifest = _get(f"{gw.url}/api/toolset/customer_data_tools_v3")
        assert code == 200
        assert "find_similar_customer_records_ann" in manifest["tools"]
        q = {"query_text": "standard procedure for water damage", "limit": 5}
        code, exact = _post(
            f"{gw.url}/api/tool/find_similar_customer_records/invoke", q
        )
        assert code == 200
        code, full_probe = _post(
            f"{gw.url}/api/tool/find_similar_customer_records_ann/invoke",
            {**q, "nprobe": 16},
        )
        assert code == 200
        assert full_probe["result"] == exact["result"]
        code, probed = _post(
            f"{gw.url}/api/tool/find_similar_customer_records_ann/invoke",
            {**q, "nprobe": 2},
        )
        assert code == 200 and probed["rowCount"] == 5
        assert set(probed["result"][0]) == {
            "doc_id", "source", "lang", "text", "similarity"
        }
        # knob is typed: a string nprobe is a bind failure (400)
        code, body = _post(
            f"{gw.url}/api/tool/find_similar_customer_records_ann/invoke",
            {**q, "nprobe": "lots"},
        )
        assert code == 400 and "nprobe" in body["error"]


def test_request_log_line_per_request(gateway, caplog):
    """Every request logs ONE structured INFO line on the gateway's
    logger: tool, status, rows and the ms of each phase it reached."""
    import logging

    logger = "secure_agent_api_vector_search_spark.gateway"
    caplog.set_level(logging.INFO, logger=logger)
    base = f"{gateway.url}/api/tool/get_record_by_id/invoke"
    assert _post(base, {"record_id": "7"})[0] == 200
    assert _post(base, {"record_id": 7})[0] == 400
    lines = [r.getMessage() for r in caplog.records if r.name == logger]
    assert len(lines) == 2 and all(line.startswith("request ") for line in lines)
    ok, bad = (json.loads(line[len("request "):]) for line in lines)
    assert ok["tool"] == bad["tool"] == "get_record_by_id"
    assert (ok["status"], ok["rows"]) == (200, 1)
    assert set(ok) >= {"validate_ms", "plan_ms", "execute_ms", "serialize_ms"}
    assert all(ok[k] >= 0 for k in ("validate_ms", "plan_ms", "execute_ms", "serialize_ms"))
    assert (bad["status"], bad["rows"]) == (400, 0)
    assert "validate_ms" in bad and "plan_ms" not in bad and "execute_ms" not in bad
