"""Stdio serving boundary speaking MCP JSON-RPC 2.0 — the engine's
counterpart of the reference's FastMCP stdio server (reference
server.py:24, 375-394; README.md:117-135 documents the manual
MCP-client verification recipe this loop satisfies).

An MCP client connects over newline-delimited JSON-RPC 2.0:

    {"jsonrpc": "2.0", "id": 1, "method": "initialize", ...}
    → capabilities + serverInfo handshake
    {"jsonrpc": "2.0", "id": 2, "method": "tools/list"}
    → get_forecast / get_history with input schemas
    {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
     "params": {"name": "get_forecast",
                "arguments": {"place": "Prague, CZ"}}}
    → {"result": {"content": [{"type": "text", "text": <envelope>}],
                  "isError": false}}

with notifications consumed silently, unknown methods answered with
JSON-RPC error objects (-32601), and tool-level failures in-band as
``isError`` content per the MCP spec (see ``handle_rpc``).

The legacy line-delimited envelope framing is ALSO accepted on the
same socket (messages without a ``jsonrpc`` key):

    {"tool": "get_forecast", "params": {"place": "Prague, CZ"}}
    → {"status": "success", "data": {"location_id": ..., "hourly":
       {"time": [...], "temperature_2m": [...], ...}}}

Faithful to the reference's boundary semantics:

- results wrap as ``{"status": "success", "data": ...}`` and failures
  as ``{"status": "error", "message": ...}`` (server.py:258, 280) —
  errors are VALUES at this boundary, never exceptions;
- the data payload is the columnar struct-of-arrays shape the
  reference passes through verbatim (server.py:74, 258): a ``time``
  array plus one parallel array per variable;
- unknown tools mirror unknown-method errors.

The conversion to columnar happens driver-side on the collected
result — this is the serving boundary for one request's worth of
rows, not a batch operator (bulk encoding uses
``sources.openmeteo.to_openmeteo_json`` inside the plan).

Run: ``python -m weather_data_ingestion_service_spark.api.serve``
(reads stdin until EOF), or pass ``--once '<json>'`` for a single
request/response.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from typing import Any, TextIO

from pyspark.sql import DataFrame, SparkSession

from ..sources.resilience import HttpStatusError
from .wrappers import (
    ForecastRequestError,
    get_forecast,
    get_forecast_blocks,
    get_history,
    http_error_message,
)

# get_forecast dispatches through the multi-block accessor so a
# daily_variables request alongside an hourly/15-min granularity yields
# BOTH blocks in one envelope (reference server.py:227-233); get_forecast
# stays importable for single-DataFrame callers.
_TOOLS = {"get_forecast": get_forecast_blocks, "get_history": get_history}

#: serving-boundary cap on rows materialized to the driver per request.
#: A point lookup is a few hundred rows (16 forecast days x 96
#: 15-minute slots = 1536); the cap exists so a pathological request
#: can never turn the serving collect into a full-table download.
MAX_RESULT_ROWS = 100_000


def _df_to_columnar(
    df: DataFrame, time_col: str, max_rows: int | None = None
) -> dict[str, Any]:
    """Collected tidy rows → the wire's parallel-array block.

    Collects at most ``max_rows`` (default ``MAX_RESULT_ROWS``, +1 to
    detect overflow) and reports truncation in the returned dict
    instead of materializing an unbounded result on the driver.
    """
    if max_rows is None:
        max_rows = MAX_RESULT_ROWS
    rows = df.limit(max_rows + 1).collect()
    truncated = len(rows) > max_rows
    if truncated:
        rows = rows[:max_rows]
    cols = [c for c in df.columns if c not in (time_col, "location_id")]
    block: dict[str, list] = {
        "time": [getattr(r, time_col).isoformat(timespec="minutes") for r in rows]
    }
    for c in cols:
        block[c] = [getattr(r, c) for r in rows]
    loc = rows[0].location_id if rows and "location_id" in df.columns else None
    return {"location_id": loc, "block": block, "truncated": truncated}


def handle_request(spark: SparkSession, request: str | dict) -> dict:
    """Dispatch one tool call; never raises — errors become envelope
    values (reference server.py:280, 369).

    Writes one JSON line per request to stderr (never stdout, which
    carries only responses): tool, status, error class, rows per
    block, truncated and latency_ms."""
    t0 = time.perf_counter()
    envelope, tool, error = _dispatch(spark, request)
    data = envelope.get("data", {})
    print(json.dumps({
        "event": "tool_request",
        "tool": tool,
        "status": envelope["status"],
        "error": error,
        "rows": {k: len(v["time"]) for k, v in data.items() if isinstance(v, dict)},
        "truncated": data.get("truncated", False),
        "latency_ms": round((time.perf_counter() - t0) * 1000, 3),
    }), file=sys.stderr, flush=True)
    return envelope


def _dispatch(spark, request) -> tuple[dict, Any, str | None]:
    """``(envelope, tool name, error class or None)`` for one call."""
    tool = None
    try:
        req = json.loads(request) if isinstance(request, str) else request
        if not isinstance(req, dict):
            raise ForecastRequestError(f"invalid request: {req!r}")
        tool = req.get("tool")
        fn = _TOOLS.get(tool)
        if fn is None:
            raise ForecastRequestError(f"unknown tool: {tool!r}")
        params = dict(req.get("params") or {})
        # only the advertised schema reaches the engine: keyword
        # arguments such as ``now`` or ``weather`` are not wire inputs
        unknown = sorted(set(params) - set(_TOOL_SCHEMAS[tool]["properties"]))
        if unknown:
            raise ForecastRequestError(f"unknown parameters: {unknown}")
        result = fn(spark, **params)
        if isinstance(result, dict):
            blocks = result
        else:
            key = (
                "daily"
                if "day" in result.columns
                else (
                    "minutely_15"
                    if params.get("granularity") == 15
                    else "hourly"
                )
            )
            blocks = {key: result}
        data: dict[str, Any] = {"location_id": None}
        truncated = False
        for key, bdf in blocks.items():
            time_col = "day" if "day" in bdf.columns else "ts"
            payload = _df_to_columnar(bdf, time_col)
            data[key] = payload["block"]
            if payload["location_id"] is not None:
                data["location_id"] = payload["location_id"]
            truncated = truncated or payload["truncated"]
        if truncated:
            data["truncated"] = True
        return {"status": "success", "data": data}, tool, None
    except Exception as exc:  # every failure is an envelope value
        message = _error_message(exc, tool)
        return {"status": "error", "message": message}, tool, type(exc).__name__


def _error_message(exc: Exception, tool) -> str:
    if isinstance(exc, ForecastRequestError):
        return str(exc)
    if isinstance(exc, HttpStatusError):
        # live-fetch path failures mirror the reference's enriched
        # HTTP-400 guidance (server.py:263-277)
        return http_error_message(exc, "history" if tool == "get_history" else "forecast")
    if isinstance(exc, json.JSONDecodeError):
        return f"invalid JSON request: {exc}"
    if isinstance(exc, TypeError):  # bad/unknown parameters
        return f"invalid parameters: {exc}"
    # unexpected: the server keeps serving, the traceback goes to stderr
    traceback.print_exception(exc, file=sys.stderr)
    return f"internal error: {type(exc).__name__}: {exc}"


# --- MCP JSON-RPC framing (the reference serves FastMCP over stdio,
# server.py:24, 378; this is the same protocol surface hand-rolled:
# newline-delimited JSON-RPC 2.0 with initialize / tools/list /
# tools/call, tool failures in-band as isError content per the MCP
# spec, protocol failures as JSON-RPC error objects) ---

PROTOCOL_VERSION = "2024-11-05"

_TOOL_SCHEMAS: dict[str, dict] = {
    "get_forecast": {
        "type": "object",
        "properties": {
            "place": {"type": "string"},
            "latitude": {"type": "number"},
            "longitude": {"type": "number"},
            "granularity": {"type": "integer"},
            "forecast_days": {"type": "integer"},
            "past_days": {"type": "integer"},
            "variables": {"type": "string"},
            "daily_variables": {"type": "string"},
        },
    },
    "get_history": {
        "type": "object",
        "properties": {
            "place": {"type": "string"},
            "latitude": {"type": "number"},
            "longitude": {"type": "number"},
            "start_date": {"type": "string"},
            "end_date": {"type": "string"},
            "granularity": {"type": "integer"},
            "variables": {"type": "string"},
        },
        "required": ["start_date", "end_date"],
    },
}


def _rpc_result(req_id, result: dict) -> dict:
    return {"jsonrpc": "2.0", "id": req_id, "result": result}


def _rpc_error(req_id, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": req_id,
            "error": {"code": code, "message": message}}


def handle_rpc(spark: SparkSession, req: dict) -> dict | None:
    """One JSON-RPC 2.0 message → response dict (None for
    notifications, which get no reply)."""
    req_id = req.get("id")
    method = req.get("method")
    if method is None:
        return _rpc_error(req_id, -32600, "missing method")
    if req_id is None:  # notification (e.g. notifications/initialized)
        return None
    if method == "ping":  # MCP liveness probe: empty result
        return _rpc_result(req_id, {})
    if method == "initialize":
        return _rpc_result(req_id, {
            "protocolVersion": PROTOCOL_VERSION,
            "capabilities": {"tools": {}},
            "serverInfo": {"name": "weather-engine", "version": "1.0"},
        })
    if method == "tools/list":
        return _rpc_result(req_id, {
            "tools": [
                {
                    "name": name,
                    "description": fn.__doc__.splitlines()[0] if fn.__doc__ else "",
                    "inputSchema": _TOOL_SCHEMAS.get(name, {"type": "object"}),
                }
                for name, fn in _TOOLS.items()
            ]
        })
    if method == "tools/call":
        params = req.get("params") or {}
        name = params.get("name")
        if name not in _TOOLS:
            return _rpc_error(req_id, -32602, f"unknown tool: {name!r}")
        envelope = handle_request(
            spark, {"tool": name, "params": params.get("arguments") or {}}
        )
        # MCP: tool-level failures are in-band content with isError,
        # not protocol errors (the envelope is the reference's wire
        # value either way)
        return _rpc_result(req_id, {
            "content": [{"type": "text", "text": json.dumps(envelope)}],
            "isError": envelope.get("status") == "error",
        })
    return _rpc_error(req_id, -32601, f"method not found: {method}")


def serve_stdio(spark: SparkSession, stdin: TextIO, stdout: TextIO) -> None:
    """Newline-delimited JSON loop until EOF (transport analog of
    ``mcp.run(transport="stdio")``, server.py:378).

    Speaks both framings on one socket: messages with a ``jsonrpc``
    key get the MCP JSON-RPC treatment (notifications are consumed
    silently); anything else is the legacy ``{"tool": ..., "params":
    ...}`` envelope."""
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            req = json.loads(line)
        except json.JSONDecodeError as exc:
            stdout.write(json.dumps(
                {"status": "error", "message": f"invalid JSON request: {exc}"}
            ) + "\n")
            stdout.flush()
            continue
        rpc = isinstance(req, dict) and req.get("jsonrpc") == "2.0"
        try:
            resp = handle_rpc(spark, req) if rpc else handle_request(spark, req)
        except Exception as exc:  # one bad line must not end the session
            traceback.print_exc(file=sys.stderr)
            message = f"internal error: {type(exc).__name__}: {exc}"
            resp = (
                _rpc_error(req.get("id"), -32603, message)
                if rpc
                else {"status": "error", "message": message}
            )
        if resp is None:
            continue
        stdout.write(json.dumps(resp) + "\n")
        stdout.flush()


def main(argv: list[str] | None = None) -> None:
    from ..session import get_spark

    argv = sys.argv[1:] if argv is None else argv
    spark = get_spark(app_name="wds-serve")
    spark.sparkContext.setLogLevel("ERROR")
    if len(argv) >= 2 and argv[0] == "--once":
        print(json.dumps(handle_request(spark, argv[1])))
    else:
        serve_stdio(spark, sys.stdin, sys.stdout)


if __name__ == "__main__":
    main()
