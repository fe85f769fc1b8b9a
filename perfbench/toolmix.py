"""The ``tool_serve`` request mix and the checks on each response.

One pass of the mix is a fixed set of request templates: both
tools, every place form (canonical, alias, upper-case, lat/lon,
unknown), granularities 15 / 60 / 1440, and ``variables`` /
``daily_variables`` selections including unknown names.  The seed
shuffles the templates and draws their concrete values (which place,
which window, which variables), so every seed has the same kind of
work per pass and a different request sequence.

Pure Python: it imports only the engine's fixture constants and
variable catalogs, never starts Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import random

from weather_data_ingestion_service_spark import fixtures
from weather_data_ingestion_service_spark.operators.aggregates import (
    DAILY_VARIABLE_SPECS,
)
from weather_data_ingestion_service_spark.operators.relational import MAX_FORECAST_DAYS
from weather_data_ingestion_service_spark.schemas import DEFAULT_HOURLY_VARS

DAILY_VARS = list(DAILY_VARIABLE_SPECS)
#: hourly names that are not also daily names (``weather_code`` is both)
HOURLY_ONLY_VARS = [v for v in DEFAULT_HOURLY_VARS if v not in DAILY_VARIABLE_SPECS]
UNKNOWN_PLACES = ["Atlantis", "El Dorado", "Shangri-La", "Gotham City", "Lilliput"]
UNKNOWN_VARS = ["wind_speed_10m", "soil_moisture", "visibility", "cape"]

_START = dt.datetime.fromisoformat(fixtures.FIXTURE_START)
_END = _START + dt.timedelta(days=fixtures.FIXTURE_DAYS)
_NOW = dt.datetime.fromisoformat(fixtures.FIXTURE_NOW)

#: (tool, place form, granularity, variable selection) per template.
#: ``unknown`` variable names and ``hourly`` names at daily granularity
#: are invalid requests: they must come back as error envelopes.
TEMPLATES = [
    ("get_forecast", "canonical", 60, "default"),
    ("get_forecast", "alias", 15, "variables"),
    ("get_forecast", "upper", 1440, "daily_variables"),
    ("get_forecast", "latlon", 60, "both"),
    ("get_forecast", "unknown", 60, "default"),
    ("get_forecast", "canonical", 1440, "default"),
    ("get_forecast", "alias", 60, "unknown"),
    ("get_forecast", "upper", 15, "default"),
    ("get_forecast", "latlon", 1440, "variables_daily"),
    ("get_history", "canonical", 60, "variables"),
    ("get_history", "latlon", 1440, "default"),
    ("get_history", "alias", 1440, "hourly"),
    ("get_history", "upper", 60, "default"),
    ("get_history", "unknown", 1440, "default"),
    ("get_history", "canonical", 1440, "variables_daily"),
    ("get_history", "alias", 60, "variables"),
]


def _place(rng: random.Random, form: str) -> dict:
    i = rng.randrange(len(fixtures.PLACES))
    canonical = fixtures.PLACES[i]
    if form == "canonical":
        return {"place": canonical}
    if form == "alias":
        return {"place": rng.choice(fixtures.PLACE_ALIASES[canonical])}
    if form == "upper":
        return {"place": rng.choice([canonical, *fixtures.PLACE_ALIASES[canonical]]).upper()}
    if form == "latlon":
        return {
            "latitude": round(fixtures.LATS[i] + rng.uniform(-0.3, 0.3), 4),
            "longitude": round(fixtures.LONS[i] + rng.uniform(-0.3, 0.3), 4),
        }
    return {"place": rng.choice(UNKNOWN_PLACES)}


def _sample(rng: random.Random, names: list[str]) -> str:
    return ",".join(rng.sample(names, rng.randint(1, 4)))


def _request(rng: random.Random, template: tuple) -> tuple[dict, dict]:
    """(tool arguments, expectation) for one template."""
    tool, form, gran, sel = template
    args = {**_place(rng, form), "granularity": gran}
    if tool == "get_forecast":
        args["forecast_days"] = rng.choice([1, 2, 3, 5, 7, 10, 16, 20])
        args["past_days"] = rng.choice([0, 0, 1, 3, 7])
        lo = _NOW - dt.timedelta(days=args["past_days"])
        hi = _NOW + dt.timedelta(days=min(args["forecast_days"], MAX_FORECAST_DAYS))
    else:
        # windows may start before or run past the fixture span
        start = _START + dt.timedelta(days=rng.randint(-3, fixtures.FIXTURE_DAYS - 2))
        end = start + dt.timedelta(days=rng.randint(0, 8))
        args["start_date"] = start.date().isoformat()
        args["end_date"] = end.date().isoformat()
        lo, hi = start, end + dt.timedelta(days=1)
    if sel in ("variables", "both"):
        args["variables"] = _sample(rng, DEFAULT_HOURLY_VARS)
    if sel in ("daily_variables", "both"):
        args["daily_variables"] = _sample(rng, DAILY_VARS)
    if sel == "variables_daily":
        args["variables"] = _sample(rng, DAILY_VARS)
    if sel == "hourly":
        args["variables"] = _sample(rng, HOURLY_ONLY_VARS)
    if sel == "unknown":
        args["variables"] = ",".join([*rng.sample(DEFAULT_HOURLY_VARS, 1), rng.choice(UNKNOWN_VARS)])

    if form == "unknown":
        return args, {"error": "Could not find coordinates"}
    if sel in ("unknown", "hourly"):
        return args, {"error": ""}
    # the window clipped to the fixture span, in steps of each block
    hours = max(0, int((min(hi, _END) - max(lo, _START)).total_seconds() // 3600))
    steps = {15: hours * 4, 60: hours, 1440: hours // 24}
    key = {15: "minutely_15", 60: "hourly", 1440: "daily"}[gran]
    blocks = {key: steps[gran]}
    if "daily_variables" in args and gran != 1440:
        blocks["daily"] = hours // 24
    return args, {"blocks": blocks}


def _messages(rng: random.Random, templates: list[tuple], first_id: int) -> list[tuple[dict, dict]]:
    out = []
    for k, template in enumerate(templates):
        args, expect = _request(rng, template)
        message = {
            "jsonrpc": "2.0",
            "id": first_id + k,
            "method": "tools/call",
            "params": {"name": template[0], "arguments": args},
        }
        out.append((message, expect))
    return out


def request_sequence(seed: int) -> tuple[list, list]:
    """``(warm-up, pass)`` lists of ``(tools/call message, expectation)``.

    The warm-up is one whole pass with the templates in their listed
    order, so set-up does the same kind of work for every seed and its
    failed count does not depend on which requests came first.
    """
    rng = random.Random(seed)
    warm = _messages(rng, TEMPLATES, 1)
    order = list(TEMPLATES)
    rng.shuffle(order)
    return warm, _messages(rng, order, len(warm) + 1)


def check_response(message: dict, response: dict, expect: dict) -> str | None:
    """None when ``response`` is what ``message`` should get, else why not."""
    if response.get("jsonrpc") != "2.0" or response.get("id") != message["id"]:
        return f"bad JSON-RPC envelope: {str(response)[:200]}"
    result = response.get("result") or {}
    content = result.get("content") or [{}]
    envelope = json.loads(content[0].get("text", "null") or "null")
    if not isinstance(envelope, dict):
        return "no tool envelope in the response"
    is_error = envelope.get("status") == "error"
    if result.get("isError") is not is_error:
        return "isError disagrees with the envelope status"
    if "error" in expect:
        if not is_error:
            return f"expected an error envelope, got status {envelope.get('status')!r}"
        if not str(envelope.get("message", "")).startswith(expect["error"]):
            return f"unexpected error message: {envelope.get('message')!r}"
        return None
    if envelope.get("status") != "success":
        return f"expected success, got {str(envelope)[:200]}"
    data = envelope.get("data") or {}
    for key, n_steps in expect["blocks"].items():
        block = data.get(key)
        if not isinstance(block, dict) or "time" not in block:
            return f"missing block {key!r}"
        lengths = {len(v) for v in block.values()}
        if len(lengths) != 1:
            return f"block {key!r} has ragged arrays: {sorted(lengths)}"
        if len(block["time"]) != n_steps:
            return f"block {key!r} has {len(block['time'])} steps, expected {n_steps}"
    return None
