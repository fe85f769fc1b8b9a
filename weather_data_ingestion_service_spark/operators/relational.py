"""Projections and filters (SURVEY.md §2.B).

The reference encodes projection and predicates into an HTTP query
string (reference server.py:205-249) and lets the remote API do the
work; here the same semantics are declarative DataFrame expressions so
Catalyst pushes them into the parquet scan (column pruning + predicate
pushdown + partition pruning) — the engine-side analog of the
reference's "only fetch what was asked for".
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Open-Meteo forward-horizon cap: ``min(forecast_days, 16)``
#: (reference server.py:239).
MAX_FORECAST_DAYS = 16


def select_vars(
    df: DataFrame,
    variables: Sequence[str] | str | None,
    defaults: Sequence[str],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Caller-selected variable projection with default fallback.

    Mirrors ``params[key] = variables or ",".join(default_vars)``
    (reference server.py:215, 218, 223, 348, 350): ``variables`` may be
    a comma-separated string (the reference's wire format,
    server.py:150-151) or a list; ``None``/empty falls back to
    ``defaults``.  Unknown variable names raise at plan time — the
    analyzer-style fail-fast the reference gets from the remote API's
    400 response (server.py:263-277).
    """
    if isinstance(variables, str):
        variables = [v.strip() for v in variables.split(",") if v.strip()]
    cols = list(variables) if variables else list(defaults)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown variables: {missing}")
    return df.select(*keys, *cols)


def filter_coord_range(
    df: DataFrame, lat_col: str = "latitude", lon_col: str = "longitude"
) -> DataFrame:
    """Coordinate bounds: lat ∈ [-90, 90], lon ∈ [-180, 180].

    The reference validates per request via pydantic
    (server.py:46-51, 199-203); over a table the same contract is a
    filter that Catalyst pushes to the scan.
    """
    return df.filter(
        F.col(lat_col).between(-90.0, 90.0) & F.col(lon_col).between(-180.0, 180.0)
    )


def filter_date_range(
    df: DataFrame,
    ts_col: str,
    start_date: str | dt.date,
    end_date: str | dt.date,
) -> DataFrame:
    """Absolute date-range predicate with the reference's validation.

    ``get_history`` requires ISO dates and rejects ``start > end``
    (reference server.py:336-345); the range is inclusive of both end
    dates (the API's start_date/end_date semantics, server.py:354-358).
    Expressed as a ``between`` so partition pruning on ``date(ts)``
    layouts kicks in.
    """
    if isinstance(start_date, str):
        start_date = dt.date.fromisoformat(start_date)  # raises like server.py:341
    if isinstance(end_date, str):
        end_date = dt.date.fromisoformat(end_date)
    if start_date > end_date:
        raise ValueError("start_date must be <= end_date")  # server.py:343-345
    end_exclusive = end_date + dt.timedelta(days=1)
    return df.filter(
        (F.col(ts_col) >= F.lit(start_date.isoformat()).cast("timestamp"))
        & (F.col(ts_col) < F.lit(end_exclusive.isoformat()).cast("timestamp"))
    )


def filter_horizon_relative(
    df: DataFrame,
    ts_col: str,
    now: str | dt.datetime,
    past_days: int = 0,
    forecast_days: int = 7,
) -> DataFrame:
    """Relative time window around ``now``.

    ``past_days`` back to ``forecast_days`` forward, with the forward
    horizon clamped at 16 days (reference server.py:235-249:
    ``min(forecast_days, 16)``).  ``now`` is a parameter rather than
    ``current_timestamp()`` so plans are deterministic/testable; the
    streaming path supplies wall-clock.
    """
    if isinstance(now, str):
        now = dt.datetime.fromisoformat(now)
    forecast_days = min(int(forecast_days), MAX_FORECAST_DAYS)  # server.py:239
    lo = now - dt.timedelta(days=int(past_days))
    hi = now + dt.timedelta(days=forecast_days)
    return df.filter(
        (F.col(ts_col) >= F.lit(lo.isoformat(sep=" ")).cast("timestamp"))
        & (F.col(ts_col) < F.lit(hi.isoformat(sep=" ")).cast("timestamp"))
    )


def filter_null_guard(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Drop rows missing required fields.

    Table-side analog of the reference's "no location provided" guard
    (server.py:196-197, 329-330).
    """
    return df.na.drop(subset=list(cols))
