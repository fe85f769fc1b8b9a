"""API wrappers: the reference's tool semantics over DataFrames.

Mirrors the request lifecycle of ``get_forecast``
(reference server.py:142-280) and ``get_history`` (server.py:284-369):
bind → resolve location → validate → plan → execute; the "remote API"
stage becomes a Catalyst plan over the weather tables.  The
reference's error *values* (``{"status": "error", ...}``,
server.py:280, 369) become typed exceptions here — engine-internal
code raises; a serving layer that needs envelopes wraps at the
boundary (SURVEY.md §7 hard parts).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregates import (
    DAILY_VARIABLE_SPECS,
    daily_summary,
    daily_summary_with_mode,
)
from ..operators.relational import (
    filter_date_range,
    filter_horizon_relative,
    select_vars,
)
from ..schemas import DEFAULT_HOURLY_VARS
from .. import fixtures


DEFAULT_FORECAST_DAYS = 7


def resolve_horizon_params(
    forecast_days: int | None, past_days: int | None
) -> tuple[int, bool]:
    """Reproduce the reference's forecast-horizon request construction
    (server.py:236-249) exactly.

    The reference injects the 7-day default only when *neither*
    horizon is caller-specified; a caller passing ``past_days=3,
    forecast_days=None`` sends an upstream request with NO
    ``forecast_days`` param at all.  Returns ``(effective_days,
    param_present)``:

    - ``param_present`` is whether ``forecast_days`` appears in the
      upstream request — the wire-level parity surface, pinned by
      tests/test_api_wrappers.py.
    - ``effective_days`` is the forward window the caller observes.
      When the param is omitted, the upstream (Open-Meteo) applies its
      own documented server-side default of 7 forecast days, so the
      fixture-backed engine uses ``DEFAULT_FORECAST_DAYS`` there too —
      matching what a reference user actually receives, not a
      zero-length forward window.
    """
    if forecast_days is not None and forecast_days > 0:
        return min(int(forecast_days), 16), True  # server.py:239 API limit
    if past_days is not None and past_days > 0:
        return DEFAULT_FORECAST_DAYS, False  # param omitted upstream
    return DEFAULT_FORECAST_DAYS, True  # server.py:249 default injection


class ForecastRequestError(ValueError):
    """Engine analog of the reference's error envelope
    (server.py:192, 197, 280): invalid request semantics detected
    before any job runs."""


#: Open-Meteo's documented ``past_days`` range is 0-92
#: (https://open-meteo.com/en/docs)
MAX_PAST_DAYS = 92


def _horizon_days(name: str, value, cap: int | None = None) -> int | None:
    """A request's ``past_days`` / ``forecast_days`` checked at bind
    time: ``None`` (JSON null) passes through; a bool, a non-integer,
    a negative value or one above ``cap`` is a request error naming
    the parameter."""
    if value is None:
        return None
    if isinstance(value, bool) or not isinstance(value, int):
        raise ForecastRequestError(f"invalid {name}: {value!r}")
    if value < 0 or (cap is not None and value > cap):
        limit = f"0-{cap}" if cap is not None else ">= 0"
        raise ForecastRequestError(f"invalid {name}: {value!r} (expected {limit})")
    return value


def http_error_message(err: Exception, tool: str = "forecast") -> str:
    """Reference-shaped failure message for a source fetch error
    (server.py:258-280 for forecast, 363-369 for history).

    HTTP 400 gets the enriched guidance path: the remote answered, so
    the parsed ``reason`` from its error body is appended as
    ``API Reason: ...`` and the raw body as ``Raw Response: ...``
    (server.py:263-277).  Everything else gets the generic
    ``Failed to retrieve {tool}: ...`` message.
    """
    from ..sources.resilience import HttpStatusError

    if isinstance(err, HttpStatusError) and err.status == 400:
        if tool == "history":
            return (
                "Failed to retrieve history due to invalid request "
                "(Error 400). Check if dates are valid and requested "
                "variables exist for the chosen granularity in the "
                f"archive. Detail: {err}"
            )
        guidance = (
            "Check if requested variables (hourly/daily/minutely) are "
            "valid for the forecast API and chosen granularity."
        )
        if err.reason:
            guidance += f" API Reason: {err.reason}"
        detail = err.body or "Could not read API response body."
        return (
            "Failed to retrieve forecast due to invalid request "
            f"(Error 400). {guidance} Raw Response: {detail}"
        )
    return f"Failed to retrieve {tool}: {err}"


def geocode(
    spark: SparkSession,
    place: str,
    geo: DataFrame | None = None,
    transport=None,
):
    """place → (location_id, lat, lon) via the geo dimension, falling
    back to LIVE Nominatim when enabled.

    Resolution order mirrors the reference's free-text tolerance
    (Nominatim resolves "Paris, France", "paris" and "PARIS FRANCE"
    alike, server.py:96-119): exact match first, then the
    alias-expanded dimension on the normalized key (case /
    punctuation / spacing-insensitive), then the normalized key
    against the dimension's own names.  When the dimension misses AND
    live fetch is available (``WDS_LIVE_FETCH=1`` or an injected
    ``transport``), the free-text string goes to Nominatim with the
    reference's 1.1 s throttle and ``exactly_one`` semantics
    (server.py:96-119), and the result snaps to the nearest catalog
    location for warehouse lookups.  A miss still raises, matching
    ``exactly_one=True`` → ``ValueError`` (server.py:110-114) — same
    error envelope either way.

    The dimension is a handful of rows, so matching runs on the driver
    with no Spark job: against ``fixtures.GEO_ROWS`` /
    ``GEO_ALIAS_ROWS`` by default, or against the collected rows of an
    injected ``geo`` frame (which has no alias table).
    """
    from ..sources import live

    if not isinstance(place, str):
        raise ForecastRequestError(f"invalid place: {place!r}")
    rows = _geo_rows(geo)
    aliases = fixtures.GEO_ALIAS_ROWS if geo is None else ()
    hit = _match_place(place, rows, aliases)
    if hit is not None:
        return hit
    if transport is not None or live.live_fetch_enabled():
        try:
            lat, lon = live.geocode_place(place, transport=transport)
        except ValueError as exc:
            raise ForecastRequestError(str(exc)) from exc
        _validate_coord(lat, lon)
        return _nearest_location_id(rows, lat, lon), lat, lon
    raise ForecastRequestError(f"Could not find coordinates for {place!r}")


def _geo_rows(geo: DataFrame | None) -> list[tuple]:
    """``(place, location_id, latitude, longitude)`` per dimension row:
    the fixture's rows, or an injected frame's, collected in order."""
    if geo is None:
        return [r[:4] for r in fixtures.GEO_ROWS]
    return [
        tuple(r)
        for r in geo.select("place", "location_id", "latitude", "longitude").collect()
    ]


def _match_place(place: str, rows, aliases):
    """First ``(location_id, lat, lon)`` whose name matches ``place``:
    exact name, else normalized alias (``aliases`` rows are ``(alias,
    place, location_id, lat, lon, ...)``), else normalized name."""
    from ..operators.joins import normalize_place_text

    for name, loc_id, lat, lon in rows:
        if name == place:
            return loc_id, lat, lon
    key = normalize_place_text(place)
    for alias, _, loc_id, lat, lon, *_ in aliases:
        if normalize_place_text(alias) == key:
            return loc_id, lat, lon
    for name, loc_id, lat, lon in rows:
        if name is not None and normalize_place_text(name) == key:
            return loc_id, lat, lon
    return None


def _nearest_location_id(rows, lat: float, lon: float) -> int:
    """Snap an arbitrary coordinate to the nearest catalog location
    (the API's grid-point snap, WetIng.pdf p.1-2) — nearest by squared
    degree distance, deterministic tie-break on location_id.  Rows
    without coordinates never win."""
    cand = [
        ((r_lat - lat) ** 2 + (r_lon - lon) ** 2, loc_id)
        for _, loc_id, r_lat, r_lon in rows
        if r_lat is not None and r_lon is not None
    ]
    if not cand:
        raise ForecastRequestError("empty geo dimension")
    return min(cand)[1]


def _validate_coord(lat: float, lon: float) -> None:
    # Coordinate bounds (reference server.py:46-51, 199-203)
    if not (-90.0 <= lat <= 90.0 and -180.0 <= lon <= 180.0):
        raise ForecastRequestError(f"invalid coordinates: ({lat}, {lon})")


def _as_coord(name: str, value) -> float:
    """A request's latitude/longitude as a float, or a request error
    (booleans and non-numeric strings are not coordinates)."""
    if not isinstance(value, bool):
        try:
            return float(value)
        except (TypeError, ValueError):
            pass
    raise ForecastRequestError(f"invalid {name}: {value!r}")


def _resolve_location(spark, place, latitude, longitude, geo):
    """place overrides explicit lat/lon (reference server.py:166,
    188-190); no location at all is an error (server.py:196-197)."""
    if place is not None:
        loc_id, lat, lon = geocode(spark, place, geo)
        _validate_coord(lat, lon)
    elif latitude is not None and longitude is not None:
        lat = _as_coord("latitude", latitude)
        lon = _as_coord("longitude", longitude)
        _validate_coord(lat, lon)
        loc_id = _nearest_location_id(_geo_rows(geo), lat, lon)
    else:
        raise ForecastRequestError(
            "Either 'place' or both 'latitude' and 'longitude' must be provided"
        )
    return loc_id, lat, lon


def _materialize(
    wh: DataFrame, granularity: int, variables, loc_id: int,
    native_15min: bool = False, sort: bool = True,
) -> DataFrame:
    """Granularity dispatch (reference server.py:213-225): 15 → 15-min
    resample (skipped when the source is already quarter-hour), 60 →
    hourly passthrough, ≥1440 → daily aggregates.  ``sort=False``
    skips the terminal order-by — the wire block is sorted, but
    pipeline composition (union_prefer → re-aggregate) would pay a
    dead range-exchange per branch for an ordering the next stage
    destroys."""
    base = wh.filter(F.col("location_id") == loc_id)
    if granularity >= 1440:
        specs = {
            name: spec
            for name, spec in DAILY_VARIABLE_SPECS.items()
            if spec[1] != "mode"
            and (variables is None or name in _as_list(variables))
        }
        want_mode = variables is None or "weather_code" in _as_list(variables)
        if want_mode:
            # single-pass two-level plan (daily_summary_with_mode):
            # the old daily_summary ⋈ categorical_mode shape scanned
            # `base` twice, once per branch — same results, one scan
            out = daily_summary_with_mode(
                base,
                "ts",
                ["location_id"],
                {**specs, "weather_code": ("weather_code", "mode")},
            ).select(
                "location_id", *specs, "day", "weather_code"
            )
        else:
            out = daily_summary(base, "ts", ["location_id"], specs)
        return out.orderBy("day") if sort else out
    if granularity == 15 and not native_15min:
        # caller injected an HOURLY frame: resample by forward-fill
        # within the hour (explode of 4 offsets).  The default path
        # reads the native quarter-hour source instead — the
        # reference's minutely_15 is real 15-min model output
        # (server.py:213-217), not an hourly ffill.
        offs = F.explode(F.array(*[F.lit(m) for m in (0, 15, 30, 45)]))
        base = (
            base.withColumn("__m", offs)
            .withColumn("ts", F.col("ts") + F.make_interval(mins=F.col("__m")))
            .drop("__m")
        )
    proj = select_vars(
        base, variables, DEFAULT_HOURLY_VARS, keys=["location_id", "ts"]
    )
    return proj.orderBy("ts") if sort else proj


def _as_list(variables) -> list[str]:
    if variables is None:
        return []
    if isinstance(variables, str):
        return [v.strip() for v in variables.split(",") if v.strip()]
    return list(variables)


def _check_variables(variables, known) -> None:
    """Reject any requested name outside ``known`` — called before the
    location resolves, so an invalid request runs no Spark job."""
    unknown = [v for v in _as_list(variables) if v not in known]
    if unknown:
        raise ForecastRequestError(f"unknown variables: {unknown}")


#: the served fixture frames, one cached frame per (fixture,
#: application, session time zone) — see ``_served_fixture``
_SERVED: dict[tuple, DataFrame] = {}


def _served_fixture(spark: SparkSession, build) -> DataFrame:
    """``build(spark).cache()``, built once per SparkSession and reused
    by every request, so a request pays neither the fixture's plan
    construction nor its generation.

    The key holds the session time zone because the fixture's
    timestamps are cast from strings under it: a hostile-timezone
    session never reads a frame generated under another zone.  The
    fixture's own partitions are kept: coalescing before the cache
    regroups a daily float sum across what were partition boundaries
    and moves it by an ULP.  ``cache()`` is lazy (the first request's
    action materializes it) and registers the plan in Spark's
    CacheManager, so any later query over an identical default-argument
    fixture plan reads this cache; only this module builds such plans.
    A frame whose cache entry was dropped (``clearCache``, or an
    ``unpersist`` of an identical plan) is cached again."""
    app = spark.sparkContext.applicationId
    key = (build.__name__, app, spark.conf.get("spark.sql.session.timeZone"))
    df = _SERVED.get(key)
    if df is None:
        for stale in [k for k in _SERVED if k[1] != app]:
            del _SERVED[stale]
        df = _SERVED[key] = build(spark).cache()
    elif not df.storageLevel.useMemory:
        df.cache()
    return df


def _weather_source(spark, weather, native_15):
    """The injected frame, else the native quarter-hour fixture for
    15-min requests (the reference's minutely_15 block is real 15-min
    model output, server.py:213-217), else the hourly fixture."""
    if weather is not None:
        return weather
    if native_15:
        return _served_fixture(spark, fixtures.weather_15min)
    return _served_fixture(spark, fixtures.weather_hourly)


def get_forecast_blocks(
    spark: SparkSession,
    place: str | None = None,
    latitude: float | None = None,
    longitude: float | None = None,
    granularity: int = 60,
    forecast_days: int | None = 7,
    past_days: int = 0,
    variables: str | list[str] | None = None,
    daily_variables: str | list[str] | None = None,
    now: str = fixtures.FIXTURE_NOW,
    weather: DataFrame | None = None,
    geo: DataFrame | None = None,
    sort: bool = True,
) -> dict[str, DataFrame]:
    """Engine ``get_forecast``, full multi-block response
    (reference server.py:142-280).

    Returns ``{block_key: DataFrame}`` keyed like the reference's wire
    response: the primary block under ``minutely_15`` / ``hourly`` /
    ``daily`` per granularity, PLUS — when ``daily_variables`` is
    explicitly requested alongside a sub-daily granularity — a second
    ``daily`` block (reference server.py:227-233 adds
    ``params["daily"] = daily_variables`` *regardless of the main
    granularity*, so one upstream call answers with both blocks).

    Parameter semantics preserved: place-overrides-latlon, granularity
    dispatch {15, 60, ≥1440}, ``forecast_days`` clamped at 16,
    ``past_days`` back-window, caller-selected variables.  ``now`` is
    explicit (pinned in tests; wall-clock in production).
    """
    if granularity not in (15, 60) and granularity < 1440:
        raise ForecastRequestError(f"unsupported granularity: {granularity}")
    # forecast_days above 16 is clamped below (the reference's limit);
    # a null past_days means none
    forecast_days = _horizon_days("forecast_days", forecast_days)
    past_days = _horizon_days("past_days", past_days, MAX_PAST_DAYS) or 0
    # server.py:236-249 horizon-default branch: 7-day default injected
    # only when NEITHER horizon was caller-specified; otherwise the
    # upstream default applies (see resolve_horizon_params).
    forecast_days, _ = resolve_horizon_params(forecast_days, past_days)
    # an injected hourly frame is resampled to 15 min; the default path
    # reads the native quarter-hour source
    native_15 = weather is None and granularity == 15
    gran = 1440 if granularity >= 1440 else granularity
    # reference fallback chain for daily granularity (server.py:223):
    # `daily_variables or variables or defaults` — a caller supplying
    # only `variables` still gets their selection at daily granularity
    vars_ = (daily_variables or variables) if gran == 1440 else variables
    wh = _weather_source(spark, weather, native_15)
    _check_variables(vars_, DAILY_VARIABLE_SPECS if gran == 1440 else wh.columns)
    if gran != 1440:
        _check_variables(daily_variables, DAILY_VARIABLE_SPECS)
    loc_id, _, _ = _resolve_location(spark, place, latitude, longitude, geo)
    horizon = filter_horizon_relative(
        wh, "ts", now, past_days=past_days, forecast_days=forecast_days
    )
    primary_key = (
        "daily" if gran == 1440 else ("minutely_15" if gran == 15 else "hourly")
    )
    blocks = {
        primary_key: _materialize(
            horizon, gran, vars_, loc_id, native_15min=native_15, sort=sort
        )
    }
    if daily_variables and gran != 1440:
        # daily aggregates derive from the HOURLY model output even when
        # the primary block is quarter-hour (the reference's daily block
        # is the API's own daily product, not a 15-min rollup)
        if weather is not None:
            daily_src = horizon
        else:
            daily_src = filter_horizon_relative(
                _weather_source(spark, None, False),
                "ts",
                now,
                past_days=past_days,
                forecast_days=forecast_days,
            )
        blocks["daily"] = _materialize(daily_src, 1440, daily_variables, loc_id)
    return blocks


def get_forecast(
    spark: SparkSession,
    place: str | None = None,
    latitude: float | None = None,
    longitude: float | None = None,
    granularity: int = 60,
    forecast_days: int | None = 7,
    past_days: int = 0,
    variables: str | list[str] | None = None,
    daily_variables: str | list[str] | None = None,
    now: str = fixtures.FIXTURE_NOW,
    weather: DataFrame | None = None,
    geo: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """Engine ``get_forecast`` (reference server.py:142-280), primary
    block only — the single-DataFrame accessor.  Callers that request
    ``daily_variables`` alongside an hourly/15-min granularity and want
    the additional daily block (server.py:227-233) use
    :func:`get_forecast_blocks`; the serving layer does.
    """
    blocks = get_forecast_blocks(
        spark,
        place=place,
        latitude=latitude,
        longitude=longitude,
        granularity=granularity,
        forecast_days=forecast_days,
        past_days=past_days,
        variables=variables,
        daily_variables=daily_variables,
        now=now,
        weather=weather,
        geo=geo,
        sort=sort,
    )
    primary = next(k for k in ("minutely_15", "hourly", "daily") if k in blocks)
    return blocks[primary]


def get_history(
    spark: SparkSession,
    start_date: str,
    end_date: str,
    place: str | None = None,
    latitude: float | None = None,
    longitude: float | None = None,
    granularity: int = 60,
    variables: str | list[str] | None = None,
    weather: DataFrame | None = None,
    geo: DataFrame | None = None,
    sort: bool = True,
) -> DataFrame:
    """Engine ``get_history`` (reference server.py:284-369): dates are
    required ISO strings with ``start <= end`` (server.py:336-345);
    granularity 15 is rejected for history (server.py:351-352)."""
    if granularity == 15:
        raise ForecastRequestError(
            "15-minute granularity is not available for historical data"
        )
    if granularity != 60 and granularity < 1440:
        raise ForecastRequestError(f"unsupported granularity: {granularity}")
    try:
        sd = dt.date.fromisoformat(start_date)
        ed = dt.date.fromisoformat(end_date)
    except (TypeError, ValueError) as exc:
        raise ForecastRequestError(f"invalid date: {exc}") from exc
    if sd > ed:
        raise ForecastRequestError("start_date must be <= end_date")
    gran = 1440 if granularity >= 1440 else granularity
    wh = _weather_source(spark, weather, False)
    _check_variables(variables, DAILY_VARIABLE_SPECS if gran == 1440 else wh.columns)
    loc_id, _, _ = _resolve_location(spark, place, latitude, longitude, geo)
    ranged = filter_date_range(wh, "ts", sd, ed)
    return _materialize(ranged, gran, variables, loc_id, sort=sort)
