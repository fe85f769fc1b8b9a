"""Golden tests for the reference-parity API wrappers (SURVEY.md §5.2):
granularity dispatch, horizon clamp, place-overrides-latlon, error
envelopes — semantics cited from reference server.py."""

import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from weather_data_ingestion_service_spark import fixtures
from weather_data_ingestion_service_spark.api import (
    ForecastRequestError,
    geocode,
    get_forecast,
    get_history,
)


@pytest.fixture(scope="module")
def weather(spark):
    df = fixtures.weather_hourly(spark).cache()
    df.count()
    yield df
    df.unpersist()


class TestGetForecast:
    def test_default_hourly_shape(self, spark, weather):
        # 7 forecast days × 24 h from the pinned now (server.py:33: default 7d)
        df = get_forecast(spark, place="Prague, CZ", weather=weather)
        assert df.count() == 7 * 24
        assert "temperature_2m" in df.columns and "ts" in df.columns

    def test_past_days_extends_back(self, spark, weather):
        df = get_forecast(spark, place="Prague, CZ", past_days=3, weather=weather)
        assert df.count() == (3 + 7) * 24  # server.py:236-249

    def test_forecast_days_none_with_past_days(self, spark, weather):
        """server.py:236-249: with only past_days set, the reference
        omits forecast_days from the upstream request; the upstream's
        own 7-day default then applies, so the caller still observes a
        7-day forward window (plus the 3-day back window)."""
        df = get_forecast(
            spark,
            place="Prague, CZ",
            past_days=3,
            forecast_days=None,
            weather=weather,
        )
        assert df.count() == (3 + 7) * 24

    def test_horizon_param_construction_branch(self):
        """The request-construction branch of server.py:236-249, pinned
        as a pure function: (effective_days, param_present)."""
        from weather_data_ingestion_service_spark.api.wrappers import (
            resolve_horizon_params,
        )

        # caller-specified forecast horizon: clamped, param present
        assert resolve_horizon_params(3, 0) == (3, True)
        assert resolve_horizon_params(99, 0) == (16, True)
        assert resolve_horizon_params(5, 2) == (5, True)
        # only past_days: param OMITTED (upstream default applies)
        assert resolve_horizon_params(None, 3) == (7, False)
        assert resolve_horizon_params(0, 3) == (7, False)
        # neither horizon: explicit 7-day default injection
        assert resolve_horizon_params(None, 0) == (7, True)
        assert resolve_horizon_params(0, None) == (7, True)

    def test_variable_subset_projection(self, spark, weather):
        df = get_forecast(
            spark,
            place="Prague, CZ",
            variables="temperature_2m,precipitation",
            weather=weather,
        )
        assert df.columns == ["location_id", "ts", "temperature_2m", "precipitation"]

    def test_granularity_15_quadruples_rows(self, spark, weather):
        hourly = get_forecast(spark, place="Prague, CZ", weather=weather)
        q = get_forecast(spark, place="Prague, CZ", granularity=15, weather=weather)
        assert q.count() == 4 * hourly.count()  # server.py:213-217

    def test_granularity_15_default_is_native_quarter_hour(self, spark):
        """Without an injected hourly frame, minutely_15 comes from the
        TRUE 15-min fixture (server.py:213-217 is real quarter-hour
        model output): values vary WITHIN an hour, which an hourly
        forward-fill cannot produce."""
        df = get_forecast(spark, place="Prague, CZ", granularity=15)
        assert df.count() == 4 * 7 * 24
        within_hour = (
            df.groupBy(F.date_trunc("hour", "ts").alias("h"))
            .agg(F.countDistinct("temperature_2m").alias("n"))
            .agg(F.max("n").alias("mx"))
            .collect()[0]["mx"]
        )
        assert within_hour > 1

    def test_daily_variables_fallback_chain(self, spark, weather):
        """Reference server.py:223: at daily granularity the selection
        is `daily_variables or variables or defaults` — a caller
        supplying only `variables` still gets their subset."""
        df = get_forecast(
            spark, place="Prague, CZ", granularity=1440,
            variables="temperature_2m_max", weather=weather,
        )
        assert set(df.columns) == {"location_id", "day", "temperature_2m_max"}
        # explicit daily_variables wins over variables
        df2 = get_forecast(
            spark, place="Prague, CZ", granularity=1440,
            variables="temperature_2m_max",
            daily_variables="precipitation_sum", weather=weather,
        )
        assert set(df2.columns) == {"location_id", "day", "precipitation_sum"}

    def test_daily_variables_alongside_hourly(self, spark, weather):
        """Reference server.py:227-233: an explicit ``daily_variables``
        is added to the request REGARDLESS of the main granularity, so
        one hourly call answers with an hourly block AND a daily block.
        ``get_forecast_blocks`` is the multi-block accessor; the plain
        ``get_forecast`` keeps returning the primary block."""
        from weather_data_ingestion_service_spark.api.wrappers import (
            get_forecast_blocks,
        )

        blocks = get_forecast_blocks(
            spark, place="Prague, CZ", granularity=60,
            variables="temperature_2m",
            daily_variables="precipitation_sum", weather=weather,
        )
        assert set(blocks) == {"hourly", "daily"}
        assert blocks["hourly"].columns == [
            "location_id", "ts", "temperature_2m",
        ]
        assert set(blocks["daily"].columns) == {
            "location_id", "day", "precipitation_sum",
        }
        assert blocks["hourly"].count() == 7 * 24
        assert blocks["daily"].count() == 7
        # primary accessor unchanged: hourly block only
        df = get_forecast(
            spark, place="Prague, CZ", granularity=60,
            variables="temperature_2m",
            daily_variables="precipitation_sum", weather=weather,
        )
        assert df.columns == ["location_id", "ts", "temperature_2m"]
        # no daily_variables → no daily block alongside hourly
        only_hourly = get_forecast_blocks(
            spark, place="Prague, CZ", granularity=60, weather=weather,
        )
        assert set(only_hourly) == {"hourly"}
        # at daily granularity the daily block IS the primary — no dup
        daily_primary = get_forecast_blocks(
            spark, place="Prague, CZ", granularity=1440,
            daily_variables="precipitation_sum", weather=weather,
        )
        assert set(daily_primary) == {"daily"}

    def test_daily_block_alongside_native_15min(self, spark):
        """The 15-min primary path still sources the daily block from
        the HOURLY model output (the reference's daily block is the
        API's daily product, not a quarter-hour rollup)."""
        from weather_data_ingestion_service_spark.api.wrappers import (
            get_forecast_blocks,
        )

        blocks = get_forecast_blocks(
            spark, place="Prague, CZ", granularity=15,
            daily_variables="temperature_2m_max",
        )
        assert set(blocks) == {"minutely_15", "daily"}
        assert blocks["minutely_15"].count() == 4 * 7 * 24
        assert blocks["daily"].count() == 7

    def test_daily_aggregates(self, spark, weather):
        df = get_forecast(spark, place="Prague, CZ", granularity=1440, weather=weather)
        rows = df.collect()
        assert len(rows) == 7
        cols = set(df.columns)
        assert {"temperature_2m_max", "precipitation_sum", "weather_code"} <= cols

    def test_horizon_clamp_16_days(self, spark, weather):
        df = get_forecast(
            spark, place="Prague, CZ", forecast_days=99, weather=weather
        )
        # fixture has 21 days; now is day 14 → 16-day clamp leaves ≤ 7 days
        assert df.count() <= 16 * 24  # server.py:239

    def test_place_overrides_latlon(self, spark, weather):
        # Madrid coordinates but place=Prague → Prague's series (server.py:166)
        by_place = get_forecast(
            spark, place="Prague, CZ", latitude=40.42, longitude=-3.70, weather=weather
        )
        assert by_place.select("location_id").distinct().first()[0] == 0

    def test_latlon_snaps_to_nearest_location(self, spark, weather):
        df = get_forecast(spark, latitude=40.0, longitude=-3.5, weather=weather)
        assert df.select("location_id").distinct().first()[0] == 3  # Madrid

    def test_missing_location_rejected(self, spark, weather):
        with pytest.raises(ForecastRequestError):
            get_forecast(spark, weather=weather)  # server.py:196-197

    def test_unknown_place_rejected(self, spark, weather):
        with pytest.raises(ForecastRequestError, match="Could not find"):
            get_forecast(spark, place="Atlantis", weather=weather)

    def test_out_of_range_latlon_rejected(self, spark, weather):
        with pytest.raises(ForecastRequestError, match="invalid coordinates"):
            get_forecast(spark, latitude=123.0, longitude=500.0, weather=weather)

    @pytest.mark.parametrize(
        "latitude,longitude,match",
        [
            ("abc", 14.4, "invalid latitude: 'abc'"),
            (50.0, [14.4], r"invalid longitude: \[14.4\]"),
            (True, 14.4, "invalid latitude: True"),
        ],
        ids=["string", "list", "bool"],
    )
    def test_bad_latlon_types_rejected(self, spark, latitude, longitude, match):
        """Coordinates are checked at bind time, before the nearest-
        location snap: a non-numeric value is a request error, not a
        ``ValueError`` from ``float()``."""
        with pytest.raises(ForecastRequestError, match=match):
            get_forecast(spark, latitude=latitude, longitude=longitude)


class TestGetHistory:
    def test_date_range_inclusive(self, spark, weather):
        df = get_history(
            spark, "2024-01-03", "2024-01-05", place="Berlin, DE", weather=weather
        )
        assert df.count() == 3 * 24  # both end dates included (server.py:354-358)

    def test_granularity_15_rejected(self, spark, weather):
        with pytest.raises(ForecastRequestError, match="15-minute"):
            get_history(
                spark, "2024-01-03", "2024-01-05", place="Berlin, DE",
                granularity=15, weather=weather,
            )  # server.py:351-352

    def test_reversed_dates_rejected(self, spark, weather):
        with pytest.raises(ForecastRequestError, match="start_date"):
            get_history(
                spark, "2024-01-05", "2024-01-03", place="Berlin, DE", weather=weather
            )  # server.py:343-345

    def test_daily_matches_manual_aggregation(self, spark, weather):
        df = get_history(
            spark, "2024-01-03", "2024-01-04", place="Prague, CZ",
            granularity=1440, weather=weather,
        )
        manual = (
            weather.filter(
                (F.col("location_id") == 0)
                & (F.col("ts") >= F.lit("2024-01-03").cast("timestamp"))
                & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
            )
            .groupBy(F.window("ts", "1 day")["start"].alias("day"))
            .agg(
                F.max("temperature_2m").alias("tmax"),
                F.sum("precipitation").alias("psum"),
            )
        )
        got = {r.day: (r.temperature_2m_max, r.precipitation_sum) for r in df.collect()}
        want = {r.day: (r.tmax, r.psum) for r in manual.collect()}
        assert got.keys() == want.keys()
        for day in want:
            # max is order-free and must be exact; the float sum's
            # accumulation order differs between the engine's two-level
            # daily+mode plan and this manual single groupBy, so it is
            # ULP-close, not bit-equal (the oracle-paired wx entries
            # use integer-valued measures exactly to avoid this)
            assert got[day][0] == want[day][0]
            assert got[day][1] == pytest.approx(want[day][1], rel=1e-12)


class TestGeocode:
    def test_known_place(self, spark):
        loc_id, lat, lon = geocode(spark, "Paris, FR")
        assert loc_id == 2 and abs(lat - 48.86) < 1e-9

    def test_miss_raises(self, spark):
        with pytest.raises(ForecastRequestError):
            geocode(spark, "Nowhere At All")  # server.py:112-114

    @pytest.mark.parametrize(
        "variant,want_loc",
        [
            ("paris, fr", 2),       # case
            ("  Paris,  FR ", 2),   # spacing + punctuation
            ("Paris, France", 2),   # alias
            ("paris france", 2),    # normalized alias
            ("Praha", 0),           # non-English alias
            ("WIEN", 4),            # alias, cased
            ("berlin germany", 1),  # alias, no punctuation
        ],
    )
    def test_free_text_variants_resolve(self, spark, variant, want_loc):
        """Nominatim-style free-text tolerance (server.py:96-119):
        case/spacing/punctuation variants and aliases resolve to the
        canonical location."""
        loc_id, _, _ = geocode(spark, variant)
        assert loc_id == want_loc

    def test_fuzzy_still_rejects_unknown(self, spark):
        with pytest.raises(ForecastRequestError):
            geocode(spark, "atlantis, ocean")


class TestLiveGeocode:
    """Live Nominatim path (reference server.py:96-119) through an
    injected transport — the sandbox is offline, so every test fakes
    the wire and asserts the reference's semantics."""

    @staticmethod
    def _transport_returning(hits, calls=None):
        import json

        def transport(url, params):
            if calls is not None:
                calls.append((url, dict(params)))
            return 200, json.dumps(hits)

        return transport

    def test_success_returns_top_hit(self):
        from weather_data_ingestion_service_spark.sources.live import (
            GEOCODE_API_BASE,
            geocode_place,
        )
        from weather_data_ingestion_service_spark.sources.resilience import (
            RateLimiter,
        )

        calls = []
        lat, lon = geocode_place(
            "Prague, Czechia",
            transport=self._transport_returning(
                [{"lat": "50.0874654", "lon": "14.4212535",
                  "display_name": "Praha, Česko"}],
                calls,
            ),
            limiter=RateLimiter(min_delay=0.0),
        )
        assert (lat, lon) == (50.0874654, 14.4212535)
        url, params = calls[0]
        assert url == GEOCODE_API_BASE
        # geopy's exactly_one=True requests a single hit
        assert params["q"] == "Prague, Czechia" and params["limit"] == 1

    def test_ambiguous_takes_first(self):
        """>1 hit resolves to the top-ranked match — the
        ``exactly_one=True`` coercion (server.py:110)."""
        from weather_data_ingestion_service_spark.sources.live import (
            geocode_place,
        )
        from weather_data_ingestion_service_spark.sources.resilience import (
            RateLimiter,
        )

        lat, lon = geocode_place(
            "Springfield",
            transport=self._transport_returning(
                [{"lat": "39.8", "lon": "-89.6"},
                 {"lat": "42.1", "lon": "-72.6"}]
            ),
            limiter=RateLimiter(min_delay=0.0),
        )
        assert (lat, lon) == (39.8, -89.6)

    def test_miss_raises_not_found(self):
        from weather_data_ingestion_service_spark.sources.live import (
            geocode_place,
        )
        from weather_data_ingestion_service_spark.sources.resilience import (
            RateLimiter,
        )

        with pytest.raises(ValueError, match="'Atlantis' not found"):
            geocode_place(
                "Atlantis",
                transport=self._transport_returning([]),
                limiter=RateLimiter(min_delay=0.0),
            )

    def test_http_failure_coerced_to_valueerror(self):
        """Any transport failure coerces to the reference's blanket
        ``Failed to geocode`` ValueError (server.py:116-119) — HTTP
        status errors included (fail-fast, no retry)."""
        from weather_data_ingestion_service_spark.sources.live import (
            geocode_place,
        )
        from weather_data_ingestion_service_spark.sources.resilience import (
            RateLimiter,
        )

        with pytest.raises(ValueError, match="Failed to geocode 'Oslo'"):
            geocode_place(
                "Oslo",
                transport=lambda url, params: (403, "blocked"),
                limiter=RateLimiter(min_delay=0.0),
            )

    def test_rate_limit_spacing(self):
        """Back-to-back live geocodes space ≥ 1.1 s apart
        (server.py:108: AsyncRateLimiter(min_delay_seconds=1.1))."""
        from weather_data_ingestion_service_spark.sources.live import (
            geocode_place,
        )
        from weather_data_ingestion_service_spark.sources.resilience import (
            RateLimiter,
        )

        t = [0.0]
        slept = []

        def clock():
            return t[0]

        def sleep(s):
            slept.append(s)
            t[0] += s

        limiter = RateLimiter(min_delay=1.1, clock=clock, sleep=sleep)
        transport = self._transport_returning([{"lat": "1", "lon": "2"}])
        geocode_place("A", transport=transport, limiter=limiter)
        t[0] += 0.4  # only 0.4 s elapsed since the first call
        geocode_place("B", transport=transport, limiter=limiter)
        assert slept and abs(slept[-1] - 0.7) < 1e-9

    def test_wrapper_dim_first_live_second(self, spark):
        """api.wrappers.geocode tries the static dimension first (no
        transport call for a known place), then live Nominatim for an
        unknown one, snapping to the nearest catalog location."""
        calls = []
        transport = self._transport_returning(
            [{"lat": "50.0", "lon": "14.4"}], calls
        )
        loc_id, lat, lon = geocode(spark, "Paris, FR", transport=transport)
        assert loc_id == 2 and not calls  # dim hit — wire never touched
        loc_id, lat, lon = geocode(
            spark, "Kutná Hora, Czechia", transport=transport
        )
        assert calls and (lat, lon) == (50.0, 14.4)
        assert loc_id == 0  # nearest catalog location is Praha

    def test_wrapper_live_miss_same_envelope(self, spark):
        """A live miss raises the same ForecastRequestError envelope
        as an offline miss (errors are values at the tool boundary)."""
        with pytest.raises(ForecastRequestError, match="not found"):
            geocode(
                spark, "Atlantis, Ocean",
                transport=self._transport_returning([]),
            )

    def test_wrapper_offline_unchanged(self, spark, monkeypatch):
        """Without WDS_LIVE_FETCH and without an injected transport the
        behavior is exactly the pre-live one: dim miss → error."""
        monkeypatch.delenv("WDS_LIVE_FETCH", raising=False)
        with pytest.raises(ForecastRequestError, match="Could not find"):
            geocode(spark, "Kutná Hora, Czechia")


class TestHistoryForecastUnion:
    def test_revision_supersedes_original(self, spark):
        """Weather-level union-with-preference: re-fetched rows (later
        fetched_at, shifted temperature) win over the original series
        for overlapping (location, ts) keys (server.py:304)."""
        from weather_data_ingestion_service_spark.operators.setops import union_prefer

        wh = fixtures.weather_hourly(spark, n_locations=2, n_days=5)
        revs = fixtures.weather_revisions(spark, n_locations=2, n_days=5).drop(
            "fetched_at"
        )
        assert revs.count() == 2 * 2 * 24  # non-vacuous: 2 locs × 2 days
        merged = union_prefer(revs, wh, keys=["location_id", "ts"])
        assert merged.count() == wh.count()  # same grid, no dupes
        overlap = merged.join(
            revs.select("location_id", "ts", F.col("temperature_2m").alias("rev_t")),
            ["location_id", "ts"],
        )
        assert overlap.filter(
            F.abs(F.col("temperature_2m") - F.col("rev_t")) > 1e-9
        ).count() == 0  # revised values won everywhere they existed


class TestStdioServe:
    """Serving boundary parity (reference server.py:258, 280): columnar
    success payloads, errors as envelope values, never exceptions."""

    def test_success_envelope_is_columnar(self, spark):
        from weather_data_ingestion_service_spark.api.serve import handle_request

        resp = handle_request(
            spark,
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "forecast_days": 2,
                        "variables": "temperature_2m,precipitation"}},
        )
        assert resp["status"] == "success"
        hourly = resp["data"]["hourly"]
        assert len(hourly["time"]) == 2 * 24
        assert len(hourly["temperature_2m"]) == len(hourly["time"])
        assert set(hourly) == {"time", "temperature_2m", "precipitation"}

    def test_null_forecast_days_with_past_days(self, spark):
        """JSON null forecast_days + past_days reaches the
        server.py:236-249 branch through the envelope: the param is
        omitted upstream, the upstream 7-day default applies, so the
        response carries (past + 7) days of hours."""
        from weather_data_ingestion_service_spark.api.serve import handle_request

        resp = handle_request(
            spark,
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "past_days": 1,
                        "forecast_days": None}},
        )
        assert resp["status"] == "success"
        assert len(resp["data"]["hourly"]["time"]) == (1 + 7) * 24

    def test_daily_block_key(self, spark):
        from weather_data_ingestion_service_spark.api.serve import handle_request

        resp = handle_request(
            spark,
            {"tool": "get_history",
             "params": {"place": "Berlin, DE", "start_date": "2024-01-03",
                        "end_date": "2024-01-04", "granularity": 1440}},
        )
        assert resp["status"] == "success"
        assert "daily" in resp["data"] and len(resp["data"]["daily"]["time"]) == 2

    def test_hourly_plus_daily_envelope(self, spark):
        """server.py:227-233: daily_variables alongside hourly yields
        both blocks in ONE success envelope."""
        from weather_data_ingestion_service_spark.api.serve import handle_request

        resp = handle_request(
            spark,
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "forecast_days": 2,
                        "variables": "temperature_2m",
                        "daily_variables": "precipitation_sum"}},
        )
        assert resp["status"] == "success"
        assert set(resp["data"]) >= {"location_id", "hourly", "daily"}
        assert len(resp["data"]["hourly"]["time"]) == 2 * 24
        assert len(resp["data"]["daily"]["time"]) == 2
        assert set(resp["data"]["daily"]) == {"time", "precipitation_sum"}

    @staticmethod
    def _jobs_in_group(spark, group, request):
        """Serve ``request`` under job group ``group``; return the
        envelope and the ids of the Spark jobs it ran."""
        from weather_data_ingestion_service_spark.api.serve import handle_request

        sc = spark.sparkContext
        sc.setJobGroup(group, "test_api_wrappers")
        try:
            resp = handle_request(spark, request)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return resp, list(sc.statusTracker().getJobIdsForGroup(group))

    @pytest.mark.parametrize(
        "params,unknown",
        [
            ({"variables": "temperature_2m,not_a_variable"},
             ["not_a_variable"]),
            ({"granularity": 1440, "variables": "temperature_2m"},
             ["temperature_2m"]),
            ({"daily_variables": "precipitation_sum,not_a_daily"},
             ["not_a_daily"]),
        ],
        ids=["unknown_hourly", "hourly_at_daily", "unknown_mixed_daily"],
    )
    def test_unknown_variables_error_before_any_job(self, spark, params, unknown):
        """Invalid variable names are an error envelope — never an
        exception out of handle_request, never silently dropped — and
        are rejected before geocoding, so no Spark job runs."""
        resp, jobs = self._jobs_in_group(
            spark,
            "wds-test-unknown-variables",
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "forecast_days": 2, **params}},
        )
        assert resp == {"status": "error",
                        "message": f"unknown variables: {unknown}"}
        assert jobs == []

    @pytest.mark.parametrize(
        "tool,params,unknown",
        [
            ("get_forecast", {"now": "2024-01-03 00:00:00"}, ["now"]),
            ("get_forecast", {"weather": "x"}, ["weather"]),
            ("get_forecast", {"sort": False, "geo": "x"}, ["geo", "sort"]),
            ("get_history", {"start_date": "2024-01-02", "end_date": "2024-01-03",
                             "now": "2024-01-03 00:00:00"}, ["now"]),
        ],
        ids=["now", "weather", "geo_sort", "history_now"],
    )
    def test_unknown_parameters_error_before_any_job(self, spark, tool, params, unknown):
        """Only the keys of the tool's advertised input schema reach the
        engine: internal keyword arguments (``now``, ``weather``,
        ``geo``, ``sort``) are an error envelope, and no job runs."""
        resp, jobs = self._jobs_in_group(
            spark,
            "wds-test-unknown-parameters",
            {"tool": tool, "params": {"place": "Prague, CZ", **params}},
        )
        assert resp == {"status": "error",
                        "message": f"unknown parameters: {unknown}"}
        assert jobs == []

    @pytest.mark.parametrize(
        "name,value",
        [
            ("past_days", 1_000_000_000),
            ("past_days", 93),
            ("past_days", -1),
            ("past_days", True),
            ("past_days", 1.5),
            ("past_days", "3"),
            ("forecast_days", -2),
            ("forecast_days", False),
            ("forecast_days", 2.0),
        ],
    )
    def test_horizon_params_are_range_checked(self, spark, name, value):
        """past_days / forecast_days that are not non-negative integers,
        or a past_days above Open-Meteo's 92, answer a request error
        naming the parameter before any job runs — not an internal
        OverflowError from the window arithmetic."""
        resp, jobs = self._jobs_in_group(
            spark,
            "wds-test-horizon-range",
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", name: value}},
        )
        assert resp["status"] == "error"
        assert resp["message"].startswith(f"invalid {name}: {value!r}"), resp
        assert jobs == []

    @pytest.mark.parametrize(
        "params,hours",
        [
            ({"past_days": 92, "forecast_days": 1}, None),
            ({"past_days": None, "forecast_days": 2}, 2 * 24),
            ({"forecast_days": 20}, None),
        ],
        ids=["past_days_92", "null_past_days", "forecast_days_20_clamped"],
    )
    def test_horizon_params_in_range_are_served(self, spark, params, hours):
        from weather_data_ingestion_service_spark.api.serve import handle_request

        resp = handle_request(
            spark, {"tool": "get_forecast", "params": {"place": "Prague, CZ", **params}}
        )
        assert resp["status"] == "success", resp
        if hours is not None:
            assert len(resp["data"]["hourly"]["time"]) == hours

    def test_valid_request_jobs_are_seen_by_its_group(self, spark):
        """Control for the no-job assertion above: the same job-group
        probe does see a valid request's jobs."""
        resp, jobs = self._jobs_in_group(
            spark,
            "wds-test-valid-variables",
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "forecast_days": 2,
                        "variables": "temperature_2m"}},
        )
        assert resp["status"] == "success"
        assert jobs

    def test_errors_are_values_not_exceptions(self, spark):
        from weather_data_ingestion_service_spark.api.serve import handle_request

        cases = [
            {"tool": "get_history", "params": {"place": "Prague, CZ",
             "start_date": "2024-01-10", "end_date": "2024-01-02"}},
            {"tool": "get_forecast", "params": {"place": "Atlantis"}},
            {"tool": "nonexistent_tool", "params": {}},
            {"tool": "get_forecast", "params": {"bogus_param": 1}},
            "not json at all {",
        ]
        for case in cases:
            resp = handle_request(spark, case)
            assert resp["status"] == "error" and resp["message"]

    @pytest.mark.parametrize(
        "params,message",
        [
            ({"latitude": "abc", "longitude": 14.4}, "invalid latitude: 'abc'"),
            ({"latitude": 50.0, "longitude": None, "place": 7}, "invalid place: 7"),
            ({"place": ["Prague, CZ"]}, "invalid place: ['Prague, CZ']"),
        ],
        ids=["non_numeric_latitude", "non_string_place", "list_place"],
    )
    def test_bad_param_types_are_envelopes(self, spark, params, message):
        """Wrong JSON types come back as error envelopes (they used to
        escape as ``ValueError`` / ``SparkRuntimeException``)."""
        from weather_data_ingestion_service_spark.api.serve import handle_request

        resp = handle_request(spark, {"tool": "get_forecast", "params": params})
        assert resp == {"status": "error", "message": message}

    def test_unexpected_tool_exception_is_envelope(self, spark, monkeypatch):
        from weather_data_ingestion_service_spark.api import serve

        def boom(spark_, **params):
            raise RuntimeError("kaput")

        monkeypatch.setitem(serve._TOOLS, "get_forecast", boom)
        resp = serve.handle_request(spark, {"tool": "get_forecast", "params": {}})
        assert resp == {"status": "error",
                        "message": "internal error: RuntimeError: kaput"}

    @pytest.mark.parametrize("framing", ["rpc", "legacy"])
    def test_stdio_answers_unexpected_exception(self, spark, monkeypatch, framing):
        """An exception escaping one line's handler is answered — JSON-RPC
        -32603 for an RPC line, an error envelope for a legacy line —
        and the loop goes on to serve the next line."""
        import io
        import json

        from weather_data_ingestion_service_spark.api import serve

        def boom(spark_, request):
            raise RuntimeError("kaput")

        monkeypatch.setattr(serve, "handle_request", boom)
        if framing == "rpc":
            bad = {"jsonrpc": "2.0", "id": 7, "method": "tools/call",
                   "params": {"name": "get_forecast", "arguments": {}}}
            want = {"jsonrpc": "2.0", "id": 7, "error": {
                "code": -32603, "message": "internal error: RuntimeError: kaput"}}
        else:
            bad = {"tool": "get_forecast", "params": {}}
            want = {"status": "error",
                    "message": "internal error: RuntimeError: kaput"}
        ping = {"jsonrpc": "2.0", "id": 8, "method": "ping"}
        stdin = io.StringIO(json.dumps(bad) + "\n" + json.dumps(ping) + "\n")
        stdout = io.StringIO()
        serve.serve_stdio(spark, stdin, stdout)
        out = [json.loads(l) for l in stdout.getvalue().splitlines()]
        assert out == [want, {"jsonrpc": "2.0", "id": 8, "result": {}}]

    def test_request_log_line_on_stderr(self, spark, capsys):
        """One JSON line per tool request on stderr with tool, status,
        error class, rows per block, truncated and latency; stdout of
        the stdio loop holds only responses."""
        import io
        import json

        from weather_data_ingestion_service_spark.api.serve import serve_stdio

        msgs = [
            {"tool": "get_forecast",
             "params": {"place": "Paris, FR", "forecast_days": 1,
                        "variables": "temperature_2m",
                        "daily_variables": "precipitation_sum"}},
            {"jsonrpc": "2.0", "id": 2, "method": "tools/call",
             "params": {"name": "get_forecast",
                        "arguments": {"place": "Atlantis"}}},
            {"jsonrpc": "2.0", "id": 3, "method": "ping"},
        ]
        stdin = io.StringIO("".join(json.dumps(m) + "\n" for m in msgs))
        stdout = io.StringIO()
        capsys.readouterr()
        serve_stdio(spark, stdin, stdout)
        captured = capsys.readouterr()
        assert captured.out == ""
        responses = [json.loads(l) for l in stdout.getvalue().splitlines()]
        assert [r.get("status") or r["id"] for r in responses] == ["success", 2, 3]
        logs = [json.loads(l) for l in captured.err.splitlines()
                if l.startswith('{"event": "tool_request"')]
        assert len(logs) == 2  # ping is not a tool request
        ok, bad = logs
        assert set(ok) == {"event", "tool", "status", "error", "rows",
                           "truncated", "latency_ms"}
        assert ok["tool"] == "get_forecast" and ok["status"] == "success"
        assert ok["error"] is None and ok["truncated"] is False
        assert ok["rows"] == {"hourly": 24, "daily": 1}
        assert ok["latency_ms"] > 0
        assert bad["status"] == "error" and bad["error"] == "ForecastRequestError"
        assert bad["rows"] == {}

    def test_result_rows_capped_before_collect(self, spark, monkeypatch):
        """The serving collect is bounded: past the cap the block is
        cut at max_rows and flagged truncated — a pathological request
        can never become a full-table driver download."""
        from weather_data_ingestion_service_spark.api import serve

        monkeypatch.setattr(serve, "MAX_RESULT_ROWS", 10)
        resp = serve.handle_request(
            spark,
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "forecast_days": 2,
                        "variables": "temperature_2m"}},
        )
        assert resp["status"] == "success"
        assert resp["data"]["truncated"] is True
        assert len(resp["data"]["hourly"]["time"]) == 10
        # under the cap: no truncated marker on the wire
        monkeypatch.setattr(serve, "MAX_RESULT_ROWS", 100_000)
        resp2 = serve.handle_request(
            spark,
            {"tool": "get_forecast",
             "params": {"place": "Prague, CZ", "forecast_days": 1,
                        "variables": "temperature_2m"}},
        )
        assert resp2["status"] == "success" and "truncated" not in resp2["data"]

    def test_http_400_reason_enrichment(self, spark):
        """Reference server.py:263-277: a 400 from the source API is
        enriched with the parsed `reason` and raw body; other statuses
        get the generic message."""
        from weather_data_ingestion_service_spark.api.wrappers import (
            http_error_message,
        )
        from weather_data_ingestion_service_spark.sources.resilience import (
            HttpStatusError,
        )

        err = HttpStatusError(
            400,
            reason="Value error for parameter hourly",
            body='{"error":true,"reason":"Value error for parameter hourly"}',
        )
        msg = http_error_message(err, "forecast")
        assert msg.startswith(
            "Failed to retrieve forecast due to invalid request (Error 400)."
        )
        assert "API Reason: Value error for parameter hourly" in msg
        assert 'Raw Response: {"error":true' in msg
        # no parseable body → placeholder detail, no API Reason
        bare = http_error_message(HttpStatusError(400), "forecast")
        assert "Could not read API response body." in bare
        assert "API Reason" not in bare
        # history has its own wording (server.py:368)
        hist = http_error_message(HttpStatusError(400, reason="bad"), "history")
        assert hist.startswith(
            "Failed to retrieve history due to invalid request (Error 400)."
        )
        # non-400: generic path (server.py:280)
        assert http_error_message(HttpStatusError(500, reason="boom")).startswith(
            "Failed to retrieve forecast: HTTP 500"
        )

    def test_http_status_error_is_envelope_value_at_serve(self, spark):
        """An HttpStatusError surfacing from a tool becomes an enriched
        error envelope, never a traceback."""
        from weather_data_ingestion_service_spark.api import serve
        from weather_data_ingestion_service_spark.sources.resilience import (
            HttpStatusError,
        )

        def boom(spark_, **params):
            raise HttpStatusError(400, reason="unknown variable")

        orig = dict(serve._TOOLS)
        serve._TOOLS["get_forecast"] = boom
        try:
            resp = serve.handle_request(
                spark, {"tool": "get_forecast", "params": {"place": "Prague, CZ"}}
            )
        finally:
            serve._TOOLS.clear()
            serve._TOOLS.update(orig)
        assert resp["status"] == "error"
        assert "API Reason: unknown variable" in resp["message"]

    def test_mcp_jsonrpc_framing(self, spark):
        """MCP protocol surface (reference serves FastMCP over stdio,
        server.py:24, 378): initialize → tools/list → tools/call, with
        tool failures in-band as isError content and unknown methods
        as JSON-RPC errors."""
        import io
        import json

        from weather_data_ingestion_service_spark.api.serve import serve_stdio

        msgs = [
            {"jsonrpc": "2.0", "id": 1, "method": "initialize", "params": {}},
            {"jsonrpc": "2.0", "method": "notifications/initialized"},
            {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
            {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
             "params": {"name": "get_forecast",
                        "arguments": {"place": "Prague, CZ",
                                      "forecast_days": 1,
                                      "variables": "temperature_2m"}}},
            {"jsonrpc": "2.0", "id": 4, "method": "tools/call",
             "params": {"name": "get_forecast",
                        "arguments": {"place": "Atlantis"}}},
            {"jsonrpc": "2.0", "id": 5, "method": "bogus/method"},
            {"jsonrpc": "2.0", "id": 6, "method": "ping"},
        ]
        stdin = io.StringIO("".join(json.dumps(m) + "\n" for m in msgs))
        stdout = io.StringIO()
        serve_stdio(spark, stdin, stdout)
        out = [json.loads(l) for l in stdout.getvalue().strip().split("\n")]
        assert len(out) == 6  # the notification got no reply
        byid = {r["id"]: r for r in out}
        assert byid[1]["result"]["serverInfo"]["name"] == "weather-engine"
        tools = {t["name"] for t in byid[2]["result"]["tools"]}
        assert tools == {"get_forecast", "get_history"}
        call = byid[3]["result"]
        assert call["isError"] is False
        payload = json.loads(call["content"][0]["text"])
        assert payload["status"] == "success"
        assert len(payload["data"]["hourly"]["time"]) == 24
        bad = byid[4]["result"]
        assert bad["isError"] is True
        assert "Atlantis" in json.loads(bad["content"][0]["text"])["message"]
        assert byid[5]["error"]["code"] == -32601
        assert byid[6]["result"] == {}  # MCP ping liveness probe

    def test_stdio_loop_round_trip(self, spark):
        import io
        import json

        from weather_data_ingestion_service_spark.api.serve import serve_stdio

        stdin = io.StringIO(
            '{"tool": "get_forecast", "params": {"place": "Paris, FR", "forecast_days": 1}}\n'
            '{"tool": "get_forecast", "params": {"place": "Atlantis"}}\n'
        )
        stdout = io.StringIO()
        serve_stdio(spark, stdin, stdout)
        lines = [json.loads(l) for l in stdout.getvalue().strip().split("\n")]
        assert [r["status"] for r in lines] == ["success", "error"]


class TestServedSource:
    """The tool server's per-session cached fixture source and its
    driver-side geocoder must answer exactly what a freshly generated
    fixture and the Spark place-key join answer."""

    @settings(max_examples=15, deadline=None)
    @given(
        names=st.lists(
            st.text(
                alphabet=st.one_of(
                    st.characters(),
                    st.sampled_from("İıKÅΣßﬁ ,.-_AZaz09"),
                ),
                max_size=24,
            ),
            min_size=1,
            max_size=40,
        )
    )
    @example(names=["İstanbul", "Kelvin", "Straße", "  Paris,,FR  ", ""])
    def test_place_key_twin_matches_spark(self, spark, names):
        from weather_data_ingestion_service_spark.operators.joins import (
            normalize_place_key,
            normalize_place_text,
        )

        df = spark.createDataFrame([(i, n) for i, n in enumerate(names)], "i int, name string")
        got = dict(df.select("i", normalize_place_key("name").alias("k")).collect())
        assert [got[i] for i in range(len(names))] == [normalize_place_text(n) for n in names]

    #: hourly, 15-min with a daily block, and daily across 2024-01-11 for
    #: every place: under New York time Vienna's 2024-01-11 rain sum
    #: straddles a partition boundary of the fixture, and a cache
    #: coalesced to one partition moves it by an ULP
    REQUESTS = [
        {"tool": "get_forecast",
         "params": {"place": "Prague, CZ", "past_days": 3, "forecast_days": 2}},
        {"tool": "get_forecast",
         "params": {"place": "wien", "granularity": 15, "forecast_days": 1,
                    "daily_variables": "precipitation_sum,temperature_2m_max"}},
        *(
            {"tool": "get_history",
             "params": {"place": place, "start_date": "2024-01-10",
                        "end_date": "2024-01-12", "granularity": 1440}}
            for place in fixtures.PLACES
        ),
        {"tool": "get_history",
         "params": {"latitude": 48.9, "longitude": 2.3, "start_date": "2024-01-11",
                    "end_date": "2024-01-11"}},
    ]

    @pytest.fixture(params=["UTC", "America/New_York"])
    def session_tz(self, spark, request):
        from weather_data_ingestion_service_spark.api import wrappers

        key = "spark.sql.session.timeZone"
        before = spark.conf.get(key)
        spark.conf.set(key, request.param)
        try:
            yield request.param
        finally:
            spark.conf.set(key, before)
            for k in [k for k in wrappers._SERVED if k[2] != before]:
                wrappers._SERVED.pop(k).unpersist()

    def test_served_envelopes_equal_uncached_fixture(self, spark, monkeypatch, session_tz):
        """Byte-identical envelopes from the cached source (cold and
        warm) and from a freshly generated, uncached fixture.  The
        non-UTC case runs after UTC frames are memoized, so a memo that
        ignored the session time zone would serve UTC timestamps here."""
        import json

        from weather_data_ingestion_service_spark.api import wrappers
        from weather_data_ingestion_service_spark.api.serve import handle_request

        for df in wrappers._SERVED.values():
            df.unpersist()
        with monkeypatch.context() as m:
            m.setattr(wrappers, "_served_fixture", lambda spark_, build: build(spark_))
            assert not fixtures.weather_hourly(spark).storageLevel.useMemory
            want = [json.dumps(handle_request(spark, r)) for r in self.REQUESTS]
        assert all('"status": "success"' in w for w in want)
        for _ in ("cold", "warm"):
            assert [json.dumps(handle_request(spark, r)) for r in self.REQUESTS] == want
        served = [df for k, df in wrappers._SERVED.items() if k[2] == session_tz]
        assert served and all(df.storageLevel.useMemory for df in served)

    def test_warm_request_job_counts(self, spark):
        """On a warm session a place-name geocode runs no Spark job and
        an hourly request runs exactly one (its collect)."""
        sc = spark.sparkContext
        hourly = {"tool": "get_forecast",
                  "params": {"place": "PRAHA", "forecast_days": 2}}
        TestStdioServe._jobs_in_group(spark, "wds-test-warm-up", hourly)

        sc.setJobGroup("wds-test-geocode-jobs", "test_api_wrappers")
        try:
            assert geocode(spark, "berlin germany")[0] == 1
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup("wds-test-geocode-jobs")) == []

        resp, jobs = TestStdioServe._jobs_in_group(spark, "wds-test-hourly-jobs", hourly)
        assert resp["status"] == "success"
        assert len(jobs) == 1
