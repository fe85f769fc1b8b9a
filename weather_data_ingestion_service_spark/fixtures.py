"""Engine-generated weather fixture (FIXTURES.md §2).

Mirrors the reference's data model — hourly columnar series with the
15 ``DEFAULT_HOURLY_VARS`` (reference server.py:125-130) plus a
geocoding dimension (server.py:96-119) — generated deterministically
and Spark-natively: ``spark.range`` over (location × hour) with
hash-derived pseudo-randomness and sinusoidal diurnal/seasonal cycles.
No driver-side data generation, so the same code generates 5 locations
× 14 days for tests or 1M locations × 10 years at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: fixture epoch — tz pinned UTC (SURVEY.md §7 hard parts)
FIXTURE_START = "2024-01-01 00:00:00"
FIXTURE_DAYS = 21
FIXTURE_LOCATIONS = 5

#: a pinned "now" inside the fixture range for horizon queries
FIXTURE_NOW = "2024-01-15 00:00:00"

PLACES = ["Prague, CZ", "Berlin, DE", "Paris, FR", "Madrid, ES", "Vienna, AT"]
LATS = [50.08, 52.52, 48.86, 40.42, 48.21]
LONS = [14.44, 13.40, 2.35, -3.70, 16.37]

#: accepted alternative names per canonical place — the engine-side
#: analog of Nominatim's free-text tolerance (reference
#: server.py:96-119).  Matching is on the NORMALIZED key
#: (operators.joins.normalize_place_key), so each alias also covers
#: its case/punctuation/spacing variants.
PLACE_ALIASES: dict[str, list[str]] = {
    "Prague, CZ": ["Prague", "Praha", "Prague, Czech Republic"],
    "Berlin, DE": ["Berlin", "Berlin, Germany"],
    "Paris, FR": ["Paris", "Paris, France"],
    "Madrid, ES": ["Madrid", "Madrid, Spain"],
    "Vienna, AT": ["Vienna", "Wien", "Vienna, Austria"],
}


def _noise(seed_col, lo: float, hi: float) -> F.Column:
    """Deterministic uniform noise in [lo, hi) from a hash of the key."""
    u = (F.abs(F.xxhash64(seed_col)) % 1_000_000) / 1_000_000.0
    return F.lit(lo) + u * (hi - lo)


#: the geocoding dimension's rows: (place, location_id, latitude,
#: longitude, timezone).  Includes one out-of-range row to exercise
#: ``filter_coord_range`` and the invalid-coordinate path (reference
#: server.py:199-203).  The tool server resolves places against these
#: rows on the driver; ``geo_dim`` is the same rows as a frame.
GEO_ROWS: tuple[tuple, ...] = (
    *((place, i, LATS[i], LONS[i], "UTC") for i, place in enumerate(PLACES)),
    ("Nowhere, XX", 98, 123.0, 500.0, "UTC"),  # invalid coords
)

#: alias-expanded rows: (alias, place, location_id, latitude,
#: longitude, timezone), one per accepted name (canonical + every
#: ``PLACE_ALIASES`` entry).
GEO_ALIAS_ROWS: tuple[tuple, ...] = tuple(
    (alias, place, i, LATS[i], LONS[i], "UTC")
    for i, place in enumerate(PLACES)
    for alias in [place, *PLACE_ALIASES.get(place, [])]
)


def geo_dim(spark: SparkSession) -> DataFrame:
    """Geocoding dimension: place → location_id, lat/lon, timezone
    (``GEO_ROWS``)."""
    # Arrow local frame (io.local_frame, r14): createDataFrame slices
    # even a 6-row dim into defaultParallelism pickled partitions —
    # every broadcast of this dim re-ran a 32-partition Python scan
    from .io import local_frame

    return local_frame(
        spark, list(GEO_ROWS),
        "place string, location_id long, latitude double, longitude double, timezone string",
    )


def geo_alias_dim(spark: SparkSession) -> DataFrame:
    """Alias-expanded geocoding dimension (``GEO_ALIAS_ROWS``): each
    accepted name carries its canonical place's id/coordinates.  Feed
    to ``operators.joins.geocode_lookup_fuzzy`` for free-text
    resolution."""
    from .io import local_frame

    return local_frame(
        spark, list(GEO_ALIAS_ROWS),
        "alias string, place string, location_id long, "
        "latitude double, longitude double, timezone string",
    )


def weather_hourly(
    spark: SparkSession,
    n_locations: int = FIXTURE_LOCATIONS,
    n_days: int = FIXTURE_DAYS,
    start: str = FIXTURE_START,
) -> DataFrame:
    """Hourly weather series: ``n_locations × n_days×24`` rows with the
    reference's 15 hourly variables, plausible cycles, ~80%-zero
    precipitation and NULL patches in two measures."""
    n_hours = n_days * 24
    base = (
        spark.range(n_locations * n_hours)
        .withColumn("location_id", F.col("id") % n_locations)
        .withColumn("hour_idx", (F.col("id") / n_locations).cast("long"))
        .withColumn(
            "ts",
            F.lit(start).cast("timestamp")
            + F.make_interval(hours=F.col("hour_idx")),
        )
    )
    hod = F.col("hour_idx") % 24  # hour of day
    diurnal = F.sin((hod - 6) * (3.14159265 / 12.0))
    temp = (
        F.lit(2.0)
        + F.col("location_id") * 1.5
        + diurnal * 6.0
        + _noise(F.struct("id", F.lit("t")), -1.5, 1.5)
    )
    rh = F.lit(70.0) - diurnal * 15.0 + _noise(F.struct("id", F.lit("rh")), -8, 8)
    rain_gate = _noise(F.struct("id", F.lit("pg")), 0, 1) > 0.8  # ~80% dry
    precip = F.when(rain_gate, _noise(F.struct("id", F.lit("pa")), 0.1, 4.0)).otherwise(0.0)
    snow_gate = temp < 0
    solar = F.greatest(diurnal, F.lit(0.0)) * 500.0

    df = base.select(
        "location_id",
        "ts",
        temp.alias("temperature_2m"),
        F.least(F.greatest(rh, F.lit(0.0)), F.lit(100.0)).alias("relative_humidity_2m"),
        (temp - 2.5).alias("dew_point_2m"),
        (temp - 1.0 + _noise(F.struct("id", F.lit("ap")), -0.5, 0.5)).alias(
            "apparent_temperature"
        ),
        precip.alias("precipitation"),
        F.when(~snow_gate, precip).otherwise(0.0).alias("rain"),
        F.when(snow_gate, precip * 0.7).otherwise(0.0).alias("snowfall"),
        F.when(snow_gate, precip * 2).otherwise(0.0).alias("snow_depth"),
        F.when(precip > 2.0, 63)
        .when(precip > 0, 61)
        .when(rh > 85, 3)
        .otherwise(F.when(hod % 5 == 0, 1).otherwise(0))
        .cast("int")
        .alias("weather_code"),
        (F.lit(1013.0) + _noise(F.struct("id", F.lit("pm")), -12, 12)).alias(
            "pressure_msl"
        ),
        F.least(
            F.greatest(rh - 20 + _noise(F.struct("id", F.lit("cc")), -20, 20), F.lit(0.0)),
            F.lit(100.0),
        ).alias("cloud_cover"),
        solar.alias("shortwave_radiation"),
        (solar * 0.7).alias("direct_radiation"),
        (solar * 0.3).alias("diffuse_radiation"),
        # NULL patch: uv_index missing for a deterministic slice
        F.when(F.col("hour_idx") % 97 == 0, F.lit(None).cast("double"))
        .otherwise(F.greatest(diurnal, F.lit(0.0)) * 8.0)
        .alias("uv_index"),
    )
    return df


def weather_15min(
    spark: SparkSession,
    n_locations: int = FIXTURE_LOCATIONS,
    n_days: int = FIXTURE_DAYS,
    start: str = FIXTURE_START,
) -> DataFrame:
    """TRUE 15-minute-resolution series — the reference's
    ``minutely_15`` block is real quarter-hour model output
    (server.py:213-217), not an hourly forward-fill, so this fixture
    samples the diurnal/noise process at quarter-hour phase: values
    CHANGE within the hour.  Same variable set and recipe as
    ``weather_hourly`` (which stays byte-identical for the queries
    hashed against it)."""
    n_steps = n_days * 96
    base = (
        spark.range(n_locations * n_steps)
        .withColumn("location_id", F.col("id") % n_locations)
        .withColumn("step_idx", (F.col("id") / n_locations).cast("long"))
        .withColumn(
            "ts",
            F.lit(start).cast("timestamp")
            + F.make_interval(mins=F.col("step_idx") * 15),
        )
    )
    hod = (F.col("step_idx") % 96) / 4.0  # fractional hour of day
    diurnal = F.sin((hod - 6) * (3.14159265 / 12.0))
    temp = (
        F.lit(2.0)
        + F.col("location_id") * 1.5
        + diurnal * 6.0
        + _noise(F.struct("id", F.lit("t")), -1.5, 1.5)
    )
    rh = F.lit(70.0) - diurnal * 15.0 + _noise(F.struct("id", F.lit("rh")), -8, 8)
    rain_gate = _noise(F.struct("id", F.lit("pg")), 0, 1) > 0.8
    precip = F.when(rain_gate, _noise(F.struct("id", F.lit("pa")), 0.1, 4.0)).otherwise(0.0)
    snow_gate = temp < 0
    solar = F.greatest(diurnal, F.lit(0.0)) * 500.0

    return base.select(
        "location_id",
        "ts",
        temp.alias("temperature_2m"),
        F.least(F.greatest(rh, F.lit(0.0)), F.lit(100.0)).alias("relative_humidity_2m"),
        (temp - 2.5).alias("dew_point_2m"),
        (temp - 1.0 + _noise(F.struct("id", F.lit("ap")), -0.5, 0.5)).alias(
            "apparent_temperature"
        ),
        precip.alias("precipitation"),
        F.when(~snow_gate, precip).otherwise(0.0).alias("rain"),
        F.when(snow_gate, precip * 0.7).otherwise(0.0).alias("snowfall"),
        F.when(snow_gate, precip * 2).otherwise(0.0).alias("snow_depth"),
        F.when(precip > 2.0, 63)
        .when(precip > 0, 61)
        .when(rh > 85, 3)
        .otherwise(F.when(F.floor(hod) % 5 == 0, 1).otherwise(0))
        .cast("int")
        .alias("weather_code"),
        (F.lit(1013.0) + _noise(F.struct("id", F.lit("pm")), -12, 12)).alias(
            "pressure_msl"
        ),
        F.least(
            F.greatest(rh - 20 + _noise(F.struct("id", F.lit("cc")), -20, 20), F.lit(0.0)),
            F.lit(100.0),
        ).alias("cloud_cover"),
        solar.alias("shortwave_radiation"),
        (solar * 0.7).alias("direct_radiation"),
        (solar * 0.3).alias("diffuse_radiation"),
        F.when(F.col("step_idx") % 97 == 0, F.lit(None).cast("double"))
        .otherwise(F.greatest(diurnal, F.lit(0.0)) * 8.0)
        .alias("uv_index"),
    )


def weather_revisions(
    spark: SparkSession,
    n_locations: int = FIXTURE_LOCATIONS,
    n_days: int = FIXTURE_DAYS,
    start: str = FIXTURE_START,
) -> DataFrame:
    """A revised re-fetch of the last 2 days of the generated range
    (forecast models re-ran — reference server.py:304): same
    (location, ts) keys, shifted values, later ``fetched_at``."""
    wh = weather_hourly(spark, n_locations, n_days, start)
    end_ts = F.lit(start).cast("timestamp") + F.make_interval(days=F.lit(n_days))
    return (
        wh.filter(F.col("ts") >= end_ts - F.make_interval(days=F.lit(2)))
        .withColumn("temperature_2m", F.col("temperature_2m") + 0.8)
        .withColumn("fetched_at", end_ts)
    )
