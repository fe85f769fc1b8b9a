"""Driver-facing query registry: SURVEY.md §2 operator ids → queries.

Each entry binds an operator from the library to the synthetic test
tables (TESTDATA.md) and pairs it with ANSI SQL the DuckDB oracle runs
on the same parquet — the differential-correctness gate.  Conventions:

- every computed/aggregate column is aliased identically on both sides
  (the driver's compare sorts columns by name before hashing);
- per-row float arithmetic is NOT rounded — identical IEEE ops on
  identical doubles are bit-identical across engines;
- sums/averages over 2-decimal measures go through exact integer
  cents (``round(x*100)::BIGINT``): integer sums are
  order-independent, so partial-aggregation order cannot flip the
  value hash, and ``round(x, 2)`` (whose tie-handling differs between
  Spark's BigDecimal and DuckDB's float path) is never applied to a
  quantized value sitting on a ``.xx5`` boundary;
- oracle aggregates are cast explicitly (DuckDB ``sum(int)`` is
  HUGEINT, ``row_number``/``len``/``year`` are BIGINT — Spark emits
  int64/int32 respectively);
- all time literals are pinned (no ``current_timestamp``) so both
  engines see the same predicate.  Events span 2024-01-01..2024-01-30
  at every scale factor; "now" is pinned mid-range.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io import load_table
from .operators import (
    asof_join,
    categorical_mode,
    daily_summary,
    filter_coord_range,
    filter_date_range,
    filter_horizon_relative,
    geocode_lookup,
    lag_delta,
    moving_avg,
    range_interval_join,
    rank_per_group,
    select_vars,
    time_bucket,
    topk,
    union_prefer,
)
from .operators.relational import MAX_FORECAST_DAYS

#: pinned "wall clock" for relative-horizon queries (events are
#: 2024-01-01..2024-01-30 at every sf).
NOW = "2024-01-15 00:00:00"

QueryFn = Callable[[SparkSession, str], DataFrame]


def _cents(col: F.Column | str, scale: int = 100) -> F.Column:
    """Exact integer minor-units of a decimal-quantized double measure.

    ``sum(bigint)`` is associative — partial/final aggregation order
    cannot change it — so every cross-engine-compared money aggregate
    goes through this instead of float ``round``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale, 0).cast("long")

def _session_tag(spark: SparkSession, sf_dir: str) -> str:
    """Scratch-location tag unique per (session, SF): two concurrent
    sessions at the same SF (driver + bench, parallel pytest workers)
    must not race each other's overwrite-then-read on a shared path."""
    import os

    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app = spark.sparkContext.applicationId.replace("-", "_")
    return f"{sf}_{app}"


def _clean_stale_scratch(pattern: str, max_age_s: int = 3600) -> None:
    """Remove scratch dirs from DEAD sessions: session-unique paths
    never self-overwrite, so without this they accumulate one data
    copy per session.  Age-gated (default 1 h) so a concurrently
    RUNNING session's scratch is never yanked out from under it."""
    import glob
    import os
    import shutil
    import time

    cutoff = time.time() - max_age_s
    for path in glob.glob(pattern):
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass  # raced another session's cleanup — fine


_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and optionally its oracle SQL).

    Duplicate ids RAISE: a silent overwrite let round 5's
    ``ext_sample_negatives`` shadow round 3's driver-green entry of the
    same name and inherit a green row it never earned (VERDICT r5 #1).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(
                f"duplicate registry id {name!r}: already registered as "
                f"{_QUERIES[name].__module__}.{_QUERIES[name].__qualname__}"
            )

        # Start every registry query from an empty block-manager cache.
        # Library operators persist() intermediates their returned lazy
        # plans depend on, so callers can't unpersist them; across a
        # ~50-query driver round those caches would accumulate, and a
        # cached fragment from one query can be silently substituted
        # into a LATER query's matching plan, flipping its size stats
        # and broadcast decisions (ADVICE r5; CLAUDE.md cache rule).
        # bench.py already clears before every timing sample, so this
        # changes nothing there.
        @functools.wraps(fn)
        def wrapped(spark, sf_dir):
            spark.catalog.clearCache()
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        if oracle is not None:
            _ORACLE[name] = oracle
        return wrapped

    return deco


# =====================================================================
# A. Scans / sources / sinks
# =====================================================================


@register("src_parquet_scan", "SELECT * FROM part")
def q_src_parquet_scan(spark, sf_dir):
    """Plain table scan (driver substrate; the reference's 'scan' is an
    HTTP GET, server.py:57-93)."""
    return load_table(spark, sf_dir, "part")


@register(
    "fmt_json_decode",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def q_fmt_json_decode(spark, sf_dir):
    """JSON body decode (reference server.py:74: resp.json()) as
    ``from_json`` with an explicit schema."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k INT")
    return ev.select("event_id", parsed["k"].alias("k"))


@register(
    "obs_call_counters",
    "SELECT source, CAST(count(*) AS BIGINT) AS n_calls FROM documents GROUP BY source",
)
def q_obs_call_counters(spark, sf_dir):
    """Per-source usage counters (reference server.py:37, 66, 100:
    API_CALLS[k] += 1) as a counting aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_calls"))


# =====================================================================
# B. Projections / filters
# =====================================================================


@register("proj_select_vars", "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem")
def q_proj_select_vars(spark, sf_dir):
    """Caller-selected variable subset (reference server.py:215: the
    comma-separated `variables` param becomes the column set)."""
    li = load_table(spark, sf_dir, "lineitem")
    return select_vars(li, "l_orderkey,l_quantity,l_extendedprice", defaults=[])


@register("proj_default_vars", "SELECT event_id, ts, event_type, value FROM events")
def q_proj_default_vars(spark, sf_dir):
    """Default projection when the caller passes none
    (reference server.py:215: ``variables or ','.join(defaults)``)."""
    ev = load_table(spark, sf_dir, "events")
    return select_vars(ev, None, defaults=["event_id", "ts", "event_type", "value"])


@register(
    "filter_coord_range",
    """
    SELECT c_custkey, c_acctbal / 60.0 AS latitude,
           (c_custkey % 500) - 200 AS longitude
    FROM customer
    WHERE c_acctbal / 60.0 BETWEEN -90 AND 90
      AND (c_custkey % 500) - 200 BETWEEN -180 AND 180
    """,
)
def q_filter_coord_range(spark, sf_dir):
    """Coordinate bounds check (reference server.py:46-51, 199-203) over
    synthetic lat/lon derived from customer columns."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") / 60.0).alias("latitude"),
        ((F.col("c_custkey") % 500) - 200).alias("longitude"),
    )
    return filter_coord_range(cust)


@register(
    "filter_date_range",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def q_filter_date_range(spark, sf_dir):
    """Absolute date range, inclusive of both end dates
    (reference server.py:336-345, 354-358)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    return filter_date_range(orders, "o_orderdate", "1996-01-01", "1996-12-31")


@register(
    "filter_horizon_relative",
    f"""
    SELECT event_id, ts, value FROM events
    WHERE ts >= TIMESTAMP '{NOW}' - INTERVAL 3 DAY
      AND ts < TIMESTAMP '{NOW}' + INTERVAL {MAX_FORECAST_DAYS} DAY
    """,
)
def q_filter_horizon_relative(spark, sf_dir):
    """past_days back / forecast_days forward of a pinned 'now', with
    the 16-day clamp applied (reference server.py:235-249)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    return filter_horizon_relative(ev, "ts", NOW, past_days=3, forecast_days=30)


@register(
    "limit_horizon_clamp",
    f"""
    SELECT event_id, ts FROM events
    WHERE ts >= TIMESTAMP '{NOW}'
      AND ts < TIMESTAMP '{NOW}' + INTERVAL {MAX_FORECAST_DAYS} DAY
    """,
)
def q_limit_horizon_clamp(spark, sf_dir):
    """The 16-day cap in isolation: forecast_days=25 → 16
    (reference server.py:239: min(forecast_days, 16))."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    return filter_horizon_relative(ev, "ts", NOW, past_days=0, forecast_days=25)


@register(
    "filter_null_guard",
    """
    SELECT event_id, value FROM (
        SELECT event_id,
               CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value
        FROM events
    ) WHERE value IS NOT NULL
    """,
)
def q_filter_null_guard(spark, sf_dir):
    """Required-field guard (reference server.py:196-197, 329-330) via
    na.drop over a column with injected nulls."""
    from .operators.relational import filter_null_guard as guard

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.when(F.col("event_id") % 97 == 0, F.lit(None))
            .otherwise(F.col("value"))
            .alias("value"),
        )
    )
    return guard(ev, ["value"])


@register(
    "filter_theta",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
    WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      AND l_returnflag LIKE 'A%'
    """,
)
def q_filter_theta(spark, sf_dir):
    """Non-equality predicates (TPC-H Q6 flavor): range + LIKE."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
        & F.col("l_returnflag").like("A%")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# =====================================================================
# C. Joins
# =====================================================================


def _geo_dim(spark, sf_dir):
    """Synthetic geocode dimension from nation: place → lat/lon/tz.

    Stands in for the Nominatim lookup table (reference server.py:96-119);
    25 rows ⇒ always broadcast."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("place"),
        (F.col("n_nationkey") * 6.0 - 75.0).alias("latitude"),
        (F.col("n_nationkey") * 13.0 - 160.0).alias("longitude"),
    )


@register(
    "join_geocode_lookup",
    """
    SELECT c_custkey, n_name AS place,
           n_nationkey * 6.0 - 75.0 AS latitude,
           n_nationkey * 13.0 - 160.0 AS longitude
    FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    """,
)
def q_join_geocode_lookup(spark, sf_dir):
    """Broadcast dim lookup replacing the per-row remote geocode
    (reference server.py:96-119, rate-limited at server.py:108)."""
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_nationkey", "nationkey"
    )
    geo = _geo_dim(spark, sf_dir)
    return geocode_lookup(cust, geo, on="nationkey", how="left").select(
        "c_custkey", "place", "latitude", "longitude"
    )


@register(
    "join_geocode_fuzzy",
    """
    WITH geo AS (
      SELECT n_name AS place,
             n_nationkey * 6.0 - 75.0 AS latitude,
             n_nationkey * 13.0 - 160.0 AS longitude
      FROM nation
    ),
    req AS (
      SELECT unnest([
        '  ' || n_name || '!!',
        lower(n_name),
        replace(n_name, ' ', '  ') || ' ',
        'zz-unknown-place'
      ]) AS query
      FROM nation
    ),
    n_req AS (
      SELECT query,
             trim(regexp_replace(regexp_replace(lower(query),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS k
      FROM req
    ),
    n_geo AS (
      SELECT place, latitude, longitude,
             trim(regexp_replace(regexp_replace(lower(place),
                  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS k
      FROM geo
    )
    SELECT query, place, latitude, longitude
    FROM n_req LEFT JOIN n_geo USING (k)
    """,
)
def q_join_geocode_fuzzy(spark, sf_dir):
    """Free-text geocode resolution: case / punctuation / spacing
    variants of every place name resolve through the normalized-key
    broadcast join (the reference's Nominatim tolerance,
    server.py:96-119); an unknown query surfaces NULL coordinates,
    the reference's miss-as-value."""
    from .operators.joins import geocode_lookup_fuzzy

    nation = load_table(spark, sf_dir, "nation")
    geo = _geo_dim(spark, sf_dir).drop("nationkey")
    variants = F.array(
        F.concat(F.lit("  "), F.col("n_name"), F.lit("!!")),
        F.lower(F.col("n_name")),
        F.concat(F.regexp_replace(F.col("n_name"), " ", "  "), F.lit(" ")),
        F.lit("zz-unknown-place"),
    )
    req = nation.select(F.explode(variants).alias("query"))
    return geocode_lookup_fuzzy(
        req, geo, query_col="query", dim_col="place", how="left"
    ).select("query", "place", "latitude", "longitude")


@register(
    "join_equi_inner",
    """
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_equi_inner(spark, sf_dir):
    """Star-schema join + aggregate (TPC-H Q5 shape)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(_cents("o_totalprice")) / 100.0).alias("revenue"),
        )
    )


@register(
    "join_equi_left",
    """
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
)
def q_join_equi_left(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "join_equi_right",
    """
    SELECT c_custkey, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_equi_right(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "right").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_equi_full",
    """
    SELECT c.c_custkey, o.o_custkey, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
    FULL JOIN (SELECT * FROM orders WHERE o_custkey % 3 = 0) o
      ON c.c_custkey = o.o_custkey
    """,
)
def q_join_equi_full(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 3 == 0)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "full").select(
        "c_custkey", "o_custkey", "o_orderkey"
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    )
    """,
)
def q_join_semi(spark, sf_dir):
    """EXISTS as left-semi join — probe side never duplicated."""
    cust = load_table(spark, sf_dir, "customer")
    orders = filter_date_range(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1995-01-01", "1995-12-31"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1996-01-01'
    )
    """,
)
def q_join_anti(spark, sf_dir):
    """NOT EXISTS as left-anti join.  The subquery is date-restricted
    (customers with no 1995 order — the complement of ``join_semi``):
    every fixture customer has SOME order, so an unrestricted anti-join
    is vacuously empty and would green-match the oracle without
    exercising the operator at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = filter_date_range(
        load_table(spark, sf_dir, "orders"), "o_orderdate", "1995-01-01", "1995-12-31"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_range_interval",
    """
    SELECT e.event_id, r.r_name, e.ts
    FROM events e JOIN region r
      ON e.ts >= TIMESTAMP '2024-01-01' + INTERVAL (r.r_regionkey * 5) DAY
     AND e.ts <  TIMESTAMP '2024-01-01' + INTERVAL (r.r_regionkey * 5 + 7) DAY
    """,
)
def q_join_range_interval(spark, sf_dir):
    """θ-join on overlapping time intervals (reference analog: the
    relative-horizon window, server.py:235-249, as a join predicate)."""
    ev = load_table(spark, sf_dir, "events")
    region = load_table(spark, sf_dir, "region").select(
        "r_name",
        F.expr("timestampadd(DAY, r_regionkey * 5, timestamp'2024-01-01')").alias("lo"),
        F.expr("timestampadd(DAY, r_regionkey * 5 + 7, timestamp'2024-01-01')").alias("hi"),
    )
    return range_interval_join(
        ev, F.broadcast(region), F.col("ts"), F.col("lo"), F.col("hi")
    ).select("event_id", "r_name", "ts")


@register(
    "join_asof_nearest",
    """
    WITH r AS (
      SELECT o_custkey AS user_id,
             TIMESTAMP '2024-01-01' + INTERVAL (dayofyear(o_orderdate) % 30) DAY AS rdate,
             CAST(max(o_orderkey) AS BIGINT) AS asof_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id, r.asof_orderkey
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.user_id AND e.ts >= r.rdate
    """,
)
def q_join_asof_nearest(spark, sf_dir):
    """Backward as-of join, DuckDB ASOF JOIN as oracle (SURVEY.md §2.C
    join_asof_nearest; grid-snapping analog, WetIng.pdf p.1-2)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    orders = load_table(spark, sf_dir, "orders")
    right = (
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.expr(
                "timestampadd(DAY, dayofyear(o_orderdate) % 30, timestamp'2024-01-01')"
            ).alias("rdate"),
            "o_orderkey",
        )
        .groupBy("user_id", "rdate")
        .agg(F.max("o_orderkey").alias("asof_orderkey"))
    )
    return asof_join(
        ev, right, on=["user_id"], left_ts="ts", right_ts="rdate",
        payload_cols=["asof_orderkey"],
    )


@register(
    "join_cross_scored",
    """
    SELECT a.r_name AS name_a, b.n_name AS name_b,
           CASE WHEN a.r_regionkey = b.n_regionkey THEN 1.0 ELSE 0.0 END AS score
    FROM region a CROSS JOIN nation b
    """,
)
def q_join_cross_scored(spark, sf_dir):
    """All-pairs scoring (the shape LSH prunes at scale — §2.C)."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    return region.crossJoin(F.broadcast(nation)).select(
        F.col("r_name").alias("name_a"),
        F.col("n_name").alias("name_b"),
        F.when(F.col("r_regionkey") == F.col("n_regionkey"), 1.0)
        .otherwise(0.0)
        .alias("score"),
    )


# =====================================================================
# D. Aggregations (daily families over events.value — the engine-native
# restatement of DEFAULT_DAILY_VARS, reference server.py:131-136)
# =====================================================================

_DAY_ORACLE = "CAST(date_trunc('day', ts) AS TIMESTAMP)"


@register(
    "agg_daily_max",
    f"""
    SELECT {_DAY_ORACLE} AS day, event_type,
           CAST(max(value) AS DOUBLE) AS value_max
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_daily_max(spark, sf_dir):
    """Daily max family (temperature_2m_max etc., server.py:132)."""
    ev = load_table(spark, sf_dir, "events")
    return daily_summary(
        ev, "ts", ["event_type"], {"value_max": ("value", "max")}
    ).select("day", "event_type", "value_max")


@register(
    "agg_daily_min",
    f"""
    SELECT {_DAY_ORACLE} AS day, event_type,
           CAST(min(value) AS DOUBLE) AS value_min
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_daily_min(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return daily_summary(
        ev, "ts", ["event_type"], {"value_min": ("value", "min")}
    ).select("day", "event_type", "value_min")


@register(
    "agg_daily_sum",
    f"""
    SELECT {_DAY_ORACLE} AS day, event_type,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY 1, 2
    """,
)
def q_agg_daily_sum(spark, sf_dir):
    """Daily sum family (precipitation_sum etc., server.py:133-134)."""
    ev = load_table(spark, sf_dir, "events")
    out = daily_summary(ev, "ts", ["event_type"], {"value_sum": ("value", "sum")})
    return out.select("day", "event_type", F.round("value_sum", 2).alias("value_sum"))


@register(
    "agg_cond_hours",
    f"""
    SELECT {_DAY_ORACLE} AS day,
           CAST(count(DISTINCT date_trunc('hour', ts))
                FILTER (WHERE value > 150) AS DOUBLE) AS active_hours
    FROM events GROUP BY 1
    """,
)
def q_agg_cond_hours(spark, sf_dir):
    """precipitation_hours analog (server.py:134): number of distinct
    hours in the day where the measure exceeds a threshold."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day")["start"].alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("value") > 150, F.date_trunc("hour", F.col("ts")))
            )
            .cast("double")
            .alias("active_hours")
        )
    )


@register(
    "agg_daily_mode",
    f"""
    WITH counted AS (
      SELECT {_DAY_ORACLE} AS day, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT day, event_type,
             row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type ASC) AS rn
      FROM counted
    )
    SELECT day, event_type AS mode_event_type FROM ranked WHERE rn = 1
    """,
)
def q_agg_daily_mode(spark, sf_dir):
    """Daily categorical mode with deterministic tie-break (daily
    weather_code, server.py:132; tie rule per SURVEY.md §7)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.window("ts", "1 day")["start"]
    )
    return categorical_mode(ev, ["day"], "event_type", alias="mode_event_type")


@register(
    "agg_count_calls",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type",
)
def q_agg_count_calls(spark, sf_dir):
    """Usage counting per key (reference server.py:37: API_CALLS)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_avg",
    """
    SELECT c_mktsegment,
           sum(CAST(round(c_acctbal * 100) AS BIGINT)) / count(*) / 100.0 AS avg_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_agg_avg(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        (F.sum(_cents("c_acctbal")) / F.count(F.lit(1)) / 100.0).alias("avg_acctbal")
    )


@register(
    "agg_multi",
    """
    SELECT l_returnflag, l_linestatus,
           sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS sum_disc_price,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) / 100.0 AS sum_charge,
           sum(CAST(round(l_quantity * 100) AS BIGINT)) / count(*) / 100.0 AS avg_qty,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / count(*) / 100.0 AS avg_price,
           sum(CAST(round(l_discount * 10000) AS BIGINT)) / count(*) / 10000.0 AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_multi(spark, sf_dir):
    """TPC-H Q1 pricing summary: 8 aggregates in one hash-agg pass
    (partial+final automatic — the map-side combine that matters at
    100 TB)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(_cents("l_quantity")) / 100.0).alias("sum_qty"),
            (F.sum(_cents("l_extendedprice")) / 100.0).alias("sum_base_price"),
            (F.sum(_cents(disc_price)) / 100.0).alias("sum_disc_price"),
            (F.sum(_cents(disc_price * (1 + F.col("l_tax")))) / 100.0).alias("sum_charge"),
            (F.sum(_cents("l_quantity")) / n / 100.0).alias("avg_qty"),
            (F.sum(_cents("l_extendedprice")) / n / 100.0).alias("avg_price"),
            (F.sum(_cents("l_discount", 10000)) / n / 10000.0).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    """
    SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_agg_distinct(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )


@register("agg_approx_distinct")  # no oracle: approximate by design
def q_agg_approx_distinct(spark, sf_dir):
    """HLL++ distinct estimate — the 100 TB substitute for exact
    countDistinct (rows-only check; approximate by construction)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@register(
    "agg_rollup",
    """
    SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_cust,
           sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS acctbal_sum
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_agg_rollup(spark, sf_dir):
    """Region→nation rollup (multi-granularity summary)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        (F.sum(_cents("c_acctbal")) / 100.0).alias("acctbal_sum"),
    )


@register(
    "agg_cube",
    """
    SELECT event_type, user_id % 10 AS cohort, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events
    GROUP BY CUBE (event_type, user_id % 10)
    """,
)
def q_agg_cube(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", F.col("user_id") % 10
    )
    return ev.cube("event_type", "cohort").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(_cents("value")) / 100.0).alias("value_sum"),
    )


@register(
    "agg_grouping_sets",
    """
    SELECT event_type, user_id % 10 AS cohort, CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
    """,
)
def q_agg_grouping_sets(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", F.col("user_id") % 10
    )
    ev.createOrReplaceTempView("wds_events_gs")
    return spark.sql(
        """
        SELECT event_type, cohort, count(*) AS n
        FROM wds_events_gs
        GROUP BY GROUPING SETS ((event_type), (cohort), ())
        """
    )


# =====================================================================
# E. Time bucketing & window functions
# =====================================================================


@register(
    "bucket_15min",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_bucket_15min(spark, sf_dir):
    """granularity=15 (reference server.py:213-217; forecast-only per
    server.py:224-225 — the guard lives in api.get_history)."""
    ev = time_bucket(load_table(spark, sf_dir, "events"), "ts", "15 minutes")
    return ev.groupBy("bucket_start").agg(
        F.count(F.lit(1)).alias("n"), (F.sum(_cents("value")) / 100.0).alias("value_sum")
    )


@register(
    "bucket_hourly",
    """
    SELECT date_trunc('hour', ts) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_bucket_hourly(spark, sf_dir):
    """granularity=60, the default (reference server.py:218)."""
    ev = time_bucket(load_table(spark, sf_dir, "events"), "ts", "1 hour")
    return ev.groupBy("bucket_start").agg(
        F.count(F.lit(1)).alias("n"), (F.sum(_cents("value")) / 100.0).alias("value_sum")
    )


@register(
    "bucket_daily",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_bucket_daily(spark, sf_dir):
    """granularity>=1440 → daily block (reference server.py:219-223)."""
    ev = time_bucket(load_table(spark, sf_dir, "events"), "ts", "1 day")
    return ev.groupBy("bucket_start").agg(
        F.count(F.lit(1)).alias("n"), (F.sum(_cents("value")) / 100.0).alias("value_sum")
    )


@register(
    "win_rank",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q_win_rank(spark, sf_dir):
    """Top-N per group via ranking window (hottest-day-per-location
    shape, SURVEY.md §2.E)."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = rank_per_group(
        orders,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
    )
    return ranked.filter(F.col("rn") <= 3).select(
        "o_orderpriority", "o_orderkey", "o_totalprice", "rn"
    )


@register(
    "win_row_number",
    """
    SELECT user_id, event_id, rn FROM (
      SELECT user_id, event_id,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn
      FROM events
    ) WHERE rn <= 5
    """,
)
def q_win_row_number(spark, sf_dir):
    """First-N events per user (total order: ts then unique id)."""
    ev = load_table(spark, sf_dir, "events")
    ranked = rank_per_group(ev, ["user_id"], [F.col("ts"), F.col("event_id")])
    return ranked.filter(F.col("rn") <= 5).select("user_id", "event_id", "rn")


@register(
    "win_lag_delta",
    """
    SELECT event_id, user_id, value,
           value - lag(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q_win_lag_delta(spark, sf_dir):
    """Hour-over-hour delta feature (README.md:18 'usable in ML
    pipelines' — lag features are the canonical example)."""
    ev = load_table(spark, sf_dir, "events")
    out = lag_delta(ev, ["user_id"], [F.col("ts"), F.col("event_id")], "value")
    return out.select("event_id", "user_id", "value", "delta")


@register(
    "win_moving_avg",
    """
    SELECT event_id, user_id,
           avg(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) / 100.0 AS moving_avg
    FROM events
    """,
)
def q_win_moving_avg(spark, sf_dir):
    """Trailing 4-row moving average per user (computed over exact
    integer cents: the 4-row integer avg is an exact multiple of 0.25
    cents, so both engines produce the identical double)."""
    ev = load_table(spark, sf_dir, "events").withColumn("value", _cents("value"))
    out = moving_avg(ev, ["user_id"], [F.col("ts"), F.col("event_id")], "value", 3)
    return out.select(
        "event_id", "user_id", (F.col("moving_avg") / 100.0).alias("moving_avg")
    )


# =====================================================================
# F. Sorts / limits / top-k
# =====================================================================


@register("sort_time_asc", "SELECT event_id, ts FROM events ORDER BY ts, event_id")
def q_sort_time_asc(spark, sf_dir):
    """Time-ordered output series (reference server.py:74, 258: the API
    returns time-sorted arrays, passed through verbatim)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    return ev.orderBy("ts", "event_id")


@register(
    "sort_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_sort_topk(spark, sf_dir):
    """Global top-k → TakeOrderedAndProject (no full sort at scale)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return topk(orders, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10)


# =====================================================================
# G. Set operations
# =====================================================================


@register(
    "set_union_history_forecast",
    f"""
    WITH hist AS (
      SELECT event_id, ts, value, 'hist' AS src FROM events
      WHERE ts < TIMESTAMP '2024-01-20'
    ), fcst AS (
      SELECT event_id, ts, value + 1000 AS value, 'fcst' AS src FROM events
      WHERE ts >= TIMESTAMP '2024-01-10'
    ), u AS (
      SELECT *, 0 AS prio FROM hist
      UNION ALL
      SELECT *, 1 AS prio FROM fcst
    ), r AS (
      SELECT event_id, ts, value, src,
             row_number() OVER (PARTITION BY event_id ORDER BY prio) AS rn
      FROM u
    )
    SELECT event_id, ts, value, src FROM r WHERE rn = 1
    """,
)
def q_set_union_history_forecast(spark, sf_dir):
    """One logical series spanning past+future, observation preferred
    over forecast where both exist (reference server.py:158-159,
    236-249, 304)."""
    ev = load_table(spark, sf_dir, "events")
    hist = ev.filter(F.col("ts") < F.lit("2024-01-20").cast("timestamp")).select(
        "event_id", "ts", "value", F.lit("hist").alias("src")
    )
    fcst = ev.filter(F.col("ts") >= F.lit("2024-01-10").cast("timestamp")).select(
        "event_id", "ts", (F.col("value") + 1000).alias("value"),
        F.lit("fcst").alias("src"),
    )
    return union_prefer(hist, fcst, keys=["event_id"])


@register(
    "set_intersect",
    """
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def q_set_intersect(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    y95 = filter_date_range(orders, "o_orderdate", "1995-01-01", "1995-12-31")
    y96 = filter_date_range(orders, "o_orderdate", "1996-01-01", "1996-12-31")
    return y95.select("o_custkey").intersect(y96.select("o_custkey"))


@register(
    "set_except",
    """
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def q_set_except(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    y95 = filter_date_range(orders, "o_orderdate", "1995-01-01", "1995-12-31")
    y96 = filter_date_range(orders, "o_orderdate", "1996-01-01", "1996-12-31")
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep
    # multiplicity and is a different operator
    return y95.select("o_custkey").subtract(y96.select("o_custkey"))


# =====================================================================
# H. Scalar functions
# =====================================================================


@register(
    "f_split_csv",
    """
    SELECT DISTINCT o_orderpriority,
           string_split(o_orderpriority, '-')[1] AS prio_num,
           string_split(o_orderpriority, '-')[2] AS prio_word
    FROM orders
    """,
)
def q_f_split_csv(spark, sf_dir):
    """Comma/delimiter-separated list handling (reference
    server.py:150-151: variables arrive as CSV strings)."""
    orders = load_table(spark, sf_dir, "orders")
    parts = F.split(F.col("o_orderpriority"), "-")
    return orders.select(
        "o_orderpriority",
        F.element_at(parts, 1).alias("prio_num"),
        F.element_at(parts, 2).alias("prio_word"),
    ).distinct()


@register(
    "f_join_csv",
    """
    SELECT DISTINCT concat_ws(',', l_returnflag, l_linestatus) AS flag_status
    FROM lineitem
    """,
)
def q_f_join_csv(spark, sf_dir):
    """list → CSV string (reference server.py:215: ','.join(vars))."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat_ws(",", "l_returnflag", "l_linestatus").alias("flag_status")
    ).distinct()


@register(
    "f_coalesce_default",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'DEFAULT_SEG') AS seg
    FROM customer
    """,
)
def q_f_coalesce_default(spark, sf_dir):
    """null-coalescing defaults (reference server.py:215: `x or default`)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("DEFAULT_SEG")
        ).alias("seg"),
    )


@register(
    "f_to_date_iso",
    """
    SELECT o_orderkey, CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS od
    FROM orders
    """,
)
def q_f_to_date_iso(spark, sf_dir):
    """ISO date parse (reference server.py:341-342:
    date.fromisoformat)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.to_date(F.date_format("o_orderdate", "yyyy-MM-dd"), "yyyy-MM-dd").alias("od"),
    )


@register(
    "f_date_format_iso",
    "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od_str FROM orders",
)
def q_f_date_format_iso(spark, sf_dir):
    """date → ISO string (reference server.py:356: sd.isoformat())."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("od_str")
    )


@register(
    "f_date_cmp",
    """
    SELECT o_orderkey,
           o_orderdate <= TIMESTAMP '1998-01-01' AS before_cutoff
    FROM orders
    """,
)
def q_f_date_cmp(spark, sf_dir):
    """date ordering predicate (reference server.py:343: sd <= ed)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        (F.col("o_orderdate") <= F.lit("1998-01-01").cast("timestamp")).alias(
            "before_cutoff"
        ),
    )


@register(
    "f_least_clamp",
    """
    SELECT p_partkey, least(p_size, 25) AS size_clamped,
           greatest(p_size, 5) AS size_floored
    FROM part
    """,
)
def q_f_least_clamp(spark, sf_dir):
    """Numeric clamp (reference server.py:239: min(forecast_days, 16))."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.least("p_size", F.lit(25)).alias("size_clamped"),
        F.greatest("p_size", F.lit(5)).alias("size_floored"),
    )


@register(
    "f_tz_auto",
    """
    SELECT event_id,
           ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Prague' AS local_ts
    FROM events
    """,
)
def q_f_tz_auto(spark, sf_dir):
    """timezone=auto semantics (reference server.py:31, 209): UTC
    instants rendered in the location's local zone."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.from_utc_timestamp("ts", "Europe/Prague").alias("local_ts")
    )


@register(
    "f_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           value FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
    """,
)
def q_f_json_extract(spark, sf_dir):
    """JSON pointer extraction on events.props."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select("event_id", k.alias("k"), "value").filter(F.col("k") > 50)


@register(
    "f_math_expr",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           abs(l_extendedprice - l_quantity * 1000) AS price_gap
    FROM lineitem
    """,
)
def q_f_math_expr(spark, sf_dir):
    """Arithmetic expression surface (TPC-H revenue shape).  Per-row
    IEEE arithmetic on identical doubles is bit-identical across
    engines — no rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000).alias("price_gap"),
    )


@register(
    "f_string_ops",
    """
    SELECT p_partkey, lower(p_name) AS name_lower, upper(p_brand) AS brand_upper,
           substring(p_type, 1, 5) AS type_prefix,
           regexp_extract(p_brand, '(\\d+)', 1) AS brand_num,
           p_name LIKE '%blue%' AS is_blue
    FROM part
    """,
)
def q_f_string_ops(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.regexp_extract("p_brand", r"(\d+)", 1).alias("brand_num"),
        F.col("p_name").like("%blue%").alias("is_blue"),
    )


@register(
    "f_array_ops",
    """
    SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
           CAST(embedding[1] AS DOUBLE) AS e0,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2_norm
    FROM embeddings
    """,
)
def q_f_array_ops(spark, sf_dir):
    """Array ops over embeddings (element access, fold — the substrate
    for the vector math in ext_simsearch)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        # no rounding: float→double cast is bit-exact in both engines,
        # while round() on float-origin values hits decimal-repr tie
        # boundaries (float32 values print as short decimals)
        F.element_at("embedding", 1).cast("double").alias("e0"),
        F.round(F.sqrt(sq_sum), 3).alias("l2_norm"),
    )


# =====================================================================
# Flagship: the reference's signature workload — daily weather-style
# summary (granularity>=1440 path, server.py:219-233) over a filtered
# date range, with max/min/sum families + categorical mode.
# =====================================================================


@register(
    "wx_daily_summary",
    """
    WITH f AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-25'
    ), d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(max(value) AS DOUBLE) AS value_max,
             CAST(min(value) AS DOUBLE) AS value_min,
             sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
      FROM f GROUP BY 1
    ), c AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, count(*) AS n
      FROM f GROUP BY 1, 2
    ), m AS (
      SELECT day, event_type AS mode_event_type FROM (
        SELECT day, event_type,
               row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rn
        FROM c
      ) WHERE rn = 1
    )
    SELECT d.day, d.value_max, d.value_min, d.value_sum, m.mode_event_type
    FROM d JOIN m ON d.day = m.day
    """,
)
def q_wx_daily_summary(spark, sf_dir):
    """Flagship: date-range filter → tumbling daily max/min/sum + mode
    (the get_forecast daily path: server.py:142-280, 219-233).  Since
    round 11 the mode rides the SAME single scan as the measures
    (``daily_summary_with_mode`` two-level re-aggregation) instead of
    a second scan + join — identical results, one exchange fewer, and
    the level-2 shuffle moves one row per (day, event_type)."""
    from .operators.aggregates import daily_summary_with_mode

    ev = filter_date_range(
        load_table(spark, sf_dir, "events"), "ts", "2024-01-05", "2024-01-24"
    ).withColumn("value_cents", _cents("value"))
    daily = daily_summary_with_mode(
        ev,
        "ts",
        [],
        {
            "value_max": ("value", "max"),
            "value_min": ("value", "min"),
            "value_sum": ("value_cents", "sum"),
            "mode_event_type": ("event_type", "mode"),
        },
    ).withColumn("value_sum", F.col("value_sum") / 100.0)
    return daily.select(
        "day", "value_max", "value_min", "value_sum", "mode_event_type"
    )


def _load_extensions() -> None:
    """Import side-effect registration of the extension entries
    (kept in separate modules; same registry)."""
    from . import registry_ext  # noqa: F401
    from . import registry_r4  # noqa: F401
    from . import registry_r4b  # noqa: F401
    from . import registry_r5  # noqa: F401
    from . import registry_r6  # noqa: F401
    from . import registry_r7  # noqa: F401
    from . import registry_r8  # noqa: F401
    from . import registry_r9  # noqa: F401
    from . import registry_r10  # noqa: F401
    from . import registry_r11  # noqa: F401
    from . import registry_r12  # noqa: F401
    from . import registry_r13  # noqa: F401


#: SURVEY.md §2-mandated ids beyond the ``ext_*`` prefix — served ahead
#: of bonus entries when rotating not-yet-driver-verified queries to the
#: front of the registry (the driver's correctness pass covers a finite
#: prefix of ``queries()`` per round).
#: The ``ext_*`` LLM-pipeline ids graded line-by-line in round 1's
#: VERDICT.md table — served first among not-yet-driver-verified
#: entries.  Later bonus ``ext_*`` additions rank with the other bonus
#: entries so the mandated set never falls off the driver's window.
_EXT_MANDATED_IDS = frozenset(
    {
        "ext_dedup_exact",
        "ext_dedup_ngram",
        "ext_dedup_near",
        "ext_dedup_simhash",
        "ext_dedup_embedding",
        "ext_dedup_cluster",
        "ext_dedup_keep",
        "ext_simsearch_topk",
        "ext_simsearch_lsh",
        "ext_simsearch_ivf",
        "ext_embed_centroids",
        "ext_embed_normalize",
        "ext_text_analysis",
        "ext_text_tokens",
        "ext_text_quality",
        "ext_text_langid",
        "ext_text_fingerprint",
        "ext_text_bigrams",
        "ext_sample_hash",
        "ext_train_split",
        "ext_sample_stratified",
        "ext_multimodal_cols",
        "ext_multimodal_decode",
        "ext_multimodal_frames",
        "ext_multimodal_resize",
    }
)

_CORE_PRIORITY_IDS = frozenset(
    {
        "wx_daily_summary",
        "wx_forecast_hourly",
        "wx_history_daily",
        "wx_sunrise_sunset",
        "sink_status_envelope",
        "fmt_json_encode_props",
        "proj_rename_alias",
        "f_date_format_iso",
        "f_date_cmp",
        "f_least_clamp",
        "f_tz_auto",
        "f_json_extract",
        "f_math_expr",
        "f_string_ops",
        "f_array_ops",
        "stream_upsert_revision",
        "stream_window_tumbling",
        "stream_window_sliding",
        "stream_window_session",
    }
)


def _driver_verified_ids() -> frozenset[str]:
    """Ids already green in a prior round's ``CORRECTNESS_r*.json``.

    Green = hash-matched against the DuckDB oracle, or completed its
    rows-only check for by-design oracle-less (approximate / streaming /
    ML-backed) entries.  A rows-only pass does NOT count for an entry
    that has SINCE gained oracle SQL (e.g. ``wx_sunrise_sunset`` after
    the precomputed-dimension oracle landed): the stronger hash gate
    hasn't run yet, so the entry rotates back into the window.
    Missing/unreadable files → empty set, so a fresh checkout just
    serves registration order.
    """
    import glob
    import json
    import os

    repo_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo_dir, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True:
                done.add(name)
            elif (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and name not in _ORACLE
            ):
                done.add(name)
    return frozenset(done)


#: entries first registered in the CURRENT round — when the pending set
#: exceeds the driver's ~50-entry window, ids carried over from EARLIER
#: rounds must be served first (they have waited longer and the verdict
#: names them explicitly); same-round additions queue behind them and
#: roll into the next round's window.  ROUND-START CHECKLIST
#: (CLAUDE.md): empty this set (its members become carryovers) and
#: refill with the ids registered this round.
_THIS_ROUND_NEW_IDS: set = set()

#: ids whose IMPLEMENTATION changed after a round already recorded
#: them green — a green row certifies the code that earned it, not
#: later edits (the ext_sample_negatives collision lesson).  Members
#: are served ahead of untouched greens so the driver re-certifies
#: them; REMOVE an id once a later CORRECTNESS_r*.json shows it green
#: again (the set is consulted only for ids the verified-ids scan
#: already considers done, so a stale member costs one window slot,
#: never correctness).  Fill this next to the edit that invalidates
#: the green row, like `_register_new_this_round` at registration.
_CHANGED_SINCE_GREEN_IDS: set = set()


def _register_changed_since_green(*names: str) -> None:
    """Record green ids whose implementation was edited this round."""
    _CHANGED_SINCE_GREEN_IDS.update(names)


def _register_new_this_round(*names: str) -> None:
    """Record ids first registered this round for rotation priority."""
    _THIS_ROUND_NEW_IDS.update(names)


def _rotated(entries: dict) -> dict:
    """Serve not-yet-driver-verified entries first.

    The driver verifies a finite prefix of ``queries()`` each round, so
    ordering is coverage: (0) mandated ``ext_*`` LLM-pipeline operators,
    (1) remaining §2-core ids, (2) bonus entries carried over from
    prior rounds, (3) bonus entries first registered this round,
    (4) everything a prior round already verified (still locked by the
    identical local differential suite in tests/test_correctness.py).
    Stable within a class, so registration order remains the tiebreak.

    Round-7+ hygiene rule (VERDICT r5 #6): once the never-checked
    backlog is flushed, ids whose IMPLEMENTATION changed since their
    green driver row should be re-served ahead of untouched green ids —
    a green row certifies the code that earned it, not later edits (the
    ext_sample_negatives collision was exactly a stale green row).  Build
    that list from ``git log --stat <file-of-query> --since=<green
    round's commit>`` and demote only unchanged-since-green ids to the
    back.
    """
    done = _driver_verified_ids()

    def cls(name: str) -> int:
        if name in done:
            # greens edited since their certifying row re-serve FIRST
            # among done ids (r5 #6 hygiene rule, now a mechanism:
            # _register_changed_since_green next to the edit).
            if name in _CHANGED_SINCE_GREEN_IDS:
                return 3.5
            # VERDICT r7 #3: within already-verified entries, re-serve
            # oracle-paired greens ahead of permanently rows-only ids —
            # a rows-only re-check can never upgrade to a hash match,
            # so those slots are better spent re-confirming hash greens.
            return 4 if name in _ORACLE else 5
        if name in _EXT_MANDATED_IDS:
            return 0
        if name in _CORE_PRIORITY_IDS:
            return 1
        if name in _THIS_ROUND_NEW_IDS:
            return 3
        return 2

    return dict(sorted(entries.items(), key=lambda kv: cls(kv[0])))


def queries() -> dict[str, QueryFn]:
    _load_extensions()
    return _rotated(_QUERIES)


def oracle_sql() -> dict[str, str]:
    _load_extensions()
    return _rotated(_ORACLE)
