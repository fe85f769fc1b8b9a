"""Round-4 registry entries: format round-trips, bucketed storage,
TPC-H composites, exact distribution statistics, cohort/funnel
analytics, scalar families, and the round-4 LLM-pipeline additions.

Same cross-engine conventions as ``registry.py`` (aliased columns,
integer cents for money, no float ``round``, pinned time literals) —
plus two local ones used throughout:

- whole-valued doubles (quantities, floored values) are summed as
  BIGINT so partial-aggregation order can never flip a hash;
- derived floats are produced by ONE identical IEEE expression tree on
  both engines (division/sqrt are correctly rounded, so mirroring the
  formula mirrors the bits).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from .io import load_table
from .registry import (
    NOW,
    _cents,
    _clean_stale_scratch,
    _session_tag,
    register,
)

# (round-9's stream_sessionize_stateful re-cert call removed at
# round-10 start: CORRECTNESS_r09 shows it green again.)
from .registry_ext import (
    _COSINE_SQL,
    _DUP_CORPUS_SQL,
    _NEAR_DUP_CORPUS_SQL,
    _RRF_RANKING_SQL,
    _dup_corpus,
    _near_dup_corpus,
)

#: tokenization shared by the text entries — identical to the
#: registry_ext convention: lowercase, split on \s+, drop empties
_TOK_SQL = "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"


def _tok(col="text"):
    return F.filter(F.split(F.lower(F.col(col)), r"\s+"), lambda t: t != "")


# =====================================================================
# A. Formats & storage layout
# =====================================================================


@register(
    "sink_csv_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY event_type
    """,
)
def q_sink_csv_roundtrip(spark, sf_dir):
    """CSV sink/source round trip: events written as headered CSV,
    read back with an explicit schema, per-type aggregates matching
    the raw parquet — doubles survive because Spark writes the
    shortest round-trippable decimal repr."""
    _clean_stale_scratch("/tmp/wds_csv_*")
    out = f"/tmp/wds_csv_{_session_tag(spark, sf_dir)}"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema("event_id long, event_type string, value double").option(
        "header", True
    ).csv(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(_cents("value")) / 100.0).alias("value_sum"),
    )


@register(
    "sink_json_roundtrip",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q_sink_json_roundtrip(spark, sf_dir):
    """JSON-lines sink/source round trip (the landing-zone format):
    write, schema-on-read back, per-type aggregates matching raw."""
    _clean_stale_scratch("/tmp/wds_json_*")
    out = f"/tmp/wds_json_{_session_tag(spark, sf_dir)}"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "user_id"
    )
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, event_type string, value double, user_id long"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(_cents("value")) / 100.0).alias("value_sum"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "sink_bucketed_join",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0 AS price_sum
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_sink_bucketed_join(spark, sf_dir):
    """Bucketed-table co-located join: both sides written bucketed on
    the join key (8 buckets, sorted), then sort-merge joined with NO
    exchange on either side — the 100 TB pattern for a join repeated
    every run (pay the shuffle once at write time, never again).
    tests/test_plans.py pins the exchange-free join branches."""
    import shutil

    tag = _session_tag(spark, sf_dir)
    ot, ct = f"wds_r4_orders_{tag}", f"wds_r4_cust_{tag}"
    warehouse_glob = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    _clean_stale_scratch(os.path.join(warehouse_glob, "wds_r4_*"))
    # a fresh session has an empty in-memory catalog but the warehouse
    # directory persists — drop BOTH the catalog entry and the stale
    # location, or saveAsTable fails with LOCATION_ALREADY_EXISTS
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for t in (ot, ct):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = os.path.join(warehouse.removeprefix("file:"), t)
        shutil.rmtree(loc, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    orders.write.mode("overwrite").format("parquet").bucketBy(
        8, "o_custkey"
    ).sortBy("o_custkey").saveAsTable(ot)
    cust.write.mode("overwrite").format("parquet").bucketBy(
        8, "c_custkey"
    ).sortBy("c_custkey").saveAsTable(ct)
    o, c = spark.table(ot), spark.table(ct)
    j = o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.sum(_cents("o_totalprice")) / 100.0).alias("price_sum"),
    )


# =====================================================================
# B. Relational composites & exact distribution statistics
# =====================================================================


@register(
    "bench_q18",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 250
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_bench_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): semi-join against a
    HAVING-filtered aggregate, two star joins, re-aggregate, top-100.
    Quantities are whole-valued doubles, summed as BIGINT so the hash
    can't depend on float summation order."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    j = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(big, "l_orderkey", "left_semi")
    )
    return (
        j.groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "join_interval_overlap",
    """
    WITH a AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(ts) AS a_start, max(ts) AS a_end
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT day, CAST(day AS TIMESTAMP) + to_hours(h) AS w_start,
             CAST(day AS TIMESTAMP) + to_hours(h + 4) AS w_end
      FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
           CROSS JOIN (SELECT unnest([2, 13]) AS h)
    )
    SELECT a.user_id, a.day, w.w_start,
           CAST(date_diff('second', greatest(a.a_start, w.w_start),
                          least(a.a_end, w.w_end)) AS BIGINT) AS overlap_secs
    FROM a JOIN w ON a.day = w.day
    WHERE a.a_start < w.w_end AND w.w_start < a.a_end
    """,
)
def q_join_interval_overlap(spark, sf_dir):
    """Interval-overlap join, partitioned the scale-correct way: both
    interval sets carry a day key, so the overlap test runs INSIDE an
    equi-join on day — no cross join, no range-condition nested loop.
    (Intervals spanning days would be flatMapped to one row per
    covered day first — same plan shape.)"""
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.min("ts").alias("a_start"), F.max("ts").alias("a_end"))
    w = (
        ev.select(F.to_date("ts").alias("day"))
        .distinct()
        .join(F.broadcast(spark.range(0, 1).select(
            F.explode(F.array(F.lit(2), F.lit(13))).alias("h"))))
        .select(
            "day",
            (F.col("day").cast("timestamp")
             + F.col("h") * F.expr("INTERVAL 1 HOUR")).alias("w_start"),
            (F.col("day").cast("timestamp")
             + (F.col("h") + 4) * F.expr("INTERVAL 1 HOUR")).alias("w_end"),
        )
    )
    j = a.join(w, "day").filter(
        (F.col("a_start") < F.col("w_end")) & (F.col("w_start") < F.col("a_end"))
    )
    return j.select(
        "user_id",
        "day",
        "w_start",
        (
            F.unix_timestamp(F.least("a_end", "w_end"))
            - F.unix_timestamp(F.greatest("a_start", "w_start"))
        ).cast("long").alias("overlap_secs"),
    )


@register(
    "agg_skewness",
    """
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(floor(value) AS BIGINT)) AS s1,
             sum(CAST(floor(value) AS BIGINT) * CAST(floor(value) AS BIGINT)) AS s2,
             sum(CAST(floor(value) AS BIGINT) * CAST(floor(value) AS BIGINT)
                 * CAST(floor(value) AS BIGINT)) AS s3
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(s3 AS DOUBLE) / n
             - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
             + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
               * (CAST(s1 AS DOUBLE) / n))
           / ((CAST(s2 AS DOUBLE) / n
               - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
              * sqrt(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
           AS skewness
    FROM m
    """,
)
def q_agg_skewness(spark, sf_dir):
    """Exact third-moment skewness per group from integer power sums
    (floored values): the sums are associative BIGINTs, and the final
    moment formula is ONE identical IEEE expression tree on both
    engines — division and sqrt are correctly rounded, so the double
    is bit-identical.  ``x^1.5`` is deliberately written
    ``x * sqrt(x)`` (pow carries no cross-engine guarantee)."""
    ev = load_table(spark, sf_dir, "events")
    xu = F.floor("value").cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xu).alias("s1"),
        F.sum(xu * xu).alias("s2"),
        F.sum(xu * xu * xu).alias("s3"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    s2n = F.col("s2").cast("double") / F.col("n")
    s3n = F.col("s3").cast("double") / F.col("n")
    m2 = s2n - mean * mean
    m3 = s3n - F.lit(3.0) * mean * s2n + F.lit(2.0) * mean * mean * mean
    return m.select(
        "event_type", "n", (m3 / (m2 * F.sqrt(m2))).alias("skewness")
    )


@register(
    "agg_cohort_retention",
    """
    WITH cohort AS (
      SELECT user_id,
             CAST(min(date_trunc('week', ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      FROM events
    )
    SELECT c.cohort_week,
           CAST(date_diff('day', c.cohort_week, a.week) // 7 AS INT) AS week_no,
           CAST(count(*) AS BIGINT) AS n_users
    FROM cohort c JOIN active a ON c.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def q_agg_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users bucketed by first-activity ISO
    week, counted in each later active week.  Two hash aggregations +
    one equi-join on user — the cohort dimension (users × 2 dates) is
    the shuffled payload, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    cohort = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    active = ev.select("user_id", week.alias("week")).distinct()
    j = cohort.join(active, "user_id")
    return j.groupBy(
        "cohort_week",
        F.expr("div(datediff(week, cohort_week), 7)").cast("int").alias("week_no"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


@register(
    "win_running_distinct",
    """
    WITH flagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN row_number() OVER (
                    PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events
    )
    SELECT event_id, user_id, ts,
           CAST(sum(first_seen) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS distinct_types_so_far
    FROM flagged
    """,
)
def q_win_running_distinct(spark, sf_dir):
    """Running COUNT(DISTINCT) over an ordered stream — not directly
    expressible as a window aggregate, so it decomposes into a
    first-occurrence flag (row_number = 1 per (user, type)) plus a
    running sum.  The explicit user_id repartition makes BOTH windows
    reuse one exchange: hash(user_id) satisfies the (user, type)
    window's clustering (subset rule) AND the running-sum window's —
    without it Spark plans exchange(user, type) then exchange(user).
    One shuffle, two in-partition sorts."""
    ev = load_table(spark, sf_dir, "events").repartition("user_id")
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("first_seen").over(w_run).cast("long").alias("distinct_types_so_far"),
    )


@register(
    "win_zscore",
    """
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    m AS (
      SELECT event_id, event_type, vc,
             sum(vc) OVER (PARTITION BY event_type) AS s1,
             sum(vc * vc) OVER (PARTITION BY event_type) AS s2,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_id, event_type,
           (vc - CAST(s1 AS DOUBLE) / n)
           / sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           AS zscore
    FROM m
    """,
)
def q_win_zscore(spark, sf_dir):
    """Per-group standardization (z-score) as a window aggregate over
    exact integer cents — the whole-partition frame means Spark
    computes each group's moments once; the final normalize is the
    same IEEE expression both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    c = ev.select("event_id", "event_type", _cents("value").alias("vc"))
    m = c.select(
        "event_id",
        "event_type",
        "vc",
        F.sum("vc").over(w).alias("s1"),
        F.sum(F.col("vc") * F.col("vc")).over(w).alias("s2"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    return m.select(
        "event_id",
        "event_type",
        ((F.col("vc") - mean) / F.sqrt(var)).alias("zscore"),
    )


# =====================================================================
# C. Scalar families
# =====================================================================


@register(
    "f_date_parts",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(isodow(o_orderdate) AS INT) AS isodow,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(dayofyear(o_orderdate) AS INT) AS doy
    FROM orders
    """,
)
def q_f_date_parts(spark, sf_dir):
    """Calendar-part extraction family, aligned to the portable ISO
    definitions (isodow 1=Monday, ISO week number) — the
    engine-specific defaults (Spark dayofweek 1=Sunday) are avoided
    in favor of expressions both engines define identically."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("y"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.month("o_orderdate").cast("int").alias("m"),
        F.dayofmonth("o_orderdate").cast("int").alias("d"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("isodow"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        F.dayofyear("o_orderdate").cast("int").alias("doy"),
    )


@register(
    "f_interval_math",
    f"""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 30 DAY AS due_ts,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          DATE '2024-01-15') AS INT) AS days_to_now,
           CAST((epoch_us(TIMESTAMP '{NOW}') - epoch_us(o_orderdate))
                // 3600000000 AS BIGINT) AS hours_to_now,
           CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS month_idx
    FROM orders
    """,
)
def q_f_interval_math(spark, sf_dir):
    """Interval arithmetic family: timestamp displacement, day/hour
    differences against the pinned NOW, and an exact integer month
    index (year*12+month — the portable spelling of months_between
    for whole months).  Complete-hours is spelled as integer epoch-µs
    subtraction + integer division, NOT an engine hour-diff —
    DuckDB's ``date_diff('hour')`` counts boundary CROSSINGS while
    Spark's ``timestampdiff(HOUR)`` counts COMPLETE hours, and the
    two disagree the moment a timestamp has sub-hour components."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_orderdate + INTERVAL 30 DAY").alias("due_ts"),
        F.datediff(
            F.lit("2024-01-15").cast("date"), F.to_date("o_orderdate")
        ).cast("int").alias("days_to_now"),
        F.expr(
            f"(unix_micros(timestamp'{NOW}') - unix_micros(o_orderdate))"
            " DIV 3600000000"
        )
        .cast("long")
        .alias("hours_to_now"),
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("int")
        .alias("month_idx"),
    )


@register(
    "f_hash_digests",
    """
    SELECT c_custkey,
           md5(c_name) AS name_md5,
           sha256(c_name) AS name_sha256,
           substr(md5(c_name), 1, 8) AS bucket_hex
    FROM customer
    """,
)
def q_f_hash_digests(spark, sf_dir):
    """Cryptographic digest family (md5 / sha-256, lowercase hex) —
    the content-addressing primitives behind exact dedup, shard
    routing and cache keys; byte-identical in any engine."""
    c = load_table(spark, sf_dir, "customer")
    name_bytes = F.encode(F.col("c_name"), "UTF-8")
    return c.select(
        "c_custkey",
        F.md5(name_bytes).alias("name_md5"),
        F.sha2(name_bytes, 256).alias("name_sha256"),
        F.substring(F.md5(name_bytes), 1, 8).alias("bucket_hex"),
    )


# =====================================================================
# B2. TPC-H composite shapes (adapted: lineitem is the part↔supplier
# link — the synthetic schema has no partsupp table)
# =====================================================================


@register(
    "bench_q2",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cost_c
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (SELECT l_partkey, min(cost_c) AS best_c FROM cost GROUP BY l_partkey)
    SELECT c.l_partkey AS p_partkey, s.s_name, n.n_name, c.cost_c / 100.0 AS min_cost
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.cost_c = b.best_c
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    ORDER BY min_cost, p_partkey, s_name
    LIMIT 100
    """,
)
def q_bench_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the correlated
    MIN-subquery decorrelated into an aggregate + self-equi-join on
    (part, cost) — the standard Spark translation, one extra shuffle
    instead of a per-row subquery.  Supplier/nation/region dims are
    broadcast; exact-cents min keeps the equality join cross-engine.
    Ties (several suppliers at the min) survive on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_cents("l_extendedprice")).alias("cost_c")
    )
    # decorrelate via a whole-partition window min rather than a
    # re-aggregate + self-join: one fewer shuffle, and hash(l_partkey,
    # l_suppkey) → window on l_partkey is the only repartitioning
    best = cost.withColumn(
        "best_c", F.min("cost_c").over(Window.partitionBy("l_partkey"))
    ).filter(F.col("cost_c") == F.col("best_c"))
    dim = F.broadcast(
        supp.join(F.broadcast(nat), supp["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        best.join(dim, best["l_suppkey"] == dim["s_suppkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            (F.col("cost_c") / 100.0).alias("min_cost"),
        )
        .orderBy("min_cost", "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "bench_q7",
    """
    WITH v AS (
      SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
             CAST(year(l.l_shipdate) AS INT) AS l_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT) AS vc
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      WHERE (r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
         OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA')
    )
    SELECT supp_region, cust_region, l_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           sum(vc) / 100.0 AS revenue
    FROM v GROUP BY supp_region, cust_region, l_year
    """,
)
def q_bench_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between trading blocs): the
    two-fact star join decorated with BOTH endpoint geographies —
    supplier-side and customer-side nation→region chains joined
    independently (each a broadcast), disjunctive bloc filter, yearly
    revenue rollup.  The two broadcasts mean the only shuffles are
    the lineitem↔orders join and the final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    geo = nat.join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"]).select(
        "n_nationkey", "r_name"
    )
    sgeo = F.broadcast(
        supp.join(F.broadcast(geo), supp["s_nationkey"] == geo["n_nationkey"])
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    cgeo = F.broadcast(
        cust.join(F.broadcast(geo), cust["c_nationkey"] == geo["n_nationkey"])
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(sgeo, li["l_suppkey"] == sgeo["s_suppkey"])
        .join(cgeo, orders["o_custkey"] == cgeo["c_custkey"])
        .filter(
            ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
            | ((F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA"))
        )
    )
    return j.groupBy(
        "supp_region", "cust_region", F.year("l_shipdate").cast("int").alias("l_year")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        (F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))) / 100.0)
        .alias("revenue"),
    )


@register(
    "bench_q16",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#3'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 9, 19, 29, 39, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_name LIKE '%07')
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_bench_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier diversity per part profile): NOT-IN
    complaint-supplier exclusion planned as a broadcast anti-join (the
    excluded set is tiny), selective dim filters pushed to the part
    scan, count-distinct re-shuffled on the group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 19, 29, 39, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%07")
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# =====================================================================
# D. Behavioral analytics (funnel / streak / snapshot-dim families)
# =====================================================================


@register(
    "win_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL
    SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
    """,
)
def q_win_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase, strictly
    increasing timestamps): each stage is the previous stage's cohort
    narrowed by a min-aggregate — all joins are equi-joins on user_id,
    so the funnel is three hash-partitioned passes over per-user
    aggregates, never a self-join of raw events against raw events."""
    from .operators.windows import conversion_funnel

    # NOTE on partitioning: every stage aggregates and joins on
    # user_id, but an explicit repartition does NOT help here — the
    # three branches filter differently so Spark cannot reuse one
    # exchange, and the per-stage cohort tables are tiny relative to
    # events (they broadcast; at 100× the stage aggregates' own output
    # partitioning already feeds the next sort-merge join side).
    ev = load_table(spark, sf_dir, "events")
    return conversion_funnel(ev, ["view", "click", "purchase"])


@register(
    "win_streak",
    """
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    i AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS grp
      FROM d
    ),
    s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
          FROM i GROUP BY user_id, grp)
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS n_active_days
    FROM s GROUP BY user_id
    """,
)
def q_win_streak(spark, sf_dir):
    """Longest consecutive-active-day streak per user — the
    gaps-and-islands date variant: day − row_number is constant within
    a run of consecutive days, so one window + two hash aggregations
    (all partitioned by user_id: one exchange feeds everything)."""
    from .operators.windows import day_streaks

    return day_streaks(load_table(spark, sf_dir, "events"))


@register(
    "join_dim_snapshot",
    """
    WITH dim AS (
      SELECT user_id, ts AS valid_from,
             coalesce(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      TIMESTAMP '2024-03-01') AS valid_to,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS INT) AS level
      FROM events WHERE event_type = 'purchase'
    )
    SELECT d.level, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e
    JOIN dim d ON e.user_id = d.user_id
              AND e.ts >= d.valid_from AND e.ts < d.valid_to
    GROUP BY d.level
    """,
)
def q_join_dim_snapshot(spark, sf_dir):
    """Point-in-time (snapshot) join of facts to an SCD-2 style
    dimension: validity intervals derived from the user's purchase
    history (level = running purchase count), facts matched to the
    interval covering their timestamp.  The join is an EQUI-join on
    user_id with the range test as a join filter — per-user dimension
    slices are small, so the sort-merge join stays balanced at scale
    (the interval predicate never becomes a nested-loop)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.coalesce(
                F.lead("ts").over(w), F.lit("2024-03-01").cast("timestamp")
            ).alias("valid_to"),
            F.row_number().over(w).cast("int").alias("level"),
        )
    )
    j = ev.alias("e").join(
        dim.alias("d"),
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.col("e.ts") >= F.col("d.valid_from"))
        & (F.col("e.ts") < F.col("d.valid_to")),
    )
    return j.groupBy("d.level").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_distinct(F.col("e.user_id")).cast("long").alias("n_users"),
    )


@register(
    "agg_bool_family",
    """
    SELECT event_type,
           CAST(count(*) FILTER (WHERE value > 400) AS BIGINT) AS n_high,
           bool_and(value > 0.005) AS all_positive,
           bool_or(value > 489) AS any_extreme,
           CAST(count(*) FILTER (
             WHERE json_extract_string(props, '$.k') IS NOT NULL)
             AS BIGINT) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def q_agg_bool_family(spark, sf_dir):
    """Boolean aggregate family: conditional counts (count_if) and
    universal/existential quantifiers (bool_and / bool_or) — all
    map-side combinable, so the partial-aggregation tree is as cheap
    as a plain count at any scale."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 400).cast("long").alias("n_high"),
        F.bool_and(F.col("value") > 0.005).alias("all_positive"),
        F.bool_or(F.col("value") > 489).alias("any_extreme"),
        F.count_if(F.get_json_object("props", "$.k").isNotNull())
        .cast("long")
        .alias("n_with_k"),
    )


@register(
    "win_sliding_minmax",
    """
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
    )
    SELECT event_id, user_id, ts,
           min(vc) OVER w / 100.0 AS roll_min,
           max(vc) OVER w / 100.0 AS roll_max,
           CAST(count(*) OVER w AS BIGINT) AS n_in_frame
    FROM c
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def q_win_sliding_minmax(spark, sf_dir):
    """Rolling extrema over a bounded row frame (7-event trailing
    min/max per user) — the bounded ROWS frame keeps per-row work
    O(frame), state bounded, and the exact-cents min/max makes the
    /100.0 publish bit-identical cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    c = ev.select("event_id", "user_id", "ts", _cents("value").alias("vc"))
    return c.select(
        "event_id",
        "user_id",
        "ts",
        (F.min("vc").over(w) / 100.0).alias("roll_min"),
        (F.max("vc").over(w) / 100.0).alias("roll_max"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_frame"),
    )


# =====================================================================
# E. LLM-pipeline additions (retrieval QA / dedup sampling / vocab /
# skew diagnostics / audio)
# =====================================================================


def _ndcg_disc_values_sql(k: int) -> str:
    from .ext.simsearch import ndcg_discount_micros

    return ", ".join(f"({r}, {m})" for r, m in ndcg_discount_micros(k))


def _make_ndcg_oracle() -> str:
    return (
        "WITH "
        + _RRF_RANKING_SQL.format(
            cos_raw=_COSINE_SQL.format(a="qe", b="embedding"),
            cos_q=_COSINE_SQL.format(a="qqv", b="qv"),
        )
        + f"""
    , disc(rank, disc_micro) AS (VALUES {_ndcg_disc_values_sql(5)}),
    t AS (SELECT query_id, match_id, rank AS t_rank FROM ra WHERE rank <= 5),
    a AS (SELECT query_id, match_id, rank AS a_rank FROM rb WHERE rank <= 5),
    dcg AS (
      SELECT a.query_id,
             CAST(sum(coalesce(6 - t.t_rank, 0) * d.disc_micro) AS BIGINT)
               AS dcg_micro
      FROM a
      JOIN disc d ON a.a_rank = d.rank
      LEFT JOIN t ON a.query_id = t.query_id AND a.match_id = t.match_id
      GROUP BY a.query_id),
    idcg AS (
      SELECT query_id,
             CAST(sum((6 - t_rank) * d.disc_micro) AS BIGINT) AS idcg_micro
      FROM t JOIN disc d ON t.t_rank = d.rank GROUP BY query_id)
    SELECT i.query_id,
           CAST(coalesce(g.dcg_micro, 0) AS BIGINT) AS dcg_micro,
           i.idcg_micro,
           CAST(coalesce(g.dcg_micro, 0) AS DOUBLE)
             / CAST(i.idcg_micro AS DOUBLE) AS ndcg
    FROM idcg i LEFT JOIN dcg g ON i.query_id = g.query_id
    """
    )


@register("ext_eval_ndcg", _make_ndcg_oracle())
def q_ext_eval_ndcg(spark, sf_dir):
    """NDCG@5 of the int8-quantized ranking against the exact cosine
    ranking — the graded-relevance retrieval-QA companion to
    ext_eval_recall.  The log2 position discounts are pinned integer
    micro-literals (ext/simsearch.ndcg_discount_micros) on BOTH
    engines, so DCG/IDCG are exact BIGINT dot products and the single
    final division is the only float op."""
    from .ext.simsearch import cosine_topk, ndcg_at_k, quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=5)
    qz = quantize_embeddings(emb, "vec_id", "embedding", bits=8).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    approx = cosine_topk(qz, qz.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=5)
    return ndcg_at_k(truth, approx, k=5)


@register(
    "ext_sample_dupcap",
    f"""
    WITH {_DUP_CORPUS_SQL},
    r AS (
      SELECT doc_id,
             CAST(row_number() OVER (
               PARTITION BY text
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS copy_rank,
             CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies
      FROM corpus)
    SELECT doc_id, copy_rank, n_copies FROM r WHERE copy_rank <= 2
    """,
)
def q_ext_sample_dupcap(spark, sf_dir):
    """Frequency-capped duplicate downsampling (the soft-dedup between
    'keep everything' and 'keep one'): at most 2 copies of each exact
    content survive, chosen deterministically by id-hash order — the
    Gopher/C4 move that bounds any document's training-mix weight
    without discarding duplication signal entirely.  One window over
    the content hash partition; no self-join."""
    from .ext.sampling import capped_duplicates

    corpus = _dup_corpus(spark, sf_dir)
    return capped_duplicates(corpus, ["text"], "doc_id", cap=2).select(
        "doc_id", "copy_rank", "n_copies"
    )


@register(
    "ext_tokenizer_vocab",
    f"""
    WITH tok AS (SELECT unnest({_TOK_SQL}) AS token FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occ FROM tok GROUP BY token),
    top AS (
      SELECT token, n_occ,
             CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS INT) AS rank
      FROM cnt ORDER BY n_occ DESC, token LIMIT 50)
    SELECT token, n_occ, rank,
           CAST(sum(n_occ) OVER (ORDER BY rank) * 1000000 // total AS BIGINT)
             AS cum_cov_micro
    FROM top CROSS JOIN tot
    """,
)
def q_ext_tokenizer_vocab(spark, sf_dir):
    """Tokenizer-vocabulary construction: corpus term frequencies →
    top-50 vocab with rank and cumulative corpus coverage (the curve
    that sizes a vocab).  The frequency aggregate is the only wide
    stage; top-50 goes through TakeOrderedAndProject, and the
    rank/coverage window runs on 50 rows.  Coverage is exact integer
    micro-units (cum·1e6 div total)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tok()).alias("token"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("total"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    top = cnt.orderBy(F.col("n_occ").desc(), "token").limit(50)
    w = W.orderBy(F.col("n_occ").desc(), "token")
    ranked = top.select(
        "token",
        "n_occ",
        F.row_number().over(w).cast("int").alias("rank"),
        F.sum("n_occ").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "token",
        "n_occ",
        "rank",
        F.expr("CAST((cum * 1000000) DIV total AS BIGINT)").alias("cum_cov_micro"),
    )


@register(
    "ext_skew_report",
    """
    WITH k AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_keys FROM k)
    SELECT user_id, n,
           CAST(n * 1000000 // total AS BIGINT) AS share_micro,
           CAST(n * 1000000 // (total // n_keys) AS BIGINT) AS x_mean_micro
    FROM k CROSS JOIN tot
    ORDER BY n DESC, user_id
    LIMIT 10
    """,
)
def q_ext_skew_report(spark, sf_dir):
    """Hot-key skew diagnostic — the report you run BEFORE choosing a
    join/agg strategy at scale: top-10 heaviest keys with their share
    of all rows and their multiple of the mean key load (the direct
    input to the salting-factor decision in join_salted_skew).  One
    hash aggregate + a broadcast scalar + TakeOrdered-10; exact
    integer micro-units.  x_mean is spelled n·1e6 / (total div
    n_keys) — dividing by the integer mean key load BEFORE
    multiplying keeps every intermediate ≤ n·1e6, where the naive
    n·n_keys·1e6 overflows BIGINT at ~1e8 keys × 1e5-row hot keys
    (exactly the skewed datasets this diagnostic exists for)."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = k.agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n",
            F.expr("CAST((n * 1000000) DIV total AS BIGINT)").alias("share_micro"),
            F.expr("CAST((n * 1000000) DIV (total DIV n_keys) AS BIGINT)")
            .alias("x_mean_micro"),
        )
        .orderBy(F.col("n").desc(), "user_id")
        .limit(10)
    )


@register("ext_multimodal_audio")  # real WAV decode — rows-only (binary I/O)
def q_ext_multimodal_audio(spark, sf_dir):
    """REAL audio pipeline: deterministic PCM16 WAV payloads (stdlib
    ``wave`` containers, sine keyed on doc_id) synthesized for a
    bounded 48-doc slice, then decoded back through the Arrow-batched
    stdlib parser into the curation features (duration / peak / RMS /
    zero-crossings).  Binary in, mapInPandas through, scalar feature
    rows out — pytest pins RMS = amp/√2 and zero-crossing = 2·f·t
    against the synthesis parameters."""
    from .ext.multimodal import decode_audio_features, synth_wav_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 48)
    wav = synth_wav_payload(docs, "doc_id")
    return decode_audio_features(wav, "doc_id")


@register(
    "f_base64_hex",
    """
    SELECT doc_id,
           to_base64(encode(substr(text, 1, 24))) AS b64,
           hex(encode(substr(text, 1, 24))) AS hx,
           decode(from_base64(to_base64(encode(substr(text, 1, 24)))))
             = substr(text, 1, 24) AS roundtrip_ok
    FROM documents
    """,
)
def q_f_base64_hex(spark, sf_dir):
    """Binary encoding scalar family: base64 and hex of UTF-8 bytes
    plus a decode round-trip check — the content-addressing /
    wire-format primitives (both engines emit RFC-4648 base64 and
    uppercase hex)."""
    docs = load_table(spark, sf_dir, "documents")
    head = F.encode(F.substring("text", 1, 24), "UTF-8")
    return docs.select(
        "doc_id",
        F.base64(head).alias("b64"),
        F.hex(head).alias("hx"),
        (F.decode(F.unbase64(F.base64(head)), "UTF-8")
         == F.substring("text", 1, 24)).alias("roundtrip_ok"),
    )


@register(
    "f_format_pad",
    """
    SELECT c_custkey,
           printf('%06d', c_custkey) AS id6,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS lp,
           rpad(c_mktsegment, 12, '.') AS rp,
           reverse(c_name) AS rev,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
           repeat('-', CAST(c_custkey % 5 AS INT)) AS dashes
    FROM customer
    """,
)
def q_f_format_pad(spark, sf_dir):
    """String formatting/padding scalar family: C-style printf on
    integers (floats deliberately excluded — %f rounding is not a
    cross-engine contract), lpad/rpad, reverse, character translate,
    and count-driven repeat."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.format_string("%06d", "c_custkey").alias("id6"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("lp"),
        F.rpad("c_mktsegment", 12, ".").alias("rp"),
        F.reverse("c_name").alias("rev"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("tr"),
        F.expr("repeat('-', CAST(c_custkey % 5 AS INT))").alias("dashes"),
    )


@register(
    "join_null_safe",
    """
    WITH a AS (
      SELECT nullif(event_type, 'error') AS k,
             CAST(count(*) AS BIGINT) AS n_all
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT nullif(event_type, 'error') AS k,
             CAST(count(*) AS BIGINT) AS n_big
      FROM events WHERE value > 250 GROUP BY 1
    )
    SELECT a.k, a.n_all, b.n_big
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_null_safe(spark, sf_dir):
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL
    join keys match each other instead of silently dropping — the
    semantics a sentinel-coded dimension needs.  Plans exactly like a
    plain hash/sort-merge equi-join (null-safe equality is still an
    equality-based key), so no nested-loop penalty at scale."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error")).alias("k")
    a = ev.groupBy(k).agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    b = (
        ev.filter(F.col("value") > 250)
        .groupBy(k)
        .agg(F.count(F.lit(1)).cast("long").alias("n_big"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_all", "n_big"
    )


@register(
    "agg_median_mad",
    """
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT event_type, vc,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY vc, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM c
    ),
    med AS (SELECT event_type, vc AS med_c, n FROM m WHERE rn = (n + 1) // 2),
    d AS (
      SELECT c.event_type, c.event_id,
             abs(c.vc - med.med_c) AS dev, med.med_c, med.n
      FROM c JOIN med ON c.event_type = med.event_type
    ),
    dm AS (
      SELECT event_type, dev, med_c, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev, event_id) AS rn
      FROM d
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           med_c / 100.0 AS median, dev / 100.0 AS mad
    FROM dm WHERE rn = (n + 1) // 2
    """,
)
def q_agg_median_mad(spark, sf_dir):
    """Robust statistics: exact DISCRETE median + median absolute
    deviation per group — the outlier scale measure that, unlike the
    sigma rule, is immune to the outliers themselves.  Interpolated
    medians differ between engines' float paths, so both engines pick
    the lower-median ELEMENT at position ceil(n/2) under the total
    order (cents, event_id) — selection, not arithmetic, is exact by
    construction.  NULL measures are excluded up front (median over
    observed values — and the engines' NULL orderings differ, so a
    NULL must never reach the ranking).  Two window passes + one
    equi-join on the (tiny) per-group median table."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    c = ev.select("event_id", "event_type", _cents("value").alias("vc"))
    w = Window.partitionBy("event_type").orderBy("vc", "event_id")
    m = c.select(
        "event_type",
        "vc",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    med = m.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("event_type").alias("m_type"), F.col("vc").alias("med_c"), "n"
    )
    d = c.join(med, c["event_type"] == med["m_type"]).select(
        "event_type",
        "event_id",
        F.abs(F.col("vc") - F.col("med_c")).alias("dev"),
        "med_c",
        "n",
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "event_id")
    dm = d.withColumn("rn", F.row_number().over(wd))
    return dm.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("med_c") / 100.0).alias("median"),
        (F.col("dev") / 100.0).alias("mad"),
    )


@register("ext_multimodal_resize_png")  # real codec chain — rows-only
def q_ext_multimodal_resize_png(spark, sf_dir):
    """The REAL image pipeline end to end as a driver query:
    deterministic RGB-gradient PNGs synthesized through the stdlib
    encoder (keyed on doc_id), resized 24×16 → 8×8 through the real
    nearest-neighbor + re-encode path, then decoded back into
    (width, height, channels, mean-luma) features.  Every byte in
    flight is a genuine PNG; all three stages are Arrow-batched
    mapInPandas over binary columns."""
    from .ext.multimodal import (
        decode_image_features,
        resize_images,
        synth_png_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 32)
    png = synth_png_payload(docs, "doc_id", width=24, height=16)
    small = resize_images(
        png, "doc_id", "payload", target_w=8, target_h=8, use_real_codec=True
    )
    return decode_image_features(small, "doc_id", "payload", use_real_codec=True)


def _make_mrr_oracle() -> str:
    rr_vals = ", ".join(
        f"({r}, {round(1_000_000 / r)})" for r in range(1, 11)
    )
    return (
        "WITH "
        + _RRF_RANKING_SQL.format(
            cos_raw=_COSINE_SQL.format(a="qe", b="embedding"),
            cos_q=_COSINE_SQL.format(a="qqv", b="qv"),
        )
        + f"""
    , rr(rank, rr_micro) AS (VALUES {rr_vals}),
    t AS (SELECT query_id, match_id FROM ra WHERE rank <= 5),
    a AS (SELECT query_id, match_id, rank FROM rb WHERE rank <= 10),
    hit AS (
      SELECT a.query_id, CAST(min(a.rank) AS INT) AS first_hit_rank
      FROM a JOIN t ON a.query_id = t.query_id AND a.match_id = t.match_id
      GROUP BY a.query_id),
    q2 AS (SELECT DISTINCT query_id FROM t)
    SELECT q2.query_id,
           CAST(coalesce(h.first_hit_rank, 0) AS INT) AS first_hit_rank,
           CAST(coalesce(rr.rr_micro, 0) AS BIGINT) AS rr_micro
    FROM q2
    LEFT JOIN hit h ON q2.query_id = h.query_id
    LEFT JOIN rr ON h.first_hit_rank = rr.rank
    """
    )


@register("ext_eval_mrr", _make_mrr_oracle())
def q_ext_eval_mrr(spark, sf_dir):
    """Mean-reciprocal-rank retrieval QA (completing the trio with
    recall@k and NDCG@k): per query, the rank of the FIRST exact-top-5
    item recovered by the int8-quantized top-10 ranking, published as
    pinned integer micro reciprocals (1e6/rank literals on both
    engines — no float rank math in the hash).  Both runs are Q·k
    rows; one equi-join + a min per query."""
    from .ext.simsearch import cosine_topk, mrr_at_k, quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=5)
    qz = quantize_embeddings(emb, "vec_id", "embedding", bits=8).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    approx = cosine_topk(
        qz, qz.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=10
    )
    return mrr_at_k(truth, approx, k=10)


@register("agg_hll_merge")  # sketch-based — approximate, rows-only
def q_agg_hll_merge(spark, sf_dir):
    """Mergeable distinct-count sketches — the 100 TB pattern for
    COUNT(DISTINCT) over time: one HLL sketch per (event_type, day)
    partition (map-side combinable, bytes not values shuffle), then a
    lossless sketch UNION across days per type and one estimate.  At
    scale the daily sketches are the stored rollup: yesterday's bytes
    merge with today's without rescanning history.  Approximate by
    design → rows-only; pytest pins the ≤5%-of-exact error bound and
    the union-vs-direct merge equality (same lgK ⇒ identical
    registers)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    return daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("long")
        .alias("est_users"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )


@register(
    "ext_decontaminate",
    f"""
    WITH {_NEAR_DUP_CORPUS_SQL},
    tok AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w FROM corpus),
    idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i
            FROM tok),
    g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
          FROM idx),
    bad AS (
      SELECT DISTINCT a.doc_id
      FROM g a JOIN g b USING (gram)
      WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000)
    SELECT c.doc_id, CAST(length(c.text) AS BIGINT) AS n_chars
    FROM corpus c
    WHERE c.doc_id < 1000000
      AND c.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_ext_decontaminate(spark, sf_dir):
    """Benchmark decontamination MATERIALIZED (the step after
    ext_text_contamination's report): the train corpus with every
    document sharing an 8-gram with the eval set anti-joined away —
    the GPT-3 appendix-C removal, end to end.  The contaminated-id
    set is the distinct left side of the rare-shingle equi-join
    (tiny), so the removal is one broadcast anti-join over the train
    scan."""
    from .ext.text import contamination_pairs

    corpus = _near_dup_corpus(spark, sf_dir)
    train = corpus.filter(F.col("doc_id") < 1000000)
    test = corpus.filter(F.col("doc_id") >= 1000000)
    bad = (
        contamination_pairs(train, test, "doc_id", "text", n=8)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    return train.join(F.broadcast(bad), "doc_id", "left_anti").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


@register(
    "ext_mix_plan",
    """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars // 4) AS BIGINT) AS est_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(est_tokens) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_sources FROM s)
    SELECT source, n_docs, est_tokens,
           CAST(est_tokens * 1000000 // total AS BIGINT) AS corpus_share_micro,
           CAST(least(1000000,
                      (total // n_sources) * 1000000
                        // greatest(est_tokens, 1)) AS BIGINT)
             AS uniform_rate_micro,
           CAST(greatest(1000,
                         (total // n_sources) * 1000
                           // greatest(est_tokens, 1)) AS BIGINT)
             AS epochs_milli
    FROM s CROSS JOIN tot
    """,
)
def q_ext_mix_plan(spark, sf_dir):
    """Training-mixture planning: per source, estimated tokens
    (chars div 4), its share of the corpus, and the sampling rate /
    epoch multiplier that equalizes the mix to a uniform per-source
    token budget — the calculator that turns 'mix these 20 sources
    equally' into per-source Bernoulli rates for ext_sample_hash and
    repeat factors for oversampling.  One hash aggregate + a
    broadcast scalar; everything exact integer division."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.expr("n_chars DIV 4")).cast("long").alias("est_tokens"),
    )
    tot = s.agg(
        F.sum("est_tokens").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "est_tokens",
        F.expr("CAST(est_tokens * 1000000 DIV total AS BIGINT)")
        .alias("corpus_share_micro"),
        # greatest(est, 1): a zero-token source must not diverge the
        # engines (ANSI Spark throws on DIV 0, DuckDB returns NULL)
        F.expr(
            "CAST(least(1000000,"
            " (total DIV n_sources) * 1000000 DIV greatest(est_tokens, 1))"
            " AS BIGINT)"
        ).alias("uniform_rate_micro"),
        F.expr(
            "CAST(greatest(1000,"
            " (total DIV n_sources) * 1000 DIV greatest(est_tokens, 1))"
            " AS BIGINT)"
        ).alias("epochs_milli"),
    )


@register(
    "join_asof_forward",
    """
    WITH r AS (
      SELECT o_custkey AS user_id,
             TIMESTAMP '2024-01-01'
               + INTERVAL (dayofyear(o_orderdate) % 30) DAY AS rdate,
             CAST(max(o_orderkey) AS BIGINT) AS next_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id, r.next_orderkey
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.user_id AND e.ts <= r.rdate
    """,
)
def q_join_asof_forward(spark, sf_dir):
    """FORWARD as-of join (the 'next scheduled reading' lookup —
    completing the as-of family: backward, nearest, chunked,
    tolerance, and now forward): for each event the EARLIEST order
    date at or after it per user.  Same single-shuffle union+fold
    plan as the backward join, traversed in descending time; DuckDB
    ``ASOF LEFT JOIN ... ON l.ts <= r.rts`` is the oracle."""
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
        .agg(F.max("o_orderkey").alias("next_orderkey"))
    )
    from .operators.joins import asof_join as _asof

    return _asof(
        ev, right, on=["user_id"], left_ts="ts", right_ts="rdate",
        payload_cols=["next_orderkey"], direction="forward",
    )


@register(
    "win_resample_interp",
    """
    WITH keys AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT k.user_id, g.ts
      FROM keys k CROSS JOIN (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                      TIMESTAMP '2024-01-30',
                                      INTERVAL 1 DAY)) AS ts) g),
    obs AS (
      SELECT user_id, ts, max(value) AS value
      FROM events GROUP BY user_id, ts),
    b AS (
      SELECT g.user_id, g.ts, o.ts AS t0, o.value AS v0
      FROM grid g ASOF LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.ts >= o.ts),
    f AS (
      SELECT g.user_id, g.ts, o.ts AS t1, o.value AS v1
      FROM grid g ASOF LEFT JOIN obs o
        ON g.user_id = o.user_id AND g.ts <= o.ts)
    SELECT b.user_id, b.ts,
           CASE
             WHEN b.t0 IS NULL THEN f.v1
             WHEN f.t1 IS NULL THEN b.v0
             WHEN b.t0 = f.t1 THEN b.v0
             ELSE b.v0 + (f.v1 - b.v0)
                  * (CAST(epoch_us(b.ts) - epoch_us(b.t0) AS DOUBLE)
                     / CAST(epoch_us(f.t1) - epoch_us(b.t0) AS DOUBLE))
           END AS interp_value
    FROM b JOIN f ON b.user_id = f.user_id AND b.ts = f.ts
    """,
)
def q_win_resample_interp(spark, sf_dir):
    """Regular-grid resample with LINEAR INTERPOLATION — the
    gap-filling companion to win_resample_ffill: each daily grid
    point gets the value lerped between the surrounding observations
    (hold at the tail, backfill at the head, exact hit when the grid
    lands on a reading).  Composed from BOTH as-of directions —
    backward for (t0, v0), forward for (t1, v1) — so it reuses the
    single-shuffle fold twice plus one grid-keyed equi-join; the lerp
    runs on exact epoch-µs integer deltas with one double
    division/multiply, identical IEEE on both engines."""
    from .operators import asof_join

    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    grid = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.lit("2024-01-01 00:00:00").cast("timestamp"),
                    F.lit("2024-01-30 00:00:00").cast("timestamp"),
                    F.expr("interval 1 day"),
                )
            ).alias("grid_ts"),
        )
    )
    b = asof_join(
        grid, obs, on=["user_id"], left_ts="grid_ts", right_ts="ts",
        payload_cols=["ts", "value"],
    ).select(
        "user_id", "grid_ts",
        F.col("ts").alias("t0"), F.col("value").alias("v0"),
    )
    f = asof_join(
        grid, obs, on=["user_id"], left_ts="grid_ts", right_ts="ts",
        payload_cols=["ts", "value"], direction="forward",
    ).select(
        "user_id", "grid_ts",
        F.col("ts").alias("t1"), F.col("value").alias("v1"),
    )
    j = b.join(f, ["user_id", "grid_ts"])
    ratio = (
        (F.unix_micros("grid_ts") - F.unix_micros("t0")).cast("double")
        / (F.unix_micros("t1") - F.unix_micros("t0")).cast("double")
    )
    interp = (
        F.when(F.col("t0").isNull(), F.col("v1"))
        .when(F.col("t1").isNull(), F.col("v0"))
        .when(F.col("t0") == F.col("t1"), F.col("v0"))
        .otherwise(F.col("v0") + (F.col("v1") - F.col("v0")) * ratio)
    )
    return j.select(
        "user_id", F.col("grid_ts").alias("ts"), interp.alias("interp_value")
    )


@register(
    "stream_sessionize_stateful",
    """
    WITH e AS (SELECT user_id AS key, ts, event_id FROM events),
    s AS (
      SELECT key, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY key ORDER BY ts, event_id)),
    g AS (
      SELECT key, ts,
             sum(brk) OVER (PARTITION BY key ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM s),
    sess AS (
      SELECT key, sid, min(ts) AS session_start, max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM g GROUP BY key, sid),
    x AS (
      SELECT sess.*, max(sid) OVER (PARTITION BY key) AS last_sid FROM sess)
    SELECT key, session_start, session_end, n_events
    FROM x WHERE sid < last_sid
    """,
)
def q_stream_sessionize_stateful(spark, sf_dir):
    """Custom stateful streaming sessionization (applyInPandasWithState,
    availableNow → memory): per-user open-session state carried across
    micro-batches, one output row per CLOSED session.  The
    session-spanning-a-batch-boundary case is exactly what managed
    state buys over ``session_window``; equivalence to the batch twin's
    closed prefix is pytest-pinned (tests/test_streaming.py).

    ORACLE (round-6 upgrade, batch twin): with the single-file
    availableNow source (one micro-batch, events folded in sorted
    event-time order) the emitted rows are EXACTLY the gap-islands
    sessions minus each key's open tail — restated as lag + 6 h
    integer epoch-µs gap breaks + cumulative-sum islands, dropping the
    per-key last island.  Cross-batch boundary-spanning sessions stay
    pinned by the controlled-arrival streaming tests."""
    from .streaming.jobs import run_stream_to_memory, streaming_events_source

    from .streaming.stateful import sessions_stateful

    stream = streaming_events_source(spark, sf_dir)
    out = sessions_stateful(stream, "user_id", "ts", gap_seconds=6 * 3600)
    return run_stream_to_memory(out, output_mode="append")


@register("ext_tokenizer_bpe")  # iterative merge loop — rows-only
def q_ext_tokenizer_bpe(spark, sf_dir):
    """Distributed BPE tokenizer training over the documents corpus:
    the 12 highest-count merge rules under the deterministic
    (count desc, pair asc) order.  The corpus is scanned ONCE into a
    word-frequency dict; every merge round runs on that vocab table
    (pair explode + weighted count + one-row argmax collect +
    Arrow-batched rewrite).  Iterative argmax feeding the next round
    is not SQL-expressible → rows-only; pytest pins the classic
    hug/pug merge sequence hand-computed."""
    from .ext.text import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=12, min_count=2)


@register("ext_text_compression")  # zlib codec metric — rows-only
def q_ext_text_compression(spark, sf_dir):
    """Per-document zlib compression ratio (Gopher's cheap
    redundancy/noise signal: boilerplate compresses to almost
    nothing, binary junk doesn't compress at all) as exact integer
    milli-units.  Arrow-batched mapInPandas; no oracle because DuckDB
    has no zlib surface — pytest pins known-compressibility
    strings."""
    from .ext.text import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    return compression_ratio(docs, "doc_id", "text")


