"""Round-10 registry additions.

Headline item (VERDICT r9 #2): the IVF-PQ index LIFECYCLE — build
once, query many.  The green round-9 registry shape re-encodes the
corpus inside every query (encoding-dominated: BASELINE.md round-9
note (2) measured ~12.7 s of encode at 128k vectors on both paths);
a real 100 TB user materializes codes + codebook once and serves
queries from the persisted index.  Two entries split exactly there:
``ext_simsearch_index_build`` persists the index (codes PARTITIONED
BY coarse list id — the inverted-list file layout) and hash-verifies
WHAT WAS WRITTEN via a per-list manifest read back from parquet;
``ext_simsearch_index_query`` answers top-k from the persisted index
with no corpus scan, a statically partition-pruned codes read, and
the same fixed-order ADC chain (oracle: the round-9 IVF-PQ SQL
verbatim — the lifecycle split must not change a single score).

Cross-engine compare rules are documented at the top of registry.py —
exact integer arithmetic, no float folds, deterministic tie-breaks,
scalar output columns only.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .io import load_table, local_frame
from .registry import (
    _clean_stale_scratch,
    _register_changed_since_green,
    _session_tag,
    register,
)

# All round-10/11 _register_changed_since_green markers were deleted at
# round-12 start: every named id re-certified green in CORRECTNESS_r11.

# =====================================================================
# A. IVF-PQ index lifecycle: build once / query many (VERDICT r9 #2)
# =====================================================================


def _ivfpq_index_path(spark, sf_dir: str) -> str:
    """Session-unique index location (registry.py shared recipe):
    concurrent sessions at the same SF must not race each other's
    overwrite-then-read; dead sessions' copies are age-swept."""
    _clean_stale_scratch("/tmp/wds_ivfpq_idx_*")
    return f"/tmp/wds_ivfpq_idx_{_session_tag(spark, sf_dir)}"


def _ensure_ivfpq_index(spark, sf_dir: str) -> str:
    """Lazy build: the query entry must not depend on the build entry
    having run first (the driver checks a rotating window, in any
    order) — but when it HAS run, the query amortizes the encode.

    The index is the first scratch artifact designed to OUTLIVE its
    writing query, so every access refreshes the root's mtime —
    otherwise the 1-hour age gate in ``_clean_stale_scratch`` (ours or
    a concurrent session's) would count age from the build and could
    yank a live index out from under a >1 h session, silently
    re-paying the full encode this entry exists to amortize."""
    path = _ivfpq_index_path(spark, sf_dir)
    if not os.path.exists(os.path.join(path, "codes", "_SUCCESS")):
        from .ext.simsearch import ivfpq_build_index

        emb = load_table(spark, sf_dir, "embeddings")
        ivfpq_build_index(emb, path)
    os.utime(path)  # keep-alive for the age-gated sweep
    return path


def _ivfpq_index_manifest_oracle(m=8, sub=8, n_cent=16):
    from .registry_ext import _COSINE_SQL

    cos_assign = _COSINE_SQL.format(a="e.embedding", b="c.ce")
    l2 = f"""list_sum(list_transform(
               list_zip(e.embedding[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})],
                        c.ce[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})]),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"""
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cent}),
    assign AS (
      SELECT match_id, cid FROM (
        SELECT e.vec_id AS match_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_assign} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c)
      WHERE rn = 1),
    bestc AS (
      SELECT match_id, s, ccid FROM (
        SELECT e.vec_id AS match_id, rs.s, c.cid AS ccid,
               row_number() OVER (PARTITION BY e.vec_id, rs.s
                 ORDER BY {l2} ASC, c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c CROSS JOIN range(0, {m}) rs(s))
      WHERE rn = 1),
    csum AS (
      SELECT match_id, sum(ccid) AS code_sum FROM bestc GROUP BY match_id)
    SELECT a.cid,
           CAST(count(*) AS BIGINT) AS n_codes,
           CAST(sum(a.match_id) AS BIGINT) AS match_sum,
           CAST(sum(cs.code_sum) AS BIGINT) AS code_sum
    FROM assign a JOIN csum cs USING (match_id)
    GROUP BY a.cid ORDER BY a.cid
    """


@register("ext_simsearch_index_build", _ivfpq_index_manifest_oracle())
def q_ext_simsearch_index_build(spark, sf_dir):
    """BUILD half of the IVF-PQ index lifecycle: one corpus pass
    encodes integer codes (coarse list id + m per-subspace codebook
    ids — the ~4-byte/vector form, vs the slice-carrying inline
    aggregate), written PARTITIONED BY the coarse id so a probed query
    prunes its scan to nprobe list directories at the parquet layer.
    The published result is the per-list index MANIFEST — row count,
    member-id sum, code-id sum — read BACK from the persisted files
    (the sink_partitioned_scan / obs_manifest pattern: the oracle
    verifies what landed on disk, not what the plan intended), and the
    DuckDB oracle re-derives every code from the embeddings table
    under the same (cos DESC, −cid) / (l2 ASC, cid ASC) total orders.
    At 100 TB the build is one broadcast-codebook pass + a partitioned
    write; nothing corpus-sized shuffles except the write itself."""
    from .ext.simsearch import ivfpq_build_index

    path = _ivfpq_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    ivfpq_build_index(emb, path)
    back = spark.read.parquet(path + "/codes")
    code_sum = F.col("c0")
    for s in range(1, 8):
        code_sum = code_sum + F.col(f"c{s}")
    return (
        back.withColumn("cid", F.col("cid").cast("long"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_codes"),
            F.sum("match_id").cast("long").alias("match_sum"),
            F.sum(code_sum).cast("long").alias("code_sum"),
        )
        .orderBy("cid")
    )


def _ivfpq_query_oracle():
    from .registry_r9 import _ivfpq_md5_oracle

    # the round-9 inline IVF-PQ SQL VERBATIM: the lifecycle split
    # (persisted codes + the Arrow score kernel) must not change a score
    return _ivfpq_md5_oracle()


@register("ext_simsearch_index_query", _ivfpq_query_oracle())
def q_ext_simsearch_index_query(spark, sf_dir):
    """QUERY half of the IVF-PQ index lifecycle: top-3 from the
    PERSISTED index — no corpus scan, no re-encode.  The codebook
    (16 rows) and the 5 query vectors collect to the driver, which
    runs the probe stage; the probed list ids (|Q|·nprobe ints)
    become a static partition filter on the codes scan (plan-visible
    PartitionFilters — tests/test_plans.py pins it); codes score
    through the ``ivfpq_score_codes`` Arrow kernel, whose fixed-order
    ADC chain is bit-identical to the inline twin, so the oracle is
    the round-9 IVF-PQ SQL verbatim.  Built lazily if absent (driver
    order independence); after ``ext_simsearch_index_build`` has run — as in
    bench.py, where it precedes this entry — the encode is fully
    amortized and this row shows the true per-query serving cost."""
    from .ext.simsearch import ivfpq_query_index

    path = _ensure_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_query_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        nprobe=4,
        m=8,
    )
    return out.withColumn("adc", F.round("adc", 3))


_register_changed_since_green("ext_simsearch_index_query")


# =====================================================================
# B. HLL error contract, hash-verified (VERDICT r9 #3 — the
#    agg_quantile_bounds pattern applied to approx_count_distinct)
# =====================================================================


_DISTINCT_BOUNDS_SQL = """
    WITH d AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type),
    b AS (
      SELECT event_type, n_exact,
             (n_exact * 25 + 99) // 100 AS slack
      FROM d)
    SELECT event_type, n_exact,
           CAST(n_exact - slack AS BIGINT) AS hll_lo,
           CAST(n_exact + slack AS BIGINT) AS hll_hi,
           TRUE AS hll_ok
    FROM b ORDER BY event_type
    """


def _distinct_bounds_frame(spark, sf_dir, hll_override=None):
    """Shared body of the HLL error-contract entries: exact distinct
    + integer-exact ±25% bounds from the batch table, the HLL++
    estimate from ``hll_override`` (event_type, hll) when given — else
    from a batch ``approx_count_distinct`` — and the in-bounds
    verdict.  25% = 5·rsd at rsd=0.05: the sketch publishes a
    STANDARD-DEVIATION contract, not a hard one, so the bracket is a
    5-sigma envelope — and because Spark's HLL++ is hash-determined
    (no RNG), the verdict is a fixed fact of this data that the
    driver re-certifies every round."""
    ev = load_table(spark, sf_dir, "events")
    if hll_override is not None:
        stats = (
            ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
            .join(hll_override, "event_type")
        )
    else:
        stats = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").cast("long").alias("n_exact"),
            F.approx_count_distinct("user_id", 0.05).alias("hll"),
        )
    return stats.select(
        "event_type",
        "n_exact",
        (F.col("n_exact") - F.expr("(n_exact * 25 + 99) DIV 100"))
        .cast("long")
        .alias("hll_lo"),
        (F.col("n_exact") + F.expr("(n_exact * 25 + 99) DIV 100"))
        .cast("long")
        .alias("hll_hi"),
        (
            (F.col("hll") >= F.col("n_exact")
             - F.expr("(n_exact * 25 + 99) DIV 100"))
            & (F.col("hll") <= F.col("n_exact")
               + F.expr("(n_exact * 25 + 99) DIV 100"))
        ).alias("hll_ok"),
    )


@register("agg_distinct_bounds", _DISTINCT_BOUNDS_SQL)
def q_agg_distinct_bounds(spark, sf_dir):
    """The HLL++ sketch's ERROR CONTRACT, hash-verified — the exact
    pattern that upgraded quantiles in round 9 (``agg_quantile_bounds``)
    applied to the OLDEST rows-only entry (``agg_approx_distinct``,
    rows-only since r01): per event type, publish the exact distinct
    user count plus an integer-exact ±25% (5σ at rsd=0.05) bracket,
    and publish the verdict ``approx_count_distinct ∈ [lo, hi]`` as a
    boolean the oracle asserts TRUE.  The estimate itself stays
    unpublished (implementation-dependent); what the driver
    hash-checks is that Spark's HLL++ honors its error contract on
    this data — a Spark upgrade that broke it flips the boolean and
    the row mismatches.  ``agg_approx_distinct`` stays as the raw
    sketch surface."""
    return _distinct_bounds_frame(spark, sf_dir)


def _distinct_bounds_twin_sql():
    # share agg_distinct_bounds' oracle VERBATIM: the MERGED sketch
    # must honor the same error contract as the single-pass one
    from .registry import _ORACLE

    return _ORACLE["agg_distinct_bounds"]


@register("stream_distinct_bounds", _distinct_bounds_twin_sql())
def q_stream_distinct_bounds(spark, sf_dir):
    """HLL++ MERGEABILITY, driver-certified (the
    ``stream_quantile_bounds`` pattern): the same error contract as
    ``agg_distinct_bounds``, but with the sketch built by a REAL
    2-micro-batch complete-mode streaming aggregation (time-split
    files one per trigger), so epoch 1's partial HLL registers MERGE
    into epoch 0's stored state rather than building in one pass.
    Merged registers are max-folded, so the estimate may legitimately
    differ from the batch entry's — what must hold, and what the
    shared-verbatim oracle asserts, is the 5σ bracket.  Mergeability
    is the property that lets 1000 executors sketch 100 TB
    independently and combine."""
    import os
    import shutil

    _clean_stale_scratch("/tmp/wds_db2_*")
    root = f"/tmp/wds_db2_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "ts"
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    now = 1_700_000_000
    for i, part in enumerate(
        [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
    ):
        sub = os.path.join(root, f"f{i}")
        part.select("event_type", "user_id").coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now + i * 3600, now + i * 3600))
    stream = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/f*")
    )
    agg = stream.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.05).alias("hll")
    )
    from .streaming.jobs import run_stream_to_memory

    hll = run_stream_to_memory(agg, output_mode="complete")
    return _distinct_bounds_frame(spark, sf_dir, hll_override=hll)


# =====================================================================
# C. Native sunshine_duration + daylight_duration (VERDICT r9 #4 —
#    the last two reference daily variables without a DEDICATED
#    hash-green entry; the r9 weather-native pattern)
# =====================================================================


def _sunshine_oracle():
    from .registry_r9 import _FL_N, _grid_hash_sql

    H = _grid_hash_sql
    return f"""
    WITH g AS (
      SELECT range % 5 AS lid, range // 5 AS h FROM range(0, {_FL_N})),
    v AS (
      SELECT lid, h // 24 AS d, {H('sun_r')} % 1400 AS rad FROM g)
    SELECT CAST(lid AS BIGINT) AS location_id,
           CAST(d AS BIGINT) AS day_idx,
           CAST(sum(CASE WHEN rad > 120 THEN 1 ELSE 0 END) AS BIGINT)
             AS sunny_hours,
           CAST(sum(CASE WHEN rad > 120 THEN 3600 ELSE 0 END) AS BIGINT)
             AS sunshine_s
    FROM v GROUP BY lid, d ORDER BY lid, d
    """


@register("agg_sunshine_duration", _sunshine_oracle())
def q_agg_sunshine_duration(spark, sf_dir):
    """Native ``sunshine_duration`` (reference server.py:133) as a
    FIRST-CLASS hash-green entry: the WMO convention — an hour counts
    as sunshine when direct radiation exceeds 120 W/m² — summed to
    daily seconds, computed by the REAL operator
    (``operators/aggregates.daily_summary`` with the ``sunshine``
    family, the same code path ``wx_history_daily`` exercises inside
    its composite product).  Hourly radiation is an md5-derived
    integer W/m² on the wx-twin grid (5 locations × 21 days × 24 h),
    so the threshold comparison and the 3600-per-hour sum are exact
    integers on both engines.  One hash aggregate to days, map-side
    combining — the shape that scales."""
    from .operators.aggregates import daily_summary
    from .registry_r9 import _FL_N, _grid_hash

    g = spark.range(0, _FL_N).select(
        (F.col("id") % 5).alias("lid"),
        F.expr("id DIV 5").alias("h"),
    )
    v = g.select(
        "lid",
        "h",
        F.expr(
            "timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, h)"
        ).alias("ts"),
        (_grid_hash("sun_r") % 1400).cast("double").alias("direct_radiation"),
    )
    daily = daily_summary(
        v,
        "ts",
        ["lid"],
        {"sunshine_duration": ("direct_radiation", "sunshine")},
    )
    return daily.select(
        F.col("lid").cast("long").alias("location_id"),
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
        (F.col("sunshine_duration") / 3600).cast("long").alias("sunny_hours"),
        F.col("sunshine_duration").cast("long").alias("sunshine_s"),
    ).orderBy("location_id", "day_idx")


def _daylight_oracle():
    """Precomputed solar dimension as inline VALUES (the
    wx_sunrise_sunset oracle pattern): the SAME float64 numpy
    ``solar_components`` code runs driver-side; published integers are
    whole SECONDS — coarser than the green entry's micro-hours, so the
    1-ULP batch-shape wiggle argument holds a fortiori."""
    import math

    import numpy as np

    from .fixtures import LATS, LONS, PLACES
    from .functions.astro import solar_components

    rows = []
    for i, place in enumerate(PLACES):
        for d in range(7):
            sr, ss, _dl = solar_components(
                np.array([LATS[i]]),
                np.array([LONS[i]]),
                np.array([float(d + 1)]),
            )
            sr_s = math.floor(float(sr[0]) * 3600.0 + 0.5)
            ss_s = math.floor(float(ss[0]) * 3600.0 + 0.5)
            dl_s = math.floor((float(ss[0]) - float(sr[0])) * 3600.0 + 0.5)
            esc = place.replace("'", "''")
            rows.append(
                f"('{esc}', DATE '2024-01-{d + 1:02d}', "
                f"CAST({sr_s} AS BIGINT), CAST({ss_s} AS BIGINT), "
                f"CAST({dl_s} AS BIGINT))"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(place, day, sunrise_s, sunset_s, daylight_s)"
    )


@register("f_daylight_duration", _daylight_oracle())
def q_f_daylight_duration(spark, sf_dir):
    """Native ``daylight_duration`` (reference server.py:133) as a
    FIRST-CLASS hash-green entry: daylight = sunset − sunrise from the
    NOAA solar dimension (``functions/astro.solar_events``, the same
    vectorized pandas UDF behind the green ``wx_sunrise_sunset``),
    published in EXACT INTEGER SECONDS — sunrise/sunset as
    seconds-of-day UTC and the duration as their float difference
    rounded to the second (floor(x·3600 + 0.5), the same
    integer-minor-units discipline; whole seconds are 1e3 coarser
    than the micro-hour twin, so numpy's batch-shape ULP wiggle
    cannot flip them)."""
    from . import fixtures
    from .functions.astro import solar_events

    geo = fixtures.geo_dim(spark).filter(F.col("latitude").between(-90, 90))
    days = spark.range(7).select(
        F.date_add(
            F.lit("2024-01-01").cast("date"), F.col("id").cast("int")
        ).alias("day")
    )
    sol = solar_events(geo.crossJoin(days), "latitude", "longitude", "day")
    return sol.select(
        "place",
        "day",
        F.floor(F.col("sunrise_utc_hour") * 3600.0 + 0.5)
        .cast("long")
        .alias("sunrise_s"),
        F.floor(F.col("sunset_utc_hour") * 3600.0 + 0.5)
        .cast("long")
        .alias("sunset_s"),
        F.floor(
            (F.col("sunset_utc_hour") - F.col("sunrise_utc_hour")) * 3600.0
            + 0.5
        )
        .cast("long")
        .alias("daylight_s"),
    )


# =====================================================================
# D. Integer power iteration — the PCA machinery, oracle-paired
#    (VERDICT r9 #5: the pagerank_int precedent applied to the
#    dominant eigenvector of the hash-green quantized Gram matrix)
# =====================================================================


def _power_iteration_oracle(dim=64, n_iter=8, unit=1_000_000):
    # Gram CTEs shared verbatim with ext_embed_gram (registry_r6) —
    # the quantization formula cannot drift between the two entries.
    return f"""
    WITH RECURSIVE q AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS mx
      FROM embeddings),
    ql AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5)
                                   AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS qvec
      FROM q),
    e AS (
      SELECT vec_id,
             CAST(generate_subscripts(qvec, 1) - 1 AS BIGINT) AS i,
             CAST(unnest(qvec) AS BIGINT) AS x
      FROM ql),
    gsym AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS HUGEINT) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id
      GROUP BY 1, 2),
    grow AS (SELECT i, list(s ORDER BY j) AS row FROM gsym GROUP BY i),
    gmat AS (SELECT list(row ORDER BY i) AS m FROM grow),
    pi AS (
      SELECT 0 AS it,
             list_transform(range(0, {dim}),
                            x -> CAST({unit} AS HUGEINT)) AS v
      UNION ALL
      -- v' = floor(w * unit / max|w|): the explicit-floor spelling
      -- (a - pmod(a, m)) // m keeps negative numerators on FLOOR
      -- semantics, matching CPython's // (DuckDB's bare // truncates)
      SELECT it + 1,
             list_transform(w, x -> CAST((x * {unit}
                 - (((x * {unit}) % mx) + mx) % mx) // mx AS HUGEINT)) AS v
      FROM (
        SELECT it, w, list_max(list_transform(w, x -> abs(x))) AS mx
        FROM (
          SELECT pi.it AS it,
                 list_transform(g.m,
                   row -> list_sum(list_transform(list_zip(row, pi.v),
                                                  p -> p[1] * p[2]))) AS w
          FROM pi, gmat g
          WHERE pi.it < {n_iter})))
    SELECT CAST(r AS BIGINT) AS idx, CAST(v[r + 1] AS BIGINT) AS v_unit
    FROM pi, range(0, {dim}) t(r) WHERE it = {n_iter} ORDER BY idx
    """


@register("ext_embed_power_iteration", _power_iteration_oracle())
def q_ext_embed_power_iteration(spark, sf_dir):
    """Dominant eigenvector (PCA's first component) of the quantized
    Gram matrix by INTEGER power iteration — upgrades the PCA
    machinery from rows-only pytest differentials to driver-certified
    (VERDICT r9 #5): 8 rounds of exact integer matvec + floor L∞
    normalization over the hash-green ``gram_matrix_quantized``
    second-moment statistic, a pure function of (S, n_iter) that the
    oracle replays round-for-round in a WITH RECURSIVE over the SAME
    Gram CTEs ``ext_embed_gram`` uses.  The corpus-linear stage is the
    distributed Arrow Gram pass; the eigensolve is O(d²) control-plane
    — the same 64×64 arithmetic at 100 TB as at sf0.001.  Floor
    semantics on negative components are spelled explicitly on the
    DuckDB side ((a − pmod(a, m)) // m) to match CPython's floor //.
    The float eigensolve quality path (``ext_embed_pca``) stays
    rows-only by nature."""
    from .ext.simsearch import gram_matrix_quantized, power_iteration_int

    emb = load_table(spark, sf_dir, "embeddings")
    return power_iteration_int(
        gram_matrix_quantized(emb, "vec_id", "embedding")
    )


# =====================================================================
# E. Exact-integer twin of the real PNG resize path (VERDICT r9 #6 —
#    the audio_exact_stats analytic-twin program, applied to images)
# =====================================================================


def _resize_exact_oracle(sw=24, sh=16, tw=10, th=6, n_docs=48):
    # Analytic restatement: the synthesized gradient pixel is a closed
    # form of (x, y, doc_id) (ext/multimodal.synth_png_payload), and
    # floor-sampled nearest-neighbor maps (tx, ty) → (sx, sy) with
    # pure integer arithmetic — so the resized image's pixel checksums
    # are a pure function of the synthesis params.
    return f"""
    WITH d AS (SELECT doc_id AS k FROM documents WHERE doc_id < {n_docs}),
    g AS (
      SELECT k, ty.r AS ty, tx.r AS tx
      FROM d, range(0, {th}) ty(r), range(0, {tw}) tx(r)),
    s AS (
      SELECT k, ty, tx,
             least(tx * {sw} // {tw}, {sw - 1}) AS sx,
             least(ty * {sh} // {th}, {sh - 1}) AS sy
      FROM g),
    v AS (
      SELECT k, (ty * {tw} + tx) * 3 AS p,
             (sx * 255 // {sw - 1} + k) % 256 AS r,
             (sy * 255 // {sh - 1} + 2 * k) % 256 AS gr,
             (sx + sy + 3 * k) % 256 AS b
      FROM s)
    SELECT CAST(k AS BIGINT) AS doc_id,
           CAST({tw} AS BIGINT) AS width,
           CAST({th} AS BIGINT) AS height,
           CAST(3 AS BIGINT) AS n_channels,
           CAST(sum(r + gr + b) AS BIGINT) AS px_sum,
           CAST(sum((p + 1) * r + (p + 2) * gr + (p + 3) * b) AS BIGINT)
             AS px_wsum
    FROM v GROUP BY k ORDER BY doc_id
    """


@register("ext_multimodal_resize_exact", _resize_exact_oracle())
def q_ext_multimodal_resize_exact(spark, sf_dir):
    """The REAL image-resize path, hash-verified end to end (VERDICT
    r9 #6 — finishing the analytic-twin program ``audio_exact_stats``
    proved): synthesize 24×16 gradient PNGs keyed on doc_id (stdlib
    encoder), REALLY resize them to 10×6 through the stdlib
    decode → floor-sampled nearest-neighbor → stdlib re-encode kernel
    (``resize_images(use_real_codec=True)``), decode the RESIZED
    payload again, and publish exact integer pixel checksums (plain
    and position-weighted).  Both resample coordinates and gradient
    values are closed-form integer arithmetic of (doc_id, x, y), so
    the oracle restates every output pixel analytically — any codec,
    filter-reconstruction, or resample drift flips the weighted sum.
    Kills the rows-only status of the resize path
    (``ext_multimodal_resize_png`` stays as the raw binary surface;
    its byte contract remains pytest-pinned).  Per-image Arrow-batched
    mapInPandas throughout — the 100 TB shape for binary columns."""
    from .ext.multimodal import (
        image_resize_exact_stats,
        resize_images,
        synth_png_payload,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 48)
    png = synth_png_payload(docs, "doc_id", width=24, height=16)
    resized = resize_images(
        png, "doc_id", "payload", target_w=10, target_h=6,
        use_real_codec=True,
    )
    return image_resize_exact_stats(resized, "doc_id", "payload")


# =====================================================================
# F. BPE merge fold, oracle-paired on a micro-corpus (VERDICT r9 #7 —
#    the pack_bestfit sequential-fold precedent)
# =====================================================================


def _bpe_exact_oracle(n_docs=8, n_merges=10, min_count=2):
    """WITH RECURSIVE replay of the greedy BPE merge fold.  Two
    load-bearing tricks:

    - each symbol is wrapped ``chr(2)‖sym‖chr(3)`` so the merge
      rewrite is one ``replace()`` — leftmost non-overlapping scan,
      exactly the engine's while-loop greedy semantics, and wrapped
      boundaries make consecutive merges independent (a space-joined
      spelling would share delimiters between adjacent matches and
      drop every second merge in an ``aaaa`` run);
    - position rows MUST collapse back to one row per word (GROUP BY)
      before re-entering the recursion — without it the working table
      multiplies by word length every round (measured: hang by round
      3 even on a 31-word vocabulary).

    The per-round argmax is two windows under the engine's exact
    total order (count DESC, left ASC, right ASC), with single-char
    words carried as NULL-pair dummy rows ordered last so they
    survive the round without competing for the argmax."""
    return f"""
    WITH RECURSIVE {_bpe_merge_ctes(n_docs, n_merges, min_count)}
    SELECT CAST(it AS INT) AS rank, any_value(ml) AS left,
           any_value(mr) AS right, any_value(ml || mr) AS merged,
           CAST(any_value(mc) AS BIGINT) AS pair_count
    FROM bpe WHERE it >= 1 GROUP BY it ORDER BY rank
    """


def _bpe_merge_ctes(n_docs=8, n_merges=10, min_count=2):
    """The merge-fold recursion SHARED by the train and apply oracles
    (the _kmeans_ctes composition pattern — a verbatim copy already
    cost one duplicated bug, the dummy-row guard below).

    The dummy row a single-symbol word emits is ``(sym, NULL)`` —
    ``l`` is the symbol, ``r`` is the out-of-range ``syms[k+1]`` — so
    the argmax exclusion MUST test ``r IS NULL``: ordering by
    ``l IS NULL`` never excludes them, a frequent fully-merged word's
    dummy count can beat every real pair, and ``first_value(r)``
    returns NULL which ``replace(s, …NULL…)`` propagates into EVERY
    word's state (confirmed on sf0.1 documents, where the original
    spelling emitted NULL-poisoned merge rows; the smaller fixtures
    passed only because no single-symbol word got frequent enough
    inside 10 rounds).

    The recursive WHERE also requires ``br IS NOT NULL`` (ADVICE r10):
    once the vocabulary fully merges before ``n_merges`` rounds, only
    dummy ``(sym, NULL)`` pairs remain, the argmax window falls
    through to one of them, and its summed freq can still pass
    ``min_count`` — without the guard the oracle would emit a
    NULL-right merge (NULL-poisoning later rounds via ``replace``)
    while ``bpe_train`` breaks out of its loop; with it both sides
    terminate on the same round."""
    return f"""tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE doc_id < {n_docs}),
    wf AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM tok, unnest(ws) AS u(w) GROUP BY w),
    init AS (
      SELECT w,
             list_aggregate(list_transform(range(1, length(w) + 1),
                            i -> chr(2) || w[i] || chr(3)),
                            'string_agg', '') AS s,
             freq
      FROM wf),
    bpe AS (
      SELECT 0 AS it, w, s, freq,
             CAST(NULL AS VARCHAR) AS ml, CAST(NULL AS VARCHAR) AS mr,
             CAST(NULL AS BIGINT) AS mc
      FROM init
      UNION ALL
      SELECT it + 1, w,
             replace(s, chr(2) || bl || chr(3) || chr(2) || br || chr(3),
                     chr(2) || bl || br || chr(3)),
             freq, bl, br, bc
      FROM (
        SELECT it, w, s, freq,
               any_value(bl) AS bl, any_value(br) AS br, any_value(bc) AS bc
        FROM (
          SELECT it, w, s, freq,
                 first_value(l) OVER win AS bl,
                 first_value(r) OVER win AS br,
                 first_value(cnt) OVER win AS bc
          FROM (
            SELECT it, w, s, freq, l, r,
                   sum(freq) OVER (PARTITION BY l, r) AS cnt
            FROM (
              SELECT it, w, s, freq,
                     syms[CAST(k AS INT)] AS l,
                     syms[CAST(k AS INT) + 1] AS r
              FROM (
                SELECT it, w, s, freq,
                       list_filter(string_split(substr(s, 2, length(s) - 2),
                                                chr(3) || chr(2)),
                                   x -> x <> '') AS syms
                FROM bpe) b,
                unnest(range(1, greatest(len(syms) - 1, 1) + 1)) kk(k)
            )
          )
          WINDOW win AS (ORDER BY (r IS NULL), cnt DESC, l ASC, r ASC)
        )
        GROUP BY it, w, s, freq
      )
      WHERE it < {n_merges} AND bc >= {min_count} AND br IS NOT NULL
    )"""


@register("ext_tokenizer_bpe_exact", _bpe_exact_oracle())
def q_ext_tokenizer_bpe_exact(spark, sf_dir):
    """The REAL distributed BPE trainer, driver-certified (VERDICT r9
    #7): run ``ext/text.bpe_train`` — per-round weighted pair count,
    TakeOrdered(1) argmax under (count DESC, left ASC, right ASC),
    Arrow-batched greedy rewrite — over an 8-document micro-corpus and
    publish the learned merge table; the oracle replays the whole
    sequential fold in a WITH RECURSIVE (the ``pack_bestfit``
    precedent), so merge ORDER, TIE-BREAKS and pair counts must all
    match bit-for-bit.  The corpus is deliberately micro: the fold is
    inherently sequential (round t+1's counts depend on round t's
    rewrite), so what needs certifying is the DECISION SEQUENCE, not
    scale — the corpus-sized stage (word-frequency dict) is one hash
    aggregate, already exercised at full size by the rows-only
    ``ext_tokenizer_bpe``/``_apply`` scale paths, which stay as the
    raw surfaces."""
    from .ext.text import bpe_train

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 8)
    return bpe_train(docs, "text", n_merges=10, min_count=2)


# =====================================================================
# G. Streaming incremental ANN index maintenance — the build half of
#    the lifecycle kept fresh at ingest time (the stream_dedup_minhash
#    posture applied to IVF-PQ codes)
# =====================================================================


def _index_manifest_twin_sql():
    # share ext_simsearch_index_build's oracle VERBATIM: encoding is
    # per-row against a fixed codebook, so the union of per-batch
    # encodes over ANY batching must equal the batch build exactly
    from .registry import _ORACLE

    return _ORACLE["ext_simsearch_index_build"]


@register("stream_simsearch_index", _index_manifest_twin_sql())
def q_stream_simsearch_index(spark, sf_dir):
    """STREAMING incremental IVF-PQ index maintenance — the missing
    half of a production index lifecycle: codebooks train OFFLINE
    (once), but vectors keep ARRIVING, so codes must be appended at
    ingest time rather than rebuilt in a nightly corpus re-encode.
    Embeddings stream in 2 micro-batches → foreachBatch encodes each
    batch against the static broadcast codebook and writes its codes
    as a replay-idempotent ``epoch=N`` overwrite partition (the
    stream_dedup_minhash sink pattern); the final store's per-list
    manifest must equal the batch build BIT-FOR-BIT — encoding is
    per-row against a fixed codebook, so the union over ANY batching
    is exactly the batch encode, and the oracle is
    ``ext_simsearch_index_build``'s SQL verbatim.  Per-batch cost is
    |new|·n_clusters broadcast work; nothing rescans the corpus."""
    import os
    import shutil

    from .ext.simsearch import _md5_codebook, ivfpq_encode_codes

    _clean_stale_scratch("/tmp/wds_sidx_*")
    root = f"/tmp/wds_sidx_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings")
    # offline step: the codebook (would be KMeans in the quality path;
    # hash-sampled here so the oracle restates it)
    cent = _md5_codebook(emb, "vec_id", "embedding", 16)
    cent_rows = cent.collect()  # 16 rows — pin the codebook statically
    cent_static = local_frame(spark, cent_rows, cent.schema)

    # stage the corpus as two arrival files (vec_id halves); the two
    # staging writes are independent (disjoint dirs) — overlap them
    # (guide §2.6)
    from .io import overlap_jobs

    mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
    now = 1_700_000_000

    def _stage(i, part):
        sub = os.path.join(root, "in", f"f{i}")
        part.select("vec_id", "embedding").coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now + i * 3600, now + i * 3600))

    overlap_jobs(
        *[
            (lambda i=i, part=part: _stage(i, part))
            for i, part in enumerate(
                [
                    emb.filter(F.col("vec_id") <= mid),
                    emb.filter(F.col("vec_id") > mid),
                ]
            )
        ]
    )

    codes_dir = f"{root}/codes"

    def handle(batch_df, epoch_id):
        ivfpq_encode_codes(
            batch_df, "vec_id", "embedding", cent=cent_static
        ).write.mode("overwrite").parquet(f"{codes_dir}/epoch={int(epoch_id)}")

    q = (
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/in/f*")
        .writeStream.foreachBatch(handle)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(codes_dir)
    code_sum = F.col("c0")
    for s in range(1, 8):
        code_sum = code_sum + F.col(f"c{s}")
    return (
        back.withColumn("cid", F.col("cid").cast("long"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_codes"),
            F.sum("match_id").cast("long").alias("match_sum"),
            F.sum(code_sum).cast("long").alias("code_sum"),
        )
        .orderBy("cid")
    )


# =====================================================================
# H. BPE APPLY certified: greedy-by-rank encode over the learned table
# =====================================================================


def _bpe_apply_oracle(
    train_docs=8, eval_lo=8, eval_hi=24, n_merges=10, min_count=2
):
    """Two chained recursions: the merge-fold recursion SHARED with
    ``_bpe_exact_oracle`` via ``_bpe_merge_ctes`` (a verbatim copy
    here carried the duplicated dummy-row-guard bug until the round-10
    review), then its rules applied RANK BY RANK to the eval
    documents' distinct words — state (rank, word, wrapped-string),
    each step one wrapped-symbol ``replace`` against the rank+1 rule;
    the inner join on the rule rank terminates the recursion exactly
    at the last learned merge.  Final per-doc accounting joins the
    encoded word lengths back through the doc→word occurrence list."""
    return f"""
    WITH RECURSIVE {_bpe_merge_ctes(train_docs, n_merges, min_count)},
    merges AS (
      SELECT CAST(it AS INT) AS rank, any_value(ml) AS l, any_value(mr) AS r
      FROM bpe WHERE it >= 1 GROUP BY it),
    etok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE doc_id >= {eval_lo} AND doc_id < {eval_hi}),
    eocc AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS n_occ
      FROM etok, unnest(ws) AS u(w) GROUP BY doc_id, w),
    ewords AS (SELECT DISTINCT w FROM eocc),
    apply AS (
      SELECT 0 AS rank, w,
             list_aggregate(list_transform(range(1, length(w) + 1),
                            i -> chr(2) || w[i] || chr(3)),
                            'string_agg', '') AS s
      FROM ewords
      UNION ALL
      SELECT a.rank + 1, a.w,
             replace(a.s, chr(2) || m.l || chr(3) || chr(2) || m.r || chr(3),
                     chr(2) || m.l || m.r || chr(3))
      FROM apply a JOIN merges m ON m.rank = a.rank + 1
    ),
    final AS (
      SELECT w, s FROM apply
      WHERE rank = (SELECT coalesce(max(rank), 0) FROM merges)),
    enc AS (
      SELECT w,
             CAST(len(list_filter(string_split(substr(s, 2, length(s) - 2),
                                               chr(3) || chr(2)),
                                  x -> x <> '')) AS BIGINT) AS n_tok,
             CAST(length(w) AS BIGINT) AS n_sym
      FROM final)
    SELECT d.doc_id,
           CAST(coalesce(sum(o.n_occ), 0) AS BIGINT) AS n_words,
           CAST(coalesce(sum(o.n_occ * e.n_sym), 0) AS BIGINT) AS n_symbols,
           CAST(coalesce(sum(o.n_occ * e.n_tok), 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(sum(o.n_occ * e.n_tok), 0) * 1000000
                // greatest(coalesce(sum(o.n_occ * e.n_sym), 0), 1) AS BIGINT)
             AS compression_micro
    FROM (SELECT doc_id FROM etok) d
    LEFT JOIN eocc o ON o.doc_id = d.doc_id
    LEFT JOIN enc e ON e.w = o.w
    GROUP BY d.doc_id ORDER BY d.doc_id
    """


@register("ext_tokenizer_bpe_apply_exact", _bpe_apply_oracle())
def q_ext_tokenizer_bpe_apply_exact(spark, sf_dir):
    """BPE APPLICATION certified end to end: train the merge table on
    the 8-doc micro-corpus (``bpe_train``), then GREEDY-BY-RANK encode
    a DISJOINT 16-doc eval set (``bpe_encode`` — rules applied in
    training order, each rewriting all adjacent occurrences
    left-to-right) and publish per-doc token accounting.  The oracle
    chains two recursions: the merge-fold replay (shared construction
    with ``ext_tokenizer_bpe_exact``) feeding a rank-by-rank apply
    recursion over the eval vocabulary's wrapped symbols — so the
    train/apply CONTRACT (same tie-breaks, same greedy scan, rank
    order preserved) is what's hash-checked, not just the trainer.
    Train/eval disjointness mirrors the deployment reality the entry
    certifies: tokenizers encode text they were not trained on."""
    from .ext.text import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(
        docs.filter(F.col("doc_id") < 8), "text", n_merges=10, min_count=2
    )
    eval_docs = docs.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 24))
    return bpe_encode(eval_docs, merges, "doc_id", "text")


# =====================================================================
# I. Inverse-distance-weighted station interpolation — THE spatial
#    operator a gridded-weather consumer runs (turn 5 stations into a
#    value at any query point)
# =====================================================================


def _idw_station_values():
    """Station temperatures (tenths °C) as driver-side md5 literals —
    the station dim is control-plane, so both engines receive
    identical VALUES rather than re-deriving them."""
    import hashlib

    return [
        int(hashlib.md5(f"idw:{i}".encode()).hexdigest()[:13], 16) % 401 - 100
        for i in range(5)
    ]


def _idw_oracle(n_q=200, k=3):
    from .fixtures import LATS, LONS

    vals = _idw_station_values()
    st = ", ".join(
        f"({i}, {int(round(LATS[i] * 1e6))}, {int(round(LONS[i] * 1e6))}, "
        f"{vals[i]})"
        for i in range(5)
    )
    H = (
        "CAST('0x' || substr(md5('{tag}:' || CAST(range AS VARCHAR)), 1, 13)"
        " AS BIGINT)"
    )
    picks = []
    for r in range(1, k + 1):
        picks.append(f"max(CASE WHEN rn = {r} THEN sid END) AS s{r}")
        picks.append(f"max(CASE WHEN rn = {r} THEN d2 END) AS dd{r}")
        picks.append(f"max(CASE WHEN rn = {r} THEN v END) AS v{r}")
    num = " + ".join(
        f"CAST(v{r} AS DOUBLE) / CAST(dd{r} AS DOUBLE)" for r in range(1, k + 1)
    )
    den = " + ".join(f"1.0 / CAST(dd{r} AS DOUBLE)" for r in range(1, k + 1))
    return f"""
    WITH st(sid, slat, slon, v) AS (VALUES {st}),
    q AS (
      SELECT range AS qid,
             35000000 + {H.format(tag='idw_lat')} % 20000001 AS qlat,
             -5000000 + {H.format(tag='idw_lon')} % 25000001 AS qlon
      FROM range(0, {n_q})),
    d AS (
      SELECT qid, sid, v,
             greatest((qlat - slat) * (qlat - slat)
                      + (qlon - slon) * (qlon - slon), 1) AS d2
      FROM q CROSS JOIN st),
    r AS (
      SELECT qid, sid, v, d2,
             row_number() OVER (PARTITION BY qid ORDER BY d2, sid) AS rn
      FROM d),
    p AS (
      SELECT qid, {", ".join(picks)}
      FROM r WHERE rn <= {k} GROUP BY qid)
    SELECT CAST(qid AS BIGINT) AS qid,
           CAST(s1 AS BIGINT) AS s1, CAST(s2 AS BIGINT) AS s2,
           CAST(s3 AS BIGINT) AS s3,
           CAST(dd1 AS BIGINT) AS dd1, CAST(dd2 AS BIGINT) AS dd2,
           CAST(dd3 AS BIGINT) AS dd3,
           CAST(floor(1000000.0 * (({num}) / ({den}))) AS BIGINT)
             AS idw_micro
    FROM p ORDER BY qid
    """


@register("join_idw_interpolation", _idw_oracle())
def q_join_idw_interpolation(spark, sf_dir):
    """Inverse-distance-weighted interpolation from the station
    dimension to arbitrary query points — THE operator that turns a
    sparse station network into a gridded product (what the reference's
    upstream provider does server-side; natively it is a k-nearest
    join + a weighted mean).  Geometry is exact: coordinates in
    integer micro-degrees, distance = squared planar separation
    (documented metric choice — monotone in true distance at this
    extent, integer-exact, no trig/libm anywhere), k=3 neighbors under
    the (d², sid) total order.  The IDW mean
    Σ(vᵢ/dᵢ²)/Σ(1/dᵢ²) is a FIXED-ORDER chain of pinned IEEE ops over
    exact integers (the ADC-chain discipline — never a grouped float
    SUM), published floor-micro; d² is floored at 1 so a query point
    that lands exactly on a station cannot divide by zero.  Scale
    shape: the station dim broadcasts (at 100 TB it is the ~1e4-row
    network, still broadcast-sized); per-point work is k-bounded; no
    corpus shuffle."""
    from .fixtures import LATS, LONS

    vals = _idw_station_values()
    st = local_frame(
        spark,
        [
            (
                i,
                int(round(LATS[i] * 1e6)),
                int(round(LONS[i] * 1e6)),
                vals[i],
            )
            for i in range(5)
        ],
        "sid long, slat long, slon long, v long",
    )

    def H(tag):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{tag}:"), F.col("qid").cast("string")
                    ).cast("binary")
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")

    q = spark.range(0, 200).select(F.col("id").alias("qid"))
    q = q.select(
        "qid",
        (F.lit(35_000_000) + H("idw_lat") % 20_000_001).alias("qlat"),
        (F.lit(-5_000_000) + H("idw_lon") % 25_000_001).alias("qlon"),
    )
    d = q.crossJoin(F.broadcast(st)).select(
        "qid",
        "sid",
        "v",
        F.greatest(
            (F.col("qlat") - F.col("slat")) * (F.col("qlat") - F.col("slat"))
            + (F.col("qlon") - F.col("slon"))
            * (F.col("qlon") - F.col("slon")),
            F.lit(1),
        ).alias("d2"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("d2").asc(), F.col("sid").asc())
    r = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
    p = r.groupBy("qid").agg(
        *[
            e
            for i in (1, 2, 3)
            for e in (
                F.max(F.when(F.col("rn") == i, F.col("sid"))).alias(f"s{i}"),
                F.max(F.when(F.col("rn") == i, F.col("d2"))).alias(f"dd{i}"),
                F.max(F.when(F.col("rn") == i, F.col("v"))).alias(f"v{i}"),
            )
        ]
    )
    num = (
        F.col("v1").cast("double") / F.col("dd1").cast("double")
        + F.col("v2").cast("double") / F.col("dd2").cast("double")
        + F.col("v3").cast("double") / F.col("dd3").cast("double")
    )
    den = (
        F.lit(1.0) / F.col("dd1").cast("double")
        + F.lit(1.0) / F.col("dd2").cast("double")
        + F.lit(1.0) / F.col("dd3").cast("double")
    )
    return p.select(
        F.col("qid").cast("long").alias("qid"),
        F.col("s1").cast("long").alias("s1"),
        F.col("s2").cast("long").alias("s2"),
        F.col("s3").cast("long").alias("s3"),
        F.col("dd1").cast("long").alias("dd1"),
        F.col("dd2").cast("long").alias("dd2"),
        F.col("dd3").cast("long").alias("dd3"),
        F.floor(F.lit(1e6) * (num / den)).cast("long").alias("idw_micro"),
    )


# =====================================================================
# I2. Exact pass@k — the HumanEval/Codex estimator with integer
#     combinatorics (no float expectation, no sampling)
# =====================================================================


@register(
    "ext_eval_pass_at_k",
    """
    WITH s AS (
      SELECT user_id % 499 AS task,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events GROUP BY task),
    f AS (SELECT task,
                 CASE WHEN n > 1000
                      THEN CAST(error('pass@k int64 ceiling: task bucket '
                                      || 'n > 1000') AS BIGINT)
                      ELSE n END AS n,
                 c, n - c AS m FROM s WHERE n >= 5)
    SELECT CAST(task AS BIGINT) AS task, n, c,
           CAST((((n*(n-1)*(n-2)*(n-3)*(n-4)) // 120)
                 - CASE WHEN m >= 5
                        THEN (m*(m-1)*(m-2)*(m-3)*(m-4)) // 120
                        ELSE 0 END)
                * 1000000 // ((n*(n-1)*(n-2)*(n-3)*(n-4)) // 120)
             AS BIGINT) AS pass5_micro
    FROM f ORDER BY task
    """,
)
def q_ext_eval_pass_at_k(spark, sf_dir):
    """Exact pass@k (k=5) — the unbiased HumanEval/Codex estimator
    ``1 − C(n−c, k)/C(n, k)`` per task, with the binomials computed as
    EXACT INTEGERS: the product of 5 consecutive integers is divisible
    by 120 exactly, so ``n(n−1)(n−2)(n−3)(n−4) DIV 120`` is C(n,5)
    with no factorial, no float, and no engine to disagree —
    ``pass5_micro = (C(n,5) − C(n−c,5)) · 1e6 DIV C(n,5)``.  Tasks are
    user buckets (% 499 keeps n ≈ corpus/499 so C(n,5)·1e6 stays well
    inside int64 through sf0.1; max bucket n=299 there).  The int64
    ceiling (n ≈ 1020) is ENFORCED, not just documented (ADVICE r10):
    both engines raise_error/error() on any bucket with n > 1000, so a
    larger SF fails loudly on BOTH sides instead of Spark silently
    wrapping while DuckDB raises — at that scale switch to per-row
    log-space or k=1.  Samples are the task's events, "correct" =
    value > 50
    (a pure comparison, no arithmetic).  Two map-side-combining hash
    aggregates; nothing beyond one corpus pass."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.select(
            (F.col("user_id") % 499).alias("task"),
            F.when(F.col("value") > 50, 1).otherwise(0).alias("ok"),
        )
        .groupBy("task")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ok").cast("long").alias("c"),
        )
        .filter(F.col("n") >= 5)
        .withColumn("m", F.col("n") - F.col("c"))
        # ADVICE r10: C(n,5)·1e6 overflows int64 past n ≈ 1020 — Spark
        # wraps silently while DuckDB raises, so the documented ceiling
        # is now ENFORCED symmetrically: both engines raise past it.
        .withColumn(
            "n",
            F.when(
                F.col("n") > 1000,
                F.raise_error(
                    F.lit("pass@k int64 ceiling: task bucket n > 1000")
                ).cast("long"),
            ).otherwise(F.col("n")),
        )
    )
    return s.select(
        F.col("task").cast("long").alias("task"),
        "n",
        "c",
        F.expr(
            "(((n*(n-1)*(n-2)*(n-3)*(n-4)) DIV 120)"
            " - (CASE WHEN m >= 5"
            "      THEN ((m*(m-1)*(m-2)*(m-3)*(m-4)) DIV 120)"
            "      ELSE 0 END))"
            " * 1000000 DIV ((n*(n-1)*(n-2)*(n-3)*(n-4)) DIV 120)"
        )
        .cast("long")
        .alias("pass5_micro"),
    )


# =====================================================================
# I3. Fixed-point integer KMeans — the quality-path clustering
#     machinery, driver-certified (VERDICT r9 "what's missing" #1:
#     KMeans codebooks were the one ANN stage with no oracle)
# =====================================================================


def _kmeans_exact_oracle(k=8, t=3, dim=64, scale=256, ctes_only=False):
    ctes = _kmeans_ctes(k, t, dim, scale)
    if ctes_only:
        return ctes
    return f"""
    WITH RECURSIVE {ctes}
    SELECT CAST(cid AS BIGINT) AS cid, CAST(dd.d AS BIGINT) AS dim,
           CAST(cvec[CAST(dd.d AS INT) + 1] AS BIGINT) AS c_fix
    FROM km, range(0, {dim}) dd(d) WHERE it = {t}
    ORDER BY cid, dim
    """


def _kmeans_ctes(k=8, t=3, dim=64, scale=256, src="embeddings",
                 pre_scaled=False):
    """The fixed-point-KMeans recursion over ``src`` (a table or CTE
    exposing (vec_id, embedding)) — composable: the IVF consumer runs
    it over embeddings, the PQ consumer over the subvector CTE.
    ``pre_scaled`` mirrors the engine flag: the src embedding is
    already an integer array on the ×scale grid."""
    if pre_scaled:
        quant = f"""qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS BIGINT)) AS q256
      FROM {src}),"""
    else:
        quant = f"""q AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS mx
      FROM {src}),
    ql AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5)
                                   AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS qvec
      FROM q),
    qv AS (
      SELECT vec_id,
             list_transform(qvec, x -> CAST(x AS BIGINT) * {scale}) AS q256
      FROM ql),"""
    return f"""{quant}
    r0 AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS cid
      FROM {src}),
    cent0 AS (
      SELECT r0.cid, qv.q256 AS cvec FROM r0 JOIN qv USING (vec_id)
      WHERE r0.cid < {k}),
    km AS (
      SELECT 0 AS it, cid, cvec FROM cent0
      UNION ALL
      SELECT it + 1, cid, list(newc ORDER BY dim) AS cvec
      FROM (
        SELECT it, cid, dim,
               CASE WHEN count(val) > 0
                    -- floor division spelled explicitly: (s - pmod)/n,
                    -- because component sums go negative and bare //
                    -- truncates (the CLAUDE.md round-10 rule)
                    THEN (sum(val)
                          - ((sum(val) % count(val)) + count(val))
                            % count(val))
                         // count(val)
                    ELSE any_value(cval) END AS newc
        FROM (
          SELECT p.it, p.cid, CAST(dd.d AS INT) AS dim,
                 CASE WHEN p.rn = 1
                      THEN p.q256[CAST(dd.d AS INT) + 1] END AS val,
                 p.cvec[CAST(dd.d AS INT) + 1] AS cval
          FROM (
            SELECT km.it, km.cid, km.cvec, qv.q256, qv.vec_id,
                   row_number() OVER (PARTITION BY qv.vec_id ORDER BY
                     list_sum(list_transform(list_zip(qv.q256, km.cvec),
                                             z -> (z[1]-z[2])*(z[1]-z[2]))),
                     km.cid) AS rn
            FROM km, qv
            WHERE km.it < {t}) p,
            unnest(range(0, {dim})) dd(d)
        )
        GROUP BY it, cid, dim
      )
      GROUP BY it, cid
    )"""


@register("ext_embed_kmeans_exact", _kmeans_exact_oracle())
def q_ext_embed_kmeans_exact(spark, sf_dir):
    """Lloyd's KMeans with EXACT INTEGER state, driver-certified —
    the last un-oracled ANN stage (VERDICT r9 "what's missing" #1:
    the md5 twins verify probing/encoding/ADC bit-for-bit, but the
    codebooks a real user's recall comes from were KMeans, pinned
    only by pytest recall floors).  Fixed-point Lloyd's closes it:
    int8-quantized vectors lifted to a ×256 grid, integer L2 argmin
    under the (distance, cid) total order, floor fixed-point mean
    updates, empty clusters carry — a pure function of (corpus, k,
    iters) that the DuckDB oracle replays round-for-round in a WITH
    RECURSIVE (position rows collapsed per (cluster, dim) each round —
    the BPE-oracle lesson).  k=8, 3 rounds here; the engine is
    size-adaptive (driver loop ≤100k vectors, else one narrow Arrow
    partial-sum pass per round — no explode, no corpus window; the
    same two loops the serving-grade trainer runs), and the two paths
    are pinned bit-identical in pytest.  The float KMeans quality paths (`ext_simsearch_ivf`/`_pq`)
    remain as-is; this certifies the MACHINERY their codebooks come
    from."""
    from .ext.simsearch import kmeans_fixedpoint_int

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_fixedpoint_int(emb, "vec_id", "embedding").orderBy(
        "cid", "dim"
    )


_register_changed_since_green("ext_embed_kmeans_exact")


def _ivf_kmeans_oracle(k_clusters=8, t=3, nprobe=3, topk=3):
    from .registry_ext import _COSINE_SQL

    cos_assign = _COSINE_SQL.format(a="e.embedding", b="c.ce")
    cos_probe = _COSINE_SQL.format(a="qq.embedding", b="c.ce")
    cos_rank = _COSINE_SQL.format(a="qe.embedding", b="me.embedding")
    return f"""
    WITH RECURSIVE {_kmeans_ctes(k=k_clusters, t=t)},
    cent AS (
      SELECT cid, list_transform(cvec, x -> CAST(x AS DOUBLE)) AS ce
      FROM km WHERE it = {t}),
    assign AS (
      SELECT match_id, cid FROM (
        SELECT e.vec_id AS match_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_assign} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c)
      WHERE rn = 1),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT qq.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY qq.vec_id
                 ORDER BY {cos_probe} DESC, c.cid) AS rn
        FROM embeddings qq CROSS JOIN cent c WHERE qq.vec_id < 5)
      WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.query_id, a.match_id, {cos_rank} AS cosine
      FROM probes p JOIN assign a USING (cid)
      JOIN embeddings qe ON qe.vec_id = p.query_id
      JOIN embeddings me ON me.vec_id = a.match_id
      WHERE p.query_id <> a.match_id),
    r AS (
      SELECT query_id, match_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, match_id) AS rank
      FROM scored)
    SELECT query_id, match_id, round(cosine, 3) AS cosine,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {topk} ORDER BY query_id, rank
    """


@register("ext_simsearch_ivf_kmeans", _ivf_kmeans_oracle())
def q_ext_simsearch_ivf_kmeans(spark, sf_dir):
    """IVF-flat top-3 whose coarse quantizer is the CERTIFIED
    fixed-point KMeans codebook — the QUALITY-path ANN query,
    oracle-paired end to end (until now only the deliberately
    degenerate md5-sampled codebooks were restatable; real recall
    comes from trained codebooks, and this entry hash-verifies the
    full trained-codebook flow: 3 Lloyd rounds → centroids in the
    encode kernel's closure → assignment → nprobe=3 probing → exact cosine re-rank, every
    comparison reproduced by DuckDB from the composed WITH RECURSIVE
    replay).  Same IVF machinery as `ext_simsearch_ivf_md5` via the
    shared `ivf_topk_md5` core with the injected quantizer; the float
    KMeans path (`ext_simsearch_ivf`) remains the unconstrained
    quality surface."""
    from .ext.simsearch import ivf_topk_md5, kmeans_fixedpoint_int

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fixedpoint_int(emb, "vec_id", "embedding").collect()
    by_cid: dict[int, list] = {}
    for r in cents:
        by_cid.setdefault(int(r["cid"]), [0.0] * 64)[int(r["dim"])] = float(
            r["c_fix"]
        )
    cent = local_frame(
        spark, sorted(by_cid.items()), "cid long, ce array<double>"
    )
    out = ivf_topk_md5(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        nprobe=3,
        cent=cent,
    )
    return out.withColumn("cosine", F.round("cosine", 3))


_register_changed_since_green("ext_simsearch_ivf_kmeans")


def _pq_kmeans_oracle(k_cent=8, t=3, m=8, sub=8, topk=3):
    pivots = ",\n             ".join(
        f"any_value(CASE WHEN s = {s} THEN cv END) AS cv{s}" for s in range(m)
    )
    dots = " + ".join(
        f"list_dot_product(qe.cv[({s * sub + 1}):({s * sub + sub})], x.cv{s})"
        for s in range(m)
    )
    l2 = f"""list_sum(list_transform(
               list_zip(e.cv[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})],
                        c.ce),
               p -> (p[1] - p[2]) * (p[1] - p[2])))"""
    return f"""
    WITH RECURSIVE fmx AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               AS mx
      FROM embeddings),
    fql AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5)
                                   AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS qvec
      FROM fmx),
    f256 AS (
      SELECT vec_id,
             list_transform(qvec, x -> CAST(x AS BIGINT) * 256) AS qv256
      FROM fql),
    kin AS (
      SELECT f.vec_id * {m} + rs.s AS vec_id,
             f.qv256[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})] AS embedding
      FROM f256 f CROSS JOIN range(0, {m}) rs(s)),
    {_kmeans_ctes(k=k_cent, t=t, dim=sub, src="kin", pre_scaled=True)},
    cent AS (
      SELECT cid, list_transform(cvec, x -> CAST(x AS DOUBLE)) AS ce
      FROM km WHERE it = {t}),
    cq AS (
      SELECT vec_id, list_transform(qv256, x -> CAST(x AS DOUBLE)) AS cv
      FROM f256),
    best AS (
      SELECT match_id, s, cv FROM (
        SELECT e.vec_id AS match_id, rs.s, c.ce AS cv,
               row_number() OVER (PARTITION BY e.vec_id, rs.s
                 ORDER BY {l2} ASC, c.cid ASC) AS rn
        FROM cq e CROSS JOIN cent c CROSS JOIN range(0, {m}) rs(s))
      WHERE rn = 1),
    codes AS (
      SELECT match_id,
             {pivots}
      FROM best GROUP BY match_id),
    scored AS (
      SELECT qe.vec_id AS query_id, x.match_id, {dots} AS adc
      FROM cq qe CROSS JOIN codes x
      WHERE qe.vec_id < 5 AND qe.vec_id <> x.match_id),
    r AS (
      SELECT query_id, match_id, adc,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc DESC, match_id) AS rank
      FROM scored)
    SELECT query_id, match_id, round(adc, 3) AS adc, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {topk} ORDER BY query_id, rank
    """


@register("ext_simsearch_pq_kmeans", _pq_kmeans_oracle())
def q_ext_simsearch_pq_kmeans(spark, sf_dir):
    """PQ top-3 with a TRAINED shared subspace codebook, oracle-paired
    end to end — the PQ half of the trained-codebook program
    (`ext_simsearch_ivf_kmeans` is the IVF half): the codebook is the
    certified fixed-point KMeans fit over the n·m SUBVECTOR table
    (every vector's m dim-8 slices as training points — exactly how
    shared PQ codebooks are trained), then the md5 family's shared
    encode kernel and fixed-order ADC score kernel over the codebook
    tiled to full width.  The oracle composes the KMeans
    WITH RECURSIVE replay (over the subvector CTE, dim=8) into the r9
    PQ SQL shape, so training, encoding and scoring are all
    hash-checked on one pass.  Until this round trained codebooks were
    the one driver-unverified ANN stage; both families now carry a
    certified trained path, with the float KMeans entries left as the
    unconstrained quality surfaces."""
    from .ext.simsearch import (
        kmeans_fixedpoint_int,
        pq_topk_trained,
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sub = 8
    # training set: per-FULL-vector quantized ×256 slices (one shared
    # grid — re-quantizing each slice by its own max destroys the
    # cross-subspace scale and collapses ADC recall, see
    # pq_topk_trained's docstring)
    # persist barrier BEFORE the explode: qv is a higher-order-lambda
    # chain (quantize transform → ×256 transform), and Generate
    # re-evaluates an inlined inner expression per array element (the
    # CLAUDE.md explode-over-HOF rule) — materialize it first.  The
    # registry wrapper clears the block cache at the next query.
    q256 = quantize_embeddings(emb, "vec_id", "embedding").select(
        "vec_id",
        F.transform("qvec", lambda x: x.cast("long") * 256).alias("qv"),
    ).persist()
    subvecs = q256.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("qv", s * sub + 1, sub) for s in range(8)])
        ).alias("s", "sv"),
    ).select(
        (F.col("vec_id") * 8 + F.col("s")).alias("vec_id"),
        F.col("sv").alias("embedding"),
    )
    cents = kmeans_fixedpoint_int(
        subvecs, "vec_id", "embedding", k=8, dim=sub, pre_scaled=True
    ).collect()
    by_cid: dict[int, list] = {}
    for r in cents:
        by_cid.setdefault(int(r["cid"]), [0.0] * sub)[int(r["dim"])] = float(
            r["c_fix"]
        )
    cent8 = local_frame(
        spark, sorted(by_cid.items()), "cid long, ce array<double>"
    )
    out = pq_topk_trained(
        emb,
        emb.filter(F.col("vec_id") < 5),
        cent8,
        "vec_id",
        "embedding",
        k=3,
        m=8,
    )
    return out.withColumn("adc", F.round("adc", 3))


_register_changed_since_green("ext_simsearch_pq_kmeans")


# =====================================================================
# J. Index compaction: ingest layout → serving layout → query
#    (closing the ops loop: build once + stream appends accumulate
#    epoch files; a compactor periodically rewrites them into the
#    pruned serving layout)
# =====================================================================


# =====================================================================
# K. Wind rose — the 16-sector circular histogram every station
#    climatology publishes (the last classic wind product without a
#    native computation)
# =====================================================================


@register(
    "agg_wind_rose",
    f"""
    WITH g AS (
      SELECT range % 5 AS lid, range // 5 AS h FROM range(0, {5 * 21 * 24})),
    v AS (
      SELECT lid,
             CAST('0x' || substr(md5('w_s:' || CAST(lid AS VARCHAR)
                  || ':' || CAST(h AS VARCHAR)), 1, 13) AS BIGINT) % 60 AS s,
             CAST('0x' || substr(md5('w_d:' || CAST(lid AS VARCHAR)
                  || ':' || CAST(h AS VARCHAR)), 1, 13) AS BIGINT) % 360 AS d
      FROM g),
    b AS (
      SELECT lid, s, ((4 * d + 45) % 1440) // 90 AS sector FROM v)
    SELECT CAST(lid AS BIGINT) AS location_id,
           CAST(sector AS BIGINT) AS sector,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(s) AS BIGINT) AS speed_sum,
           CAST(max(s) AS BIGINT) AS gust_max
    FROM b GROUP BY lid, sector ORDER BY location_id, sector
    """,
)
def q_agg_wind_rose(spark, sf_dir):
    """Wind rose — the 16-sector circular histogram every station
    climatology publishes (frequency + mean-speed + max per compass
    sector), over the same md5 wind grid as ``f_wind_components``.
    The circular bucketing is INTEGER-EXACT: sector 0 is centered on
    north covering [−11.25°, +11.25°), so with integer degrees the
    sector index is ``((4d + 45) mod 1440) DIV 90`` — the ×4 scaling
    turns the 11.25° half-width into whole units, no float modulo
    anywhere.  One map-side-combining hash aggregate; 80 output
    rows at any corpus size."""
    from .registry_r9 import _FL_N, _grid_hash

    g = spark.range(0, _FL_N).select(
        (F.col("id") % 5).alias("lid"),
        F.expr("id DIV 5").alias("h"),
    )
    v = g.select(
        "lid",
        (_grid_hash("w_s") % 60).alias("s"),
        (_grid_hash("w_d") % 360).alias("d"),
    )
    b = v.select(
        "lid", "s", F.expr("((4 * d + 45) % 1440) DIV 90").alias("sector")
    )
    return (
        b.groupBy("lid", "sector")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("s").cast("long").alias("speed_sum"),
            F.max("s").cast("long").alias("gust_max"),
        )
        .select(
            F.col("lid").cast("long").alias("location_id"),
            F.col("sector").cast("long").alias("sector"),
            "n_hours",
            "speed_sum",
            "gust_max",
        )
        .orderBy("location_id", "sector")
    )


def _index_query_twin_sql():
    # the round-9 inline IVF-PQ SQL verbatim (same oracle as
    # ext_simsearch_index_query): ingest-layout epochs → compaction →
    # serving must not change a single score
    from .registry_r9 import _ivfpq_md5_oracle

    return _ivfpq_md5_oracle()


def _index_compact_stages(spark, sf_dir):
    """The compaction lifecycle split into its three stages —
    ``(name, thunk)`` pairs run in order; the write stages are EAGER,
    so bench.py can time the stages individually (VERDICT r10 #8: an
    8 s multi-stage flow timed as one number hides which stage
    regressed).  Composing them verbatim IS
    ``q_ext_simsearch_index_compact``; ``state["out"]`` holds the
    served result after the last stage — a lazy frame, which bench.py
    runs inside the serve stage's timing."""
    import os
    import shutil

    from .ext.simsearch import (
        _md5_codebook,
        ivfpq_encode_codes,
        ivfpq_query_index,
    )

    _clean_stale_scratch("/tmp/wds_icmp_*")
    root = f"/tmp/wds_icmp_{_session_tag(spark, sf_dir)}"
    state: dict = {}

    def ingest_encode():
        shutil.rmtree(root, ignore_errors=True)
        emb = load_table(spark, sf_dir, "embeddings")
        state["emb"] = emb
        cent = _md5_codebook(emb, "vec_id", "embedding", 16)
        state["cent"] = local_frame(spark, cent.collect(), cent.schema)
        # ingest accumulation: two arrival epochs, append-ordered
        mid = emb.agg(F.expr("percentile_approx(vec_id, 0.5)")).first()[0]
        ingest = f"{root}/ingest"
        # the two arrival-epoch writes are independent (disjoint input
        # halves, disjoint epoch=N dirs) — overlap them (guide §2.6)
        from .io import overlap_jobs

        overlap_jobs(
            *[
                (
                    lambda i=i, part=part: ivfpq_encode_codes(
                        part, "vec_id", "embedding", cent=state["cent"]
                    )
                    .write.mode("overwrite")
                    .parquet(os.path.join(ingest, f"epoch={i}"))
                )
                for i, part in enumerate(
                    [
                        emb.filter(F.col("vec_id") <= mid),
                        emb.filter(F.col("vec_id") > mid),
                    ]
                )
            ]
        )

    def compact_rewrite():
        # compaction: epoch store → cid-partitioned serving layout;
        # codebook republish ∥ codes rewrite — disjoint outputs, no
        # shared computed input (guide §2.6)
        from .io import overlap_jobs

        from .ext.simsearch import _salted_cid_repartition

        serving = f"{root}/serving"
        overlap_jobs(
            lambda: state["cent"]
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(serving + "/codebook"),
            # repartition("cid") first — the round-12 file-fanout rule
            # (one file per list; see ivfpq_refined_compact_epochs).
            # _salted_cid_repartition adds the hot-list salt knob (env
            # WDS_LIST_SALT_ROWS, default off = identical plan).
            lambda: _salted_cid_repartition(
                spark.read.parquet(f"{root}/ingest").drop("epoch")
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(serving + "/codes"),
        )

    def serve_query():
        out = ivfpq_query_index(
            spark,
            f"{root}/serving",
            state["emb"].filter(F.col("vec_id") < 5),
            "vec_id",
            "embedding",
            k=3,
            nprobe=4,
            m=8,
        )
        state["out"] = out.withColumn("adc", F.round("adc", 3))

    return [
        ("ingest_encode", ingest_encode),
        ("compact_rewrite", compact_rewrite),
        ("serve_query", serve_query),
    ], state


@register("ext_simsearch_index_compact", _index_query_twin_sql())
def q_ext_simsearch_index_compact(spark, sf_dir):
    """Index COMPACTION, the third lifecycle verb: streaming ingest
    appends codes as arrival-ordered ``epoch=N`` partitions (the
    stream_simsearch_index layout — append-cheap, but a query cannot
    prune lists from it), so a compactor periodically rewrites the
    epoch store into the cid-partitioned serving layout and republishes
    the codebook.  This entry runs the WHOLE flow: encode the corpus
    into 2 epoch partitions (the ingest accumulation) → compact into
    the canonical index → serve top-3 from the compacted index — and
    the oracle is the round-9 inline IVF-PQ SQL VERBATIM, so
    ingest-layout detours and the rewrite cannot change a single
    score.  At 100 TB compaction is one read + one partitioned write
    of m+1 small ints per vector, amortized across every query the
    serving layout accelerates (the probed-list partition pruning
    ext_simsearch_index_query plan-asserts).  Stage bodies live in
    ``_index_compact_stages`` so bench.py can time
    ingest/compact/serve separately."""
    stages, state = _index_compact_stages(spark, sf_dir)
    for _name, fn in stages:
        fn()
    return state["out"]


_register_changed_since_green("ext_simsearch_index_compact")


# Round-10 _register_new_this_round tail (18 ids) removed at round-11
# start: all 18 debuted green in CORRECTNESS_r10 and are now carryovers.
