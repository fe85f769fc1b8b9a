"""Round-9 registry additions.

Round 9 closes the VERDICT r8 punch list and extends it: the IVF-PQ
composition (probe inverted lists, then ADC only inside probed lists
— the actual 100 TB ANN architecture whose two halves r8 verified
separately) plus its residual-encoded variant and a hash-verified
recall gate; a hash-verified GK-sketch error contract (exact
rank-selected bracket around percentile_approx), both single-pass and
MERGED across micro-batch epochs; Okapi BM25 retrieval ranking
(driver-side glibc idf literals, fixed-order term chain); an
md5-restated oracle for the WAV audio features (synthesized payloads
have exactly-known integer features); manifest-based copy
verification with planted faults; and the streaming sessionization
family completed — a REAL 2-micro-batch eager replay AND the
watermark-buffered EXACT sessionizer (EventTimeTimeout) that closes
the eager variant's out-of-order caveat.

Cross-engine compare rules are documented at the top of registry.py —
exact integer arithmetic, no float folds, deterministic tie-breaks,
scalar output columns only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .io import lit_double_array, load_table, local_frame
from .registry import _register_changed_since_green, register

# (round-10's obs_manifest_diff / ext_text_bm25 re-cert calls removed
# at round-11 start: CORRECTNESS_r10 shows both green again.)

# =====================================================================
# A. IVF-PQ: probed inverted lists + ADC (VERDICT r8 #4)
# =====================================================================


def _ivfpq_md5_oracle(m=8, sub=8, n_cent=16, nprobe=4, k=3, ctes_only=False,
                      corpus_where=""):
    """``corpus_where``: optional predicate (over alias ``e``) that
    restricts the MATCHABLE corpus — the codebook and the query set
    stay the full ``embeddings`` table.  The round-11 upsert entry
    uses it to express rebuild-from-final-corpus equivalence (epoch
    supersedence + tombstones must serve exactly what a clean rebuild
    on the live rows serves).  Default "" leaves the existing
    consumers' oracle SQL unchanged (modulo whitespace)."""
    from .registry_ext import _COSINE_SQL

    cw = f"WHERE {corpus_where}" if corpus_where else ""

    cos_assign = _COSINE_SQL.format(a="e.embedding", b="c.ce")
    cos_probe = _COSINE_SQL.format(a="q.embedding", b="c.ce")
    l2 = """list_sum(list_transform(
               list_zip(e.embedding[({lo}):({hi})], c.ce[({lo}):({hi})]),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"""
    pivots = ",\n             ".join(
        f"any_value(CASE WHEN s = {s} THEN cv END) AS cv{s}" for s in range(m)
    )
    dots = " + ".join(
        f"list_dot_product(CAST(q.embedding[({s * sub + 1}):({s * sub + sub})]"
        f" AS DOUBLE[]), CAST(x.cv{s} AS DOUBLE[]))"
        for s in range(m)
    )
    ctes = f"""cent AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cent}),
    assign AS (
      SELECT match_id, cid FROM (
        SELECT e.vec_id AS match_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_assign} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c {cw})
      WHERE rn = 1),
    best AS (
      SELECT match_id, s, cv FROM (
        SELECT e.vec_id AS match_id, rs.s,
               c.ce[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})] AS cv,
               row_number() OVER (PARTITION BY e.vec_id, rs.s
                 ORDER BY {l2.format(lo=f"rs.s * {sub} + 1",
                                     hi=f"rs.s * {sub} + {sub}")} ASC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c CROSS JOIN range(0, {m}) rs(s)
        {cw})
      WHERE rn = 1),
    codes AS (
      SELECT match_id,
             {pivots}
      FROM best GROUP BY match_id),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos_probe} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
      WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.query_id, a.match_id, {dots} AS adc
      FROM probes p
      JOIN assign a USING (cid)
      JOIN codes x ON x.match_id = a.match_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE p.query_id <> a.match_id),
    r AS (
      SELECT query_id, match_id, adc,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc DESC, match_id) AS rank
      FROM scored)"""
    if ctes_only:
        return ctes
    return f"""
    WITH {ctes}
    SELECT query_id, match_id, round(adc, 3) AS adc, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k} ORDER BY query_id, rank
    """


@register("ext_simsearch_ivfpq", _ivfpq_md5_oracle())
def q_ext_simsearch_ivfpq(spark, sf_dir):
    """IVF-PQ approximate top-3 — probe nprobe=4 inverted lists, then
    ADC-score ONLY the PQ codes inside the probed lists (VERDICT r8
    #4: both halves existed, hash-green, but uncomposed; PQ-flat's
    ADC pass is linear in the corpus — BASELINE.md measured 17.1 s at
    128k vectors — while this composition scans ~nprobe/n_clusters of
    it).  Same hash-sampled md5 codebook and total orders as the r8
    twins, so DuckDB restates every comparison; one corpus pass
    produces coarse assignment AND all 8 code slices via one hash
    aggregate."""
    from .ext.simsearch import ivfpq_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk_md5(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        n_clusters=16,
        nprobe=4,
        m=8,
    )
    return out.withColumn("adc", F.round("adc", 3))


_register_changed_since_green("ext_simsearch_ivfpq")


def _ivfpq_residual_oracle(m=8, sub=8, n_cent=16, nprobe=4, k=3):
    from .registry_ext import _COSINE_SQL

    cos_assign = _COSINE_SQL.format(a="e.embedding", b="c.ce")
    cos_probe = _COSINE_SQL.format(a="q.embedding", b="c.ce")
    res_l2 = """list_sum(list_transform(
               list_zip(e.embedding[({lo}):({hi})], a.coarse[({lo}):({hi})],
                        c.ce[({lo}):({hi})]),
               p -> ((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                     - CAST(p[3] AS DOUBLE))
                    * ((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                       - CAST(p[3] AS DOUBLE))))"""
    pivots = ",\n             ".join(
        f"any_value(CASE WHEN s = {s} THEN cv END) AS cv{s}" for s in range(m)
    )
    dots = " + ".join(
        f"list_dot_product(CAST(q.embedding[({s * sub + 1}):({s * sub + sub})]"
        f" AS DOUBLE[]), CAST(x.cv{s} AS DOUBLE[]))"
        for s in range(m)
    )
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
    aco AS (
      SELECT a.match_id, a.cid, c.ce AS coarse
      FROM assign a JOIN cent c USING (cid)),
    best AS (
      SELECT match_id, s, cv FROM (
        SELECT e.vec_id AS match_id, rs.s,
               c.ce[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})] AS cv,
               row_number() OVER (PARTITION BY e.vec_id, rs.s
                 ORDER BY {res_l2.format(lo=f"rs.s * {sub} + 1",
                                         hi=f"rs.s * {sub} + {sub}")} ASC,
                          c.cid ASC) AS rn
        FROM embeddings e
        JOIN aco a ON a.match_id = e.vec_id
        CROSS JOIN cent c CROSS JOIN range(0, {m}) rs(s))
      WHERE rn = 1),
    codes AS (
      SELECT match_id,
             {pivots}
      FROM best GROUP BY match_id),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos_probe} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
      WHERE rn <= {nprobe}),
    scored AS (
      SELECT p.query_id, a.match_id,
             list_dot_product(CAST(q.embedding AS DOUBLE[]),
                              CAST(a.coarse AS DOUBLE[])) + {dots} AS adc
      FROM probes p
      JOIN aco a USING (cid)
      JOIN codes x ON x.match_id = a.match_id
      JOIN embeddings q ON q.vec_id = p.query_id
      WHERE p.query_id <> a.match_id),
    r AS (
      SELECT query_id, match_id, adc,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc DESC, match_id) AS rank
      FROM scored)
    SELECT query_id, match_id, round(adc, 3) AS adc, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k} ORDER BY query_id, rank
    """


@register("ext_simsearch_ivfpq_residual", _ivfpq_residual_oracle())
def q_ext_simsearch_ivfpq_residual(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (what production IVF-PQ indexes
    default to): PQ codes quantize x − coarse_centroid(x), so the
    shared codebook only has to cover the tight within-cell residual
    distribution, and ADC gains one fixed-order term
    dot(q, coarse) + Σ_s dot(q_s, code_s).  Same probed-list scan
    shape and total orders as ``ext_simsearch_ivfpq``; one extra
    corpus pass for the residual encode (it depends on the coarse
    choice).  Recall delta vs raw-vector codes is measured in
    BASELINE.md via the hash-verified recall gate."""
    from .ext.simsearch import ivfpq_residual_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_residual_topk_md5(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        n_clusters=16,
        nprobe=4,
        m=8,
    )
    return out.withColumn("adc", F.round("adc", 3))


_register_changed_since_green("ext_simsearch_ivfpq_residual")


def _ivfpq_recall_oracle(k=3):
    from .registry_ext import _COSINE_SQL

    cos = _COSINE_SQL.format(a="q.embedding", b="c.embedding")
    return f"""
    WITH {_ivfpq_md5_oracle(ctes_only=True)},
    appr AS (SELECT query_id, match_id FROM r WHERE rank <= {k}),
    exact AS (
      SELECT query_id, match_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS match_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos} DESC, c.vec_id) AS rank
        FROM embeddings q CROSS JOIN embeddings c
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
      WHERE rank <= {k}),
    hits AS (SELECT query_id, match_id FROM exact
             INTERSECT SELECT query_id, match_id FROM appr)
    SELECT CAST((SELECT count(DISTINCT query_id) FROM exact) AS BIGINT)
             AS n_queries,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM hits) * 1000000
                // greatest((SELECT count(*) FROM exact), 1) AS BIGINT)
             AS recall_micro
    """


@register("ext_eval_ivfpq_recall", _ivfpq_recall_oracle())
def q_ext_eval_ivfpq_recall(spark, sf_dir):
    """Recall@3 of the IVF-PQ path against exact brute-force cosine —
    the QA gate a pipeline runs before trusting a probed-quantized
    index, HASH-VERIFIED end-to-end like ``ext_eval_dedup_md5``: both
    the approximate side (probed lists + ADC) and the exact side
    (full cosine top-3) restate in SQL, so the oracle checks the
    EVALUATOR and the measured recall value itself — if a future edit
    degrades IVF-PQ recall on this corpus, the hashed recall_micro
    changes and the driver flags it.  Counts and recall in integer
    micro-units."""
    from .ext.simsearch import cosine_topk, ivfpq_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    q5 = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q5, "vec_id", "embedding", k=3).select(
        "query_id", "match_id"
    ).persist()
    appr = ivfpq_topk_md5(emb, q5, "vec_id", "embedding", k=3).select(
        "query_id", "match_id"
    ).persist()
    try:
        n_truth = exact.count()
        n_q = exact.select("query_id").distinct().count()
        n_hits = exact.join(appr, ["query_id", "match_id"], "left_semi").count()
    finally:
        exact.unpersist()
        appr.unpersist()
    rows = [
        (
            int(n_q),
            int(n_truth),
            int(n_hits),
            int(n_hits * 1_000_000 // max(n_truth, 1)),
        )
    ]
    return local_frame(
        spark, rows, "n_queries long, n_truth long, n_hits long, recall_micro long"
    )


_register_changed_since_green("ext_eval_ivfpq_recall")


# =====================================================================
# A2. GK sketch error contract, hash-verified (VERDICT r8 #7)
# =====================================================================


@register(
    "agg_quantile_bounds",
    """
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL),
    s AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn
      FROM v),
    g AS (SELECT event_type, max(rn) AS n FROM s GROUP BY event_type),
    r AS (
      SELECT event_type, n,
             (n + 1) // 2 AS r50,
             (9 * n + 9) // 10 AS r90,
             (n + 999) // 1000 + 2 AS slack
      FROM g),
    b AS (
      SELECT event_type, n,
             greatest(r50 - slack, 1) AS lo50_r,
             least(r50 + slack, n) AS hi50_r,
             greatest(r90 - slack, 1) AS lo90_r,
             least(r90 + slack, n) AS hi90_r
      FROM r)
    SELECT b.event_type, CAST(b.n AS BIGINT) AS n,
           CAST(round(l50.value * 100) AS BIGINT) AS p50_lo_cents,
           CAST(round(h50.value * 100) AS BIGINT) AS p50_hi_cents,
           CAST(round(l90.value * 100) AS BIGINT) AS p90_lo_cents,
           CAST(round(h90.value * 100) AS BIGINT) AS p90_hi_cents,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM b
    JOIN s l50 ON l50.event_type = b.event_type AND l50.rn = b.lo50_r
    JOIN s h50 ON h50.event_type = b.event_type AND h50.rn = b.hi50_r
    JOIN s l90 ON l90.event_type = b.event_type AND l90.rn = b.lo90_r
    JOIN s h90 ON h90.event_type = b.event_type AND h90.rn = b.hi90_r
    ORDER BY b.event_type
    """,
)
def q_agg_quantile_bounds(spark, sf_dir):
    """The GK sketch's ERROR CONTRACT, hash-verified (VERDICT r8 #7,
    the ext_eval_dedup_md5 posture): per group, select the EXACT
    values at ranks target ± (⌈εn⌉ + 2) under the (value) total order
    (ε = 1/accuracy = 0.001; rank selection per the repo rule — row
    at an integer rank, never interpolate, NULLs filtered first),
    publish those bounds as cents, and publish the VERDICT
    ``percentile_approx result ∈ [lower, upper]`` as a boolean the
    oracle asserts TRUE.  The sketch value itself stays unpublished
    (it is implementation-dependent); what the driver hash-checks is
    that Spark's GK implementation honors its rank-error guarantee on
    this data — if a Spark upgrade ever broke it, the boolean flips
    and the row mismatches.  The rows-only ``agg_approx_quantile``
    stays as the raw sketch surface."""
    return _quantile_bounds_frame(spark, sf_dir)


def _quantile_bounds_frame(spark, sf_dir, gk_override=None):
    """Shared body of the GK error-contract entries: exact ranked
    bounds from the batch table, GK values from ``gk_override``
    (event_type, gk50, gk90) when given — else from a batch
    percentile_approx — and the in-bounds verdicts."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc())
    ranked = ev.select("event_type", "value").withColumn(
        "rn", F.row_number().over(w)
    )
    if gk_override is not None:
        stats = ranked.groupBy("event_type").agg(
            F.max("rn").alias("n")
        ).join(gk_override, "event_type")
    else:
        pa = F.percentile_approx("value", [0.5, 0.9], 1000)
        stats = ranked.groupBy("event_type").agg(
            F.max("rn").alias("n"),
            F.element_at(pa, 1).alias("gk50"),
            F.element_at(pa, 2).alias("gk90"),
        )
    b = stats.select(
        "event_type",
        "n",
        "gk50",
        "gk90",
        F.expr("(n + 1) DIV 2").alias("r50"),
        F.expr("(9 * n + 9) DIV 10").alias("r90"),
        F.expr("(n + 999) DIV 1000 + 2").alias("slack"),
    ).select(
        "event_type",
        "n",
        "gk50",
        "gk90",
        F.greatest(F.col("r50") - F.col("slack"), F.lit(1)).alias("lo50_r"),
        F.least(F.col("r50") + F.col("slack"), F.col("n")).alias("hi50_r"),
        F.greatest(F.col("r90") - F.col("slack"), F.lit(1)).alias("lo90_r"),
        F.least(F.col("r90") + F.col("slack"), F.col("n")).alias("hi90_r"),
    )
    vals = ranked.select("event_type", "rn", "value")

    def pick(rank_col, alias):
        return F.broadcast(
            b.select("event_type", F.col(rank_col).alias("rn"))
        ).join(vals, ["event_type", "rn"]).select(
            "event_type", F.col("value").alias(alias)
        )

    out = (
        b.join(pick("lo50_r", "lo50"), "event_type")
        .join(pick("hi50_r", "hi50"), "event_type")
        .join(pick("lo90_r", "lo90"), "event_type")
        .join(pick("hi90_r", "hi90"), "event_type")
    )
    from .registry import _cents

    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        _cents("lo50").alias("p50_lo_cents"),
        _cents("hi50").alias("p50_hi_cents"),
        _cents("lo90").alias("p90_lo_cents"),
        _cents("hi90").alias("p90_hi_cents"),
        ((F.col("lo50") <= F.col("gk50")) & (F.col("gk50") <= F.col("hi50")))
        .alias("p50_ok"),
        ((F.col("lo90") <= F.col("gk90")) & (F.col("gk90") <= F.col("hi90")))
        .alias("p90_ok"),
    )


def _quantile_bounds_twin_sql():
    # share agg_quantile_bounds' oracle VERBATIM: the MERGED sketch
    # must honor the same rank-error contract as the single-pass one
    from .registry import _ORACLE

    return _ORACLE["agg_quantile_bounds"]


@register("stream_quantile_bounds", _quantile_bounds_twin_sql())
def q_stream_quantile_bounds(spark, sf_dir):
    """GK sketch MERGEABILITY, driver-certified: the same error
    contract as ``agg_quantile_bounds``, but with the percentile
    sketch built by a REAL 2-micro-batch complete-mode streaming
    aggregation (time-split files one per trigger), so epoch 1's
    partial GK state is MERGED with epoch 0's stored state rather
    than built in one pass.  Merged summaries are a different object
    than single-pass ones (Spark's QuantileSummaries.merge keeps the
    max relative error of the inputs), so the sketch VALUES may
    legitimately differ from the batch entry's — what must hold, and
    what the shared-verbatim oracle asserts, is the rank bracket.
    Mergeability is the property that lets 1000 executors sketch 100
    TB independently and combine."""
    import os
    import shutil

    from .registry import _clean_stale_scratch, _session_tag

    _clean_stale_scratch("/tmp/wds_qb2_*")
    root = f"/tmp/wds_qb2_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    cut = F.lit("2024-01-16").cast("timestamp")
    now = 1_700_000_000
    for i, part in enumerate(
        [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
    ):
        sub = os.path.join(root, f"f{i}")
        part.select("event_type", "value").coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now + i * 3600, now + i * 3600))
    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/f*")
    )
    pa = F.percentile_approx("value", [0.5, 0.9], 1000)
    agg = stream.filter(F.col("value").isNotNull()).groupBy("event_type").agg(
        F.element_at(pa, 1).alias("gk50"),
        F.element_at(pa, 2).alias("gk90"),
    )
    from .streaming.jobs import run_stream_to_memory

    gk = run_stream_to_memory(agg, output_mode="complete")
    return _quantile_bounds_frame(spark, sf_dir, gk_override=gk)


# =====================================================================
# A3. Multi-batch stateful sessionization, driver-certified
#     (VERDICT r8 #8)
# =====================================================================


def _sessionize_twin_sql():
    # share stream_sessionize_stateful's batch-twin oracle VERBATIM:
    # with a time-ordered batch split, the 2-epoch stateful replay must
    # emit exactly the single-pass closed prefix, so any drift between
    # the two entries is a bug, not a tolerance
    from . import registry_r4  # noqa: F401 — registers the twin on direct import
    from .registry import _ORACLE

    return _ORACLE["stream_sessionize_stateful"]


@register("stream_sessionize_exec2", _sessionize_twin_sql())
def q_stream_sessionize_exec2(spark, sf_dir):
    """A REAL 2-micro-batch ``applyInPandasWithState`` sessionization
    run (VERDICT r8 #8 — the one streaming-family member whose
    MULTI-batch path was pytest-only): events staged as two
    time-split files arriving one per trigger
    (``maxFilesPerTrigger=1``), per-user open-session state carried
    across the epoch boundary, append emitting each CLOSED session
    exactly once.  Because the split is time-ordered, the emitted set
    equals the single-pass gap-islands closure — the oracle is
    ``stream_sessionize_stateful``'s batch twin shared VERBATIM (the
    stream_sliding_exec pattern) — while the execution now proves the
    state carry: sessions SPANNING the boundary (open at end of epoch
    0, extended or closed in epoch 1) come out identical to the batch
    GROUP BY.  State at 100 TB is one open session per active user."""
    import os
    import shutil

    from .registry import _clean_stale_scratch, _session_tag
    from .streaming.jobs import run_stream_to_memory
    from .streaming.stateful import sessions_stateful

    _clean_stale_scratch("/tmp/wds_sess2_*")
    root = f"/tmp/wds_sess2_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    cut = F.lit("2024-01-16").cast("timestamp")
    now = 1_700_000_000
    for i, part in enumerate(
        [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
    ):
        sub = os.path.join(root, f"f{i}")
        part.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now + i * 3600, now + i * 3600))
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/f*")
    )
    out = sessions_stateful(stream, "user_id", "ts", gap_seconds=6 * 3600)
    return run_stream_to_memory(out, output_mode="append")


# =====================================================================
# A4. Okapi BM25 retrieval ranking (corpus-derived query)
# =====================================================================


def _bm25_score_sql(i: int) -> str:
    # MUST mirror ext/text.bm25_topk's per-term expression token for
    # token: idf · ((tf·2.2) / (tf + 1.2·(0.25 + 0.75·(dl/avgdl))))
    return (
        f"iw.idf{i} * ((CAST(p.tf{i} AS DOUBLE) * 2.2) / "
        f"(CAST(p.tf{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * "
        f"(CAST(d.dl AS DOUBLE) / a.avgdl))))"
    )


def _bm25_oracle(n_terms=8, skip_head=4, k=15):
    pivots = ",\n             ".join(
        f"coalesce(sum(CASE WHEN q.trank = {skip_head + 1 + i} "
        f"THEN t.tf END), 0) AS tf{i}"
        for i in range(n_terms)
    )
    idfs = ",\n             ".join(
        f"any_value(CASE WHEN trank = {skip_head + 1 + i} "
        f"THEN idf END) AS idf{i}"
        for i in range(n_terms)
    )
    chain = " + ".join(_bm25_score_sql(i) for i in range(n_terms))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    nn AS (SELECT count(*) AS n FROM documents),
    ranked AS (
      SELECT term, df,
             row_number() OVER (ORDER BY df DESC, term) AS trank
      FROM dfreq),
    q AS (
      SELECT term, df, trank,
             ln((nn.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
      FROM ranked CROSS JOIN nn
      WHERE trank > {skip_head} AND trank <= {skip_head + n_terms}),
    iw AS (SELECT {idfs} FROM q),
    a AS (SELECT CAST(sum(dl) AS DOUBLE) / any_value(nn.n) AS avgdl
          FROM dl CROSS JOIN nn),
    p AS (
      SELECT t.doc_id,
             {pivots}
      FROM tf t JOIN q USING (term) GROUP BY t.doc_id),
    sc AS (
      SELECT p.doc_id, d.dl,
             CAST(floor(1000000.0 * ({chain})) AS BIGINT) AS score_micro
      FROM p JOIN dl d USING (doc_id) CROSS JOIN iw CROSS JOIN a),
    r AS (
      SELECT doc_id, dl, score_micro,
             row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rnk
      FROM sc)
    SELECT doc_id, dl, score_micro, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= {k} ORDER BY rnk
    """


@register("ext_text_bm25", _bm25_oracle())
def q_ext_text_bm25(spark, sf_dir):
    """Okapi BM25 top-15 documents for a corpus-derived 8-term query
    (the Zipf-torso tokens ranked 5–12 by document frequency) — the
    retrieval-standard scorer (tf saturation + length normalization)
    every RAG / training-data retrieval stack runs; complements
    ext_text_tfidf the way PQ complements exact cosine.  Cross-engine
    exactness: per-term idf is computed DRIVER-SIDE in CPython and
    injected as literals (CPython and DuckDB share glibc ln —
    probe-verified bit-identical over the df domain — while the JVM's
    fdlibm may differ in the last ulp); the saturation quotient and
    the term-sum run as a FIXED-ORDER chain of pinned IEEE ops, and
    the published score is floor-micro.  One tf aggregate over the
    corpus, vocabulary-sized df table reduced to 8 rows before the
    driver reads it."""
    from .ext.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "doc_id", "text")


# =====================================================================
# A5. Manifest-based copy verification (the r8 manifest's consumer)
# =====================================================================


_MANIFEST_SQL = """
      SELECT doc_id % 8 AS shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars_sum,
             sum(CAST(CAST('0x' || substr(md5(doc_id || ':' || text), 1, 13)
                           AS BIGINT) AS HUGEINT)) AS checksum
      FROM {src} GROUP BY shard"""


@register(
    "obs_manifest_diff",
    f"""
    WITH a AS ({_MANIFEST_SQL.format(src="documents")}),
    copy AS (
      SELECT doc_id,
             CASE WHEN doc_id = 13 THEN translate(text, ' ', '_')
                  ELSE text END AS text,
             n_chars
      FROM documents WHERE doc_id <> 7),
    b AS ({_MANIFEST_SQL.format(src="copy")})
    SELECT a.shard,
           a.n_docs AS n_docs_src, b.n_docs AS n_docs_copy,
           a.n_docs = b.n_docs AS rows_match,
           a.chars_sum = b.chars_sum AS chars_match,
           a.checksum = b.checksum AS content_match
    FROM a JOIN b USING (shard) ORDER BY a.shard
    """,
)
def q_obs_manifest_diff(spark, sf_dir):
    """Manifest-based copy verification — the CONSUMER of
    ``obs_dataset_manifest`` (r8): diff the per-shard manifests of the
    source corpus and a copy, flagging per shard whether row counts,
    byte volume, and the order-independent content checksum agree.
    The 'copy' here carries two planted faults (doc 7 dropped — a lost
    row; doc 13's spaces flipped to underscores — silent corruption
    with UNCHANGED length, which only the content checksum catches:
    chars_match stays true, content_match flips), so the entry
    hash-verifies that the checksum detects exactly what it claims to
    at exactly the shards it should (shards 7%8 and 13%8).  The
    corruption transform is ``translate`` over pure-ASCII arguments —
    per-codepoint and engine-identical — NOT ``upper`` (JVM full
    Unicode case mapping vs DuckDB simple mapping can disagree on
    non-ASCII text, e.g. 'ß'→'SS' in Java only; ADVICE r9).  Verifying a 100 TB cross-region
    copy costs one scan per side and an 8-row join — never a row-level
    diff."""
    docs = load_table(spark, sf_dir, "documents")
    faulty = docs.filter(F.col("doc_id") != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 13, F.translate("text", " ", "_")
        ).otherwise(F.col("text")),
    )

    def manifest(d, suffix):
        rh = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), F.col("text")
                    ).cast("binary")
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        return (
            d.select(
                (F.col("doc_id") % 8).cast("long").alias("shard"),
                F.col("n_chars"),
                rh.alias("rh"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias(f"n_docs_{suffix}"),
                F.sum("n_chars").cast("long").alias(f"chars_{suffix}"),
                # exact wide sum INTERNALLY (int64 overflows at scale;
                # the r8 manifest's digit-string rule) — only the
                # equality boolean is published, so no Decimal column
                # ever reaches the driver
                F.sum(F.col("rh").cast("decimal(38,0)")).alias(f"sum_{suffix}"),
            )
        )

    a, b = manifest(docs, "src"), manifest(faulty, "copy")
    return (
        a.join(b, "shard")
        .select(
            "shard",
            "n_docs_src",
            "n_docs_copy",
            (F.col("n_docs_src") == F.col("n_docs_copy")).alias("rows_match"),
            (F.col("chars_src") == F.col("chars_copy")).alias("chars_match"),
            (F.col("sum_src") == F.col("sum_copy")).alias("content_match"),
        )
    )


# =====================================================================
# A6. Watermark-buffered sessionization (the eager variant's caveat,
#     closed)
# =====================================================================


@register(
    "stream_sessionize_buffered",
    """
    WITH m AS (SELECT max(ts) AS mx FROM events),
    l AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      FROM events
    ), g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN pts IS NULL OR ts > pts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM l
    ), s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), sess AS (
      SELECT user_id AS key, min(ts) AS session_start,
             max(ts) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sid
    )
    SELECT key, session_start, session_end, n_events
    FROM sess CROSS JOIN m
    WHERE epoch_us(session_end) + 1800000000
          < (epoch_us(mx) // 1000) * 1000 - 345600000000
    """,
)
def q_stream_sessionize_buffered(spark, sf_dir):
    """WATERMARK-BUFFERED stateful sessionization over a REAL 2-batch
    run — the exact variant that closes ``sessions_stateful``'s
    documented caveat (an out-of-order event in a later micro-batch
    started a spurious session; here sessions emit only once the
    watermark proves no merging event can arrive).  Events buffer in
    ``applyInPandasWithState`` state with ``EventTimeTimeout``; the
    emitted set is the gap-islands sessionization closed STRICTLY
    before the FINAL watermark — availableNow runs an extra no-data
    batch after the last file precisely so expired state flushes, so
    the horizon is floor_ms(global max ts) − 4 d (the Spark µs→ms
    floor, ADVICE r8; measured: the batch-0-only horizon undercounts
    8277 → 3477).  The oracle restates it with the gap break spelled
    ``ts > pts + 30min`` to match the buffered islanding (an event
    exactly at last+gap still merges).  The out-of-order merge itself
    is pinned by pytest with a hand-built late batch."""
    import os
    import shutil

    from .registry import _clean_stale_scratch, _session_tag
    from .streaming.jobs import run_stream_to_memory
    from .streaming.stateful import sessions_buffered

    _clean_stale_scratch("/tmp/wds_sessbuf_*")
    root = f"/tmp/wds_sessbuf_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    cut = F.lit("2024-01-16").cast("timestamp")
    now = 1_700_000_000
    for i, part in enumerate(
        [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
    ):
        sub = os.path.join(root, f"f{i}")
        part.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now + i * 3600, now + i * 3600))
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/f*")
    )
    out = sessions_buffered(
        stream, "user_id", "ts", gap_seconds=1800, watermark="4 days"
    )
    return run_stream_to_memory(out, output_mode="append")


# =====================================================================
# A7. NOAA feels-like temperature (heat index / wind chill)
# =====================================================================

_FL_N = 5 * 21 * 24  # locations × days × hours, the wx-twin shape


def _grid_hash(tag: str):
    """md5-derived int64 on the (lid, h) grid, Spark side — MUST stay
    bit-identical to ``_grid_hash_sql`` (first 13 hex digits of
    md5('<tag>:<lid>:<h>'), the repo's portable-hash convention)."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{tag}:"), F.col("lid").cast("string"),
                    F.lit(":"), F.col("h").cast("string"),
                ).cast("binary")
            ), 1, 13,
        ), 16, 10,
    ).cast("long")


def _grid_hash_sql(tag: str) -> str:
    """DuckDB restatement of ``_grid_hash`` — same bytes, same slice."""
    return (
        f"CAST('0x' || substr(md5('{tag}:' || CAST(lid AS VARCHAR)"
        " || ':' || CAST(h AS VARCHAR)), 1, 13) AS BIGINT)"
    )


def _fl_oracle():
    H = _grid_hash_sql

    hi = (
        "-42.379 + 2.04901523*t + 10.14333127*rh - 0.22475541*t*rh"
        " - 0.00683783*t*t - 0.05481717*rh*rh + 0.00122874*t*t*rh"
        " + 0.00085282*t*rh*rh - 0.00000199*t*t*rh*rh"
    )
    wc = "35.74 + 0.6215*t - 35.75*powv + 0.4275*t*powv"
    return f"""
    WITH g AS (
      SELECT range % 5 AS lid, range // 5 AS h FROM range(0, {_FL_N})),
    v AS (
      SELECT lid, h,
             CAST(40 + {H('fl_t')} % 80 AS DOUBLE) AS t,
             CAST({H('fl_rh')} % 101 AS DOUBLE) AS rh,
             CAST({H('fl_v')} % 60 AS DOUBLE) AS v
      FROM g),
    p AS (SELECT *, pow(v, 0.16) AS powv FROM v),
    f AS (
      SELECT lid, h, t, rh, v,
             CASE WHEN t >= 80 THEN {hi}
                  WHEN t <= 50 AND v > 3 THEN {wc}
                  ELSE t END AS feels
      FROM p)
    SELECT CAST(lid AS BIGINT) AS location_id, CAST(h AS BIGINT) AS h,
           CAST(t AS BIGINT) AS t_f, CAST(rh AS BIGINT) AS rh_pct,
           CAST(v AS BIGINT) AS wind_mph,
           CAST(floor(1000000.0 * feels) AS BIGINT) AS feels_micro
    FROM f
    """


@register("f_feels_like", _fl_oracle())
def q_f_feels_like(spark, sf_dir):
    """NOAA feels-like temperature — the native computation of the
    reference's ``apparent_temperature`` daily/hourly variable
    (server.py:126, 132: requested from the API, never computed):
    Rothfusz heat index for T ≥ 80 °F, wind chill for T ≤ 50 °F and
    wind > 3 mph, air temperature between.  Inputs are md5-derived
    integer-valued doubles on the wx-twin grid (5 locations × 21
    days × 24 h) so both engines build identical operands.
    Cross-engine exactness: the polynomials are fixed-order pinned
    IEEE +/−/× (probe-verified identical over the full T×RH domain);
    the one libm call, V^0.16, is avoided JVM-side entirely — V is an
    integer in [0, 60), so Spark reads it from a 60-entry
    driver-computed literal table (CPython/glibc pow, probe-matched
    to DuckDB's, the bm25 idf pattern) — and the published score is
    floor-micro."""
    mk = _grid_hash

    g = spark.range(0, _FL_N).select(
        (F.col("id") % 5).alias("lid"),
        F.expr("id DIV 5").alias("h"),  # never `/` — always float in Spark
    )
    v = g.select(
        "lid",
        "h",
        (F.lit(40) + mk("fl_t") % 80).cast("double").alias("t"),
        (mk("fl_rh") % 101).cast("double").alias("rh"),
        (mk("fl_v") % 60).cast("double").alias("v"),
    )
    # V^0.16 from a driver-computed literal table — keeps JVM libm out
    pow_table = lit_double_array(float(i) ** 0.16 for i in range(60))
    p = v.withColumn("powv", F.element_at(pow_table, F.col("v").cast("int") + 1))
    t, rh, pv = F.col("t"), F.col("rh"), F.col("powv")
    hi = (
        F.lit(-42.379)
        + F.lit(2.04901523) * t
        + F.lit(10.14333127) * rh
        - F.lit(0.22475541) * t * rh
        - F.lit(0.00683783) * t * t
        - F.lit(0.05481717) * rh * rh
        + F.lit(0.00122874) * t * t * rh
        + F.lit(0.00085282) * t * rh * rh
        - F.lit(0.00000199) * t * t * rh * rh
    )
    wc = (
        F.lit(35.74)
        + F.lit(0.6215) * t
        - F.lit(35.75) * pv
        + F.lit(0.4275) * t * pv
    )
    feels = (
        F.when(t >= 80, hi)
        .when((t <= 50) & (F.col("v") > 3), wc)
        .otherwise(t)
    )
    return p.select(
        F.col("lid").cast("long").alias("location_id"),
        F.col("h").cast("long").alias("h"),
        F.col("t").cast("long").alias("t_f"),
        F.col("rh").cast("long").alias("rh_pct"),
        F.col("v").cast("long").alias("wind_mph"),
        F.floor(F.lit(1e6) * feels).cast("long").alias("feels_micro"),
    )


def _dew_oracle():
    H = _grid_hash_sql

    gamma = "lnrh + 17.625*t/(243.04 + t)"
    return f"""
    WITH g AS (
      SELECT range % 5 AS lid, range // 5 AS h FROM range(0, {_FL_N})),
    v AS (
      SELECT lid, h,
             CAST({H('dp_t')} % 61 - 20 AS DOUBLE) AS t,
             CAST(1 + {H('dp_rh')} % 100 AS DOUBLE) AS rh
      FROM g),
    p AS (SELECT *, ln(rh/100.0) AS lnrh FROM v),
    f AS (
      SELECT lid, h, t, rh,
             (243.04*({gamma}))/(17.625 - ({gamma})) AS dew
      FROM p)
    SELECT CAST(lid AS BIGINT) AS location_id, CAST(h AS BIGINT) AS h,
           CAST(t AS BIGINT) AS t_c, CAST(rh AS BIGINT) AS rh_pct,
           CAST(floor(1000000.0 * dew) AS BIGINT) AS dew_point_micro
    FROM f
    """


@register("f_dew_point", _dew_oracle())
def q_f_dew_point(spark, sf_dir):
    """Magnus dew point — native computation of the reference's
    ``dew_point_2m`` variable (server.py:126: requested from the API,
    never computed): Td = 243.04·γ / (17.625 − γ) with
    γ = ln(RH/100) + 17.625·T/(243.04 + T), over md5-derived integer
    operands (T ∈ [−20, 40] °C, RH ∈ [1, 100] %) on the wx-twin grid.
    Same libm posture as f_feels_like: RH is one of 100 integer
    values, so ln(RH/100) comes from a driver-computed literal table
    (CPython/glibc, matching DuckDB's ln — the probe-verified bm25
    finding) and everything else is fixed-order pinned IEEE
    arithmetic; published floor-micro."""

    mk = _grid_hash

    import math

    g = spark.range(0, _FL_N).select(
        (F.col("id") % 5).alias("lid"),
        F.expr("id DIV 5").alias("h"),
    )
    v = g.select(
        "lid",
        "h",
        (mk("dp_t") % 61 - 20).cast("double").alias("t"),
        (F.lit(1) + mk("dp_rh") % 100).cast("double").alias("rh"),
    )
    ln_table = lit_double_array(math.log(r / 100.0) for r in range(1, 101))
    p = v.withColumn("lnrh", F.element_at(ln_table, F.col("rh").cast("int")))
    t = F.col("t")
    gamma = F.col("lnrh") + F.lit(17.625) * t / (F.lit(243.04) + t)
    dew = (F.lit(243.04) * gamma) / (F.lit(17.625) - gamma)
    return p.select(
        F.col("lid").cast("long").alias("location_id"),
        F.col("h").cast("long").alias("h"),
        F.col("t").cast("long").alias("t_c"),
        F.col("rh").cast("long").alias("rh_pct"),
        F.floor(F.lit(1e6) * dew).cast("long").alias("dew_point_micro"),
    )


@register(
    "agg_degree_days",
    f"""
    WITH g AS (
      SELECT range % 5 AS lid, range // 5 AS h FROM range(0, {_FL_N})),
    v AS (
      SELECT lid, h // 24 AS day,
             CAST('0x' || substr(md5('dp_t:' || CAST(lid AS VARCHAR)
                  || ':' || CAST(h AS VARCHAR)), 1, 13) AS BIGINT)
               % 61 - 20 AS t
      FROM g),
    d AS (
      SELECT lid, day, max(t) AS tmax, min(t) AS tmin FROM v
      GROUP BY lid, day)
    SELECT CAST(lid AS BIGINT) AS location_id,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(greatest(0, 36 - (tmax + tmin))) AS BIGINT)
             AS hdd_half_sum,
           CAST(sum(greatest(0, (tmax + tmin) - 36)) AS BIGINT)
             AS cdd_half_sum
    FROM d GROUP BY lid ORDER BY lid
    """,
)
def q_agg_degree_days(spark, sf_dir):
    """Heating / cooling degree days — the standard energy-weather
    aggregate of the reference's domain (degree days are THE derived
    product utilities buy weather APIs for): per day,
    Tmean = (Tmax + Tmin)/2 against an 18 °C base, summed per
    location.  Kept EXACT by working in half-degree integer units
    (HDD_half = max(0, 36 − (Tmax+Tmin)); dividing by 2 would make a
    float fold) over the same md5 °C grid as f_dew_point — the
    integer-units discipline of the cents rule.  One hash aggregate
    to days, one to locations, both map-side combining."""
    g = spark.range(0, _FL_N).select(
        (F.col("id") % 5).alias("lid"),
        F.expr("id DIV 5").alias("h"),
    )
    t = _grid_hash("dp_t") % 61 - 20
    v = g.select("lid", F.expr("h DIV 24").alias("day"), t.alias("t"))
    d = v.groupBy("lid", "day").agg(
        F.max("t").alias("tmax"), F.min("t").alias("tmin")
    )
    s = F.col("tmax") + F.col("tmin")
    return (
        d.groupBy("lid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(F.greatest(F.lit(0), F.lit(36) - s))
            .cast("long")
            .alias("hdd_half_sum"),
            F.sum(F.greatest(F.lit(0), s - F.lit(36)))
            .cast("long")
            .alias("cdd_half_sum"),
        )
        .select(
            F.col("lid").cast("long").alias("location_id"),
            "n_days",
            "hdd_half_sum",
            "cdd_half_sum",
        )
    )


def _wind_oracle():
    H = _grid_hash_sql

    return f"""
    WITH g AS (
      SELECT range % 5 AS lid, range // 5 AS h FROM range(0, {_FL_N})),
    v AS (
      SELECT lid, h,
             CAST({H('w_s')} % 60 AS DOUBLE) AS s,
             CAST({H('w_d')} % 360 AS BIGINT) AS d
      FROM g),
    f AS (
      SELECT lid, h, s, d,
             -s * sin(radians(CAST(d AS DOUBLE))) AS u,
             -s * cos(radians(CAST(d AS DOUBLE))) AS v
      FROM v)
    SELECT CAST(lid AS BIGINT) AS location_id, CAST(h AS BIGINT) AS h,
           CAST(s AS BIGINT) AS speed, d AS direction_deg,
           CAST(floor(1000000.0 * u) AS BIGINT) AS u_micro,
           CAST(floor(1000000.0 * v) AS BIGINT) AS v_micro
    FROM f
    """


@register("f_wind_components", _wind_oracle())
def q_f_wind_components(spark, sf_dir):
    """Meteorological u/v wind components from speed + direction —
    the standard decomposition ML pipelines apply to the reference's
    ``wind_speed_10m`` / ``wind_direction_10m`` variables before
    training (direction is circular; u/v are not):
    u = −s·sin(d°), v = −s·cos(d°).  Direction is an integer degree
    in [0, 360), so Spark reads sin/cos from 360-entry
    driver-computed literal tables (CPython/glibc trig, probe-matched
    to DuckDB's — the f_feels_like libm posture) while DuckDB
    computes ``sin(radians(d))`` natively; the remaining multiply is
    pinned IEEE and the published components are floor-micro."""
    import math

    mk = _grid_hash

    g = spark.range(0, _FL_N).select(
        (F.col("id") % 5).alias("lid"),
        F.expr("id DIV 5").alias("h"),
    )
    v = g.select(
        "lid",
        "h",
        (mk("w_s") % 60).cast("double").alias("s"),
        (mk("w_d") % 360).alias("d"),
    )
    sin_t = lit_double_array(math.sin(math.radians(d)) for d in range(360))
    cos_t = lit_double_array(math.cos(math.radians(d)) for d in range(360))
    p = v.withColumn(
        "sind", F.element_at(sin_t, F.col("d").cast("int") + 1)
    ).withColumn("cosd", F.element_at(cos_t, F.col("d").cast("int") + 1))
    u = -F.col("s") * F.col("sind")
    w = -F.col("s") * F.col("cosd")
    return p.select(
        F.col("lid").cast("long").alias("location_id"),
        F.col("h").cast("long").alias("h"),
        F.col("s").cast("long").alias("speed"),
        F.col("d").cast("long").alias("direction_deg"),
        F.floor(F.lit(1e6) * u).cast("long").alias("u_micro"),
        F.floor(F.lit(1e6) * w).cast("long").alias("v_micro"),
    )


def _manifest_twin_sql():
    # share obs_dataset_manifest's oracle VERBATIM: the manifest's
    # count/sum/checksum aggregates are all commutative, so a
    # streaming complete-mode maintenance over ANY batch split must
    # equal the batch manifest bit-for-bit
    from . import registry_r8  # noqa: F401 — registers the twin on direct import
    from .registry import _ORACLE

    return _ORACLE["obs_dataset_manifest"]


@register("stream_dataset_manifest", _manifest_twin_sql())
def q_stream_dataset_manifest(spark, sf_dir):
    """STREAMING incremental maintenance of the dataset integrity
    manifest — the ingest-time form of ``obs_dataset_manifest``: as
    document files arrive (2-file split, one per trigger), a
    complete-mode aggregation folds each batch's per-shard partials
    into state, so the manifest is always current WITHOUT rescanning
    the corpus.  This works precisely because every manifest column is
    COMMUTATIVE (count, Σchars, Σ md5-int64 content checksum — the
    order-independence that makes the checksum shuffle-proof also
    makes it incrementally maintainable), so the oracle is the batch
    entry's SQL shared verbatim and ANY micro-batch boundary yields
    the identical manifest.  The wide checksum folds as decimal(38,0)
    in state and publishes as the digit string (the r8 rule)."""
    import os
    import shutil

    from .registry import _clean_stale_scratch, _session_tag
    from .streaming.jobs import run_stream_to_memory

    _clean_stale_scratch("/tmp/wds_manif_*")
    root = f"/tmp/wds_manif_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    now = 1_700_000_000
    for i, part in enumerate(
        [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    ):
        sub = os.path.join(root, f"f{i}")
        part.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now + i * 3600, now + i * 3600))
    stream = (
        spark.readStream.schema("doc_id long, text string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/f*")
    )
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("text")
                ).cast("binary")
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    agg = (
        stream.select(
            (F.col("doc_id") % 8).cast("long").alias("shard"),
            F.col("n_chars"),
            rh.alias("rh"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.sum(F.col("rh").cast("decimal(38,0)"))
            .cast("decimal(38,0)")  # normalize sum's grown precision
            .cast("string")
            .alias("content_checksum"),
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


# =====================================================================
# B. WAV audio features, oracle-paired from synthesis params
#    (VERDICT r8 #6)
# =====================================================================


@register(
    "ext_multimodal_audio_exact",
    """
    WITH p AS (
      SELECT doc_id,
             200 + (doc_id % 32) * 20 AS freq,
             (1 + doc_id % 7) / 8.0 * 32767.0 AS amp
      FROM documents WHERE doc_id < 48),
    s AS (
      SELECT doc_id, t,
             CAST(round(amp * sin(2 * pi() * freq * t / 8000.0)) AS BIGINT)
               AS v
      FROM p, range(0, 1600) r(t)),
    nxt AS (
      SELECT doc_id, v,
             lead(v) OVER (PARTITION BY doc_id ORDER BY t) AS nv
      FROM s)
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(1600 AS BIGINT) AS n_samples,
           CAST(200 AS BIGINT) AS duration_ms,
           CAST(max(abs(v)) AS INT) AS peak,
           CAST(sum(v * v) AS BIGINT) AS ssq,
           CAST(count(*) FILTER (WHERE nv IS NOT NULL
                                   AND (v < 0) <> (nv < 0)) AS BIGINT)
             AS zero_crossings
    FROM nxt GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_ext_multimodal_audio_exact(spark, sf_dir):
    """The REAL WAV pipeline (synthesize PCM16 RIFF containers →
    Arrow-batched stdlib ``wave`` decode), published as EXACT INTEGER
    statistics so a DuckDB oracle restates them analytically from the
    synthesis parameters (VERDICT r8 #6, the frames/resize md5-twin
    program): sample[t] = round(amp·sin(2π·f·t/8000)) with
    f = 200 + (id%32)·20 and amp = (1 + id%7)/8·32767, so peak, Σx²
    (the RMS numerator) and the zero-crossing count are engine-neutral
    integers.  Cross-engine exactness was probe-verified sample by
    sample: DuckDB's sin() is bit-identical to CPython's libm call on
    all 76,800 samples, and the only half-integer samples (±16383.5
    at amp=16383.5, sin=±1) round identically under Python's
    half-even and DuckDB's half-away rules because 16384 is even.
    This upgrades the rows-only ``ext_multimodal_audio`` (same synth,
    same parse, float RMS) to hash-verified; the binary round-trip
    byte contract stays pinned by pytest."""
    from .ext.multimodal import audio_exact_stats, synth_wav_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 48)
    wav = synth_wav_payload(docs, "doc_id")
    return audio_exact_stats(wav, "doc_id")


# Round-9 _register_new_this_round tail (15 ids) removed at round-10 start
# per the CLAUDE.md rotation checklist — its members are now carryovers.
