"""Round-8 registry additions.

Round 8 continues the consolidation posture (VERDICT r7 #8): seven
depth-focused additions — REAL session-window and sliding-window
streaming executions (completing the streaming-window family with
actual ``writeStream`` runs), streaming incremental MinHash near-dup
maintenance (ingest-time dedup with exactly-once pair emission), and
md5-restatable oracle twins finishing the approximate stack
(MinHash+LSH, IVF-flat, PQ/ADC) plus triangle counting over the
deterministic Hamming pair graph.  The other big-ticket round-8 work —
oracle upgrades of ``ext_simsearch_lsh`` / ``ext_knn_graph`` via
md5-Rademacher SRP — lives in their original registration sites
(registry_ext.py, registry_r4b.py).

Cross-engine compare rules are documented at the top of registry.py —
exact integer arithmetic, no float folds, deterministic tie-breaks,
scalar output columns only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .io import load_table, local_frame
from .registry import _register_changed_since_green, register

# (round-9's stream_session_exec / ext_graph_triangles re-cert calls
# removed at round-10 start: CORRECTNESS_r09 shows both green again.)

# (round-10's ext_simsearch_ivf_md5 re-cert call removed at round-11
# start: CORRECTNESS_r10 shows it green again.)


# =====================================================================
# A. Real session-window streaming execution (VERDICT r7 #5)
# =====================================================================


@register(
    "stream_session_exec",
    """
    WITH m AS (SELECT max(ts) AS mx FROM events),
    l AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
      FROM events
    ), g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN pts IS NULL OR ts >= pts + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM l
    ), s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    ), sess AS (
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(count(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess CROSS JOIN m
    WHERE epoch_us(session_end)
          <= (epoch_us(mx) // 1000) * 1000 - 345600000000
    """,
)
def q_stream_session_exec(spark, sf_dir):
    """A REAL Structured Streaming session-window run (the
    batch-twin-only gap VERDICT r7 #5 called out): file-source stream
    → ``session_window(ts, '30 minutes')`` per user → append mode →
    availableNow → memory sink.  Append emits a session exactly once,
    after the 4-day watermark passes its end (last event + gap), so
    the emitted set is the gap-islands sessionization MINUS the open
    trailing sessions — the oracle restates both halves (lag+cumsum
    islands; integer epoch-µs closure filter, the same ``<= mx − 4d``
    boundary the green r6 tumbling append entry pinned).  State at
    100 TB is one open session per ACTIVE user, not history."""
    from .streaming.jobs import (
        run_stream_to_memory,
        streamed_session_windows,
        streaming_events_source,
    )

    src = streaming_events_source(spark, sf_dir)
    return run_stream_to_memory(streamed_session_windows(src), "append")


def _sliding_twin_sql():
    # share the batch twin's oracle VERBATIM (the M4 pattern): complete
    # mode over all available input must equal the batch aggregate, so
    # any drift between the two entries is a bug, not a tolerance
    from . import registry_ext  # noqa: F401 — registers the twin on direct import
    from .registry import _ORACLE

    return _ORACLE["stream_window_sliding"]


@register("stream_sliding_exec", _sliding_twin_sql())
def q_stream_sliding_exec(spark, sf_dir):
    """A REAL Structured Streaming sliding-window run (1 h duration,
    15 min slide — every event lands in 4 open windows): file-source
    stream → watermarked sliding aggregate → complete mode →
    availableNow → memory.  With session (r8) and tumbling/append
    (r2/r6) this makes every streaming-window family member verified
    by an actual ``writeStream`` execution, sharing the batch twin's
    oracle verbatim."""
    from .streaming.jobs import (
        run_stream_to_memory,
        streamed_sliding_aggregate,
        streaming_events_source,
    )

    src = streaming_events_source(spark, sf_dir)
    return run_stream_to_memory(
        streamed_sliding_aggregate(src), "complete"
    )


# =====================================================================
# B. MinHash+LSH near-dup pairs, md5-derived → oracle-paired
# =====================================================================


def _minhash_md5_oracle(corpus_sql: str | None = None):
    if corpus_sql is None:
        from .registry_ext import _NEAR_DUP_CORPUS_SQL

        corpus_sql = _NEAR_DUP_CORPUS_SQL
    return f"""
    WITH {corpus_sql},
    tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM corpus),
    g AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
      FROM tok, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS r(i)),
    h AS (
      SELECT doc_id, s,
             min(CAST('0x' || substr(md5(s || ':' || gram), 1, 13)
                      AS BIGINT)) AS m
      FROM g, range(0, 16) rs(s)
      GROUP BY doc_id, s),
    sig AS (SELECT doc_id, list(m ORDER BY s) AS sig FROM h GROUP BY doc_id),
    banded AS (
      SELECT doc_id, b,
             array_to_string(sig[(b * 4 + 1):(b * 4 + 4)], ',') AS key
      FROM sig, range(0, 4) rb(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.b = b.b AND a.key = b.key
      WHERE a.doc_id < b.doc_id),
    est AS (
      SELECT c.id_a, c.id_b,
             CAST(length(list_filter(range(1, 17),
                                     i -> sa.sig[i] = sb.sig[i])) AS INT)
               AS n_equal
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b, n_equal,
           CAST(n_equal AS BIGINT) * 1000000 // 16 AS jaccard_est_micro
    FROM est
    WHERE CAST(n_equal AS BIGINT) * 1000000 // 16 >= 400000
    ORDER BY id_a, id_b
    """


@register("ext_dedup_minhash_md5", _minhash_md5_oracle())
def q_ext_dedup_minhash_md5(spark, sf_dir):
    """MinHash(16) + 4-band LSH near-dup pairs over the planted
    near-dup corpus, estimated Jaccard ≥ 0.4 — the md5-derived,
    ORACLE-PAIRED twin of ``ext_dedup_near`` (whose xxhash64 family
    DuckDB cannot restate).  With this entry every near-dup family —
    exact Jaccard, containment, spans, SimHash (r6), Hamming codes
    (r7), SRP-LSH / kNN (r8) and now MinHash+LSH — has a
    hash-verified oracle; ``ext_dedup_near`` remains the fast path
    (hash composition over int64 shingles) with this as its
    correctness anchor.  Sub-quadratic: one gram-keyed aggregation +
    one band-bucket self-join; the estimate is integer micro-units
    (no float ratio to diverge cross-engine)."""
    from .ext.dedup import minhash_lsh_pairs_md5
    from .registry_ext import _near_dup_corpus

    return minhash_lsh_pairs_md5(
        _near_dup_corpus(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        num_hashes=16,
        bands=4,
        threshold_micro=400_000,
    )


@register(
    "stream_dedup_minhash",
    _minhash_md5_oracle("corpus AS (SELECT doc_id, text FROM documents)"),
)
def q_stream_dedup_minhash(spark, sf_dir):
    """STREAMING incremental MinHash near-dup maintenance — the
    always-on ingest-time dedup a training-data pipeline runs so
    near-duplicates are caught when a document ARRIVES, not in a
    nightly corpus rescan: documents stream → foreachBatch
    (signature new docs once, band-join against stored signatures,
    append surviving pairs + new state).  Emission is exactly-once by
    construction (a pair lands in the batch where its last member
    arrives) and batching-invariant, so the DuckDB oracle — the batch
    MinHash pairs op over all documents — is exact for ANY micro-batch
    boundaries (the stream_sketch_cms posture).  Per-batch cost is
    |new| signatures + one banded join; state is 16 int64s/doc."""
    import shutil

    from .registry import _clean_stale_scratch, _session_tag
    from .streaming.jobs import minhash_ingest_batch, streaming_documents_source

    _clean_stale_scratch("/tmp/wds_smh_*")
    root = f"/tmp/wds_smh_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    state_dir, pairs_dir = f"{root}/sigs", f"{root}/pairs"
    # seed the pairs sink (as the epoch=-1 partition, matching the
    # handler's replay-idempotent per-epoch layout) so the read-back
    # never sees a missing path even if every batch yields zero pairs
    empty = local_frame(
        spark, [], "id_a long, id_b long, n_equal int, jaccard_est_micro long"
    )
    empty.write.mode("overwrite").parquet(f"{pairs_dir}/epoch=-1")
    q = (
        streaming_documents_source(spark, sf_dir)
        .writeStream.foreachBatch(minhash_ingest_batch(spark, state_dir, pairs_dir))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(pairs_dir).select(
        "id_a", "id_b", "n_equal", "jaccard_est_micro"
    )


def _eval_dedup_md5_oracle():
    from .registry_ext import _NEAR_DUP_CORPUS_SQL

    return f"""
    WITH {_NEAR_DUP_CORPUS_SQL},
    tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> x <> '') AS w
      FROM corpus),
    -- exact side: word-3-gram Jaccard >= 0.5 (ext_dedup_ngram's
    -- construction: short docs keep ONE truncated shingle)
    xidx AS (SELECT doc_id AS id, w,
                    unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i
             FROM tok),
    xsh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle
            FROM xidx),
    xcnt AS (SELECT id, count(*) AS n_sh FROM xsh GROUP BY id),
    xpairs AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM xsh a JOIN xsh b USING (shingle)
      WHERE a.id < b.id GROUP BY 1, 2),
    exact AS (
      SELECT id_a, id_b FROM xpairs
      JOIN xcnt ca ON xpairs.id_a = ca.id
      JOIN xcnt cb ON xpairs.id_b = cb.id
      WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5),
    -- approx side: the ext_dedup_minhash_md5 pipeline (short docs
    -- yield no gram and never pair)
    mg AS (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
      FROM tok, unnest(range(1, greatest(len(w) - 2, 0) + 1)) AS r(i)),
    mh AS (
      SELECT doc_id, s,
             min(CAST('0x' || substr(md5(s || ':' || gram), 1, 13)
                      AS BIGINT)) AS m
      FROM mg, range(0, 16) rs(s)
      GROUP BY doc_id, s),
    msig AS (SELECT doc_id, list(m ORDER BY s) AS sig FROM mh GROUP BY doc_id),
    mband AS (
      SELECT doc_id, b,
             array_to_string(sig[(b * 4 + 1):(b * 4 + 4)], ',') AS key
      FROM msig, range(0, 4) rb(b)),
    mcand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM mband a JOIN mband b ON a.b = b.b AND a.key = b.key
      WHERE a.doc_id < b.doc_id),
    approx AS (
      SELECT c.id_a, c.id_b
      FROM mcand c
      JOIN msig sa ON sa.doc_id = c.id_a
      JOIN msig sb ON sb.doc_id = c.id_b
      WHERE CAST(length(list_filter(range(1, 17),
                                    i -> sa.sig[i] = sb.sig[i])) AS BIGINT)
            * 1000000 // 16 >= 400000),
    hits AS (SELECT id_a, id_b FROM exact INTERSECT SELECT id_a, id_b FROM approx)
    SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT count(*) FROM approx) AS BIGINT) AS n_approx,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_both,
           CAST((SELECT count(*) FROM hits) * 1000000
                // greatest((SELECT count(*) FROM approx), 1) AS BIGINT)
             AS precision_micro,
           CAST((SELECT count(*) FROM hits) * 1000000
                // greatest((SELECT count(*) FROM exact), 1) AS BIGINT)
             AS recall_micro
    """


@register("ext_eval_dedup_md5", _eval_dedup_md5_oracle())
def q_ext_eval_dedup_md5(spark, sf_dir):
    """Precision/recall of the md5 MinHash+LSH pairs against the EXACT
    word-3-gram Jaccard pairs (threshold 0.5 exact vs 0.4 estimated) —
    the QA gate a pipeline runs before trusting its sub-quadratic
    dedup path, now HASH-VERIFIED end-to-end: unlike rows-only
    ``ext_eval_dedup`` (xxhash MinHash), both sides of this comparison
    restate in SQL, so the oracle checks the evaluator itself, not
    just that it ran.  Counts and P/R in integer micro-units."""
    from .ext.dedup import minhash_lsh_pairs_md5, ngram_jaccard_pairs
    from .registry_ext import _near_dup_corpus

    corpus = _near_dup_corpus(spark, sf_dir)
    exact = (
        ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5)
        .select("id_a", "id_b")
        .persist()
    )
    approx = (
        minhash_lsh_pairs_md5(corpus, "doc_id", "text")
        .select("id_a", "id_b")
        .persist()
    )
    try:
        both = exact.join(approx, ["id_a", "id_b"], "left_semi")
        # the exact and approx sides are INDEPENDENT pipelines up to
        # the semi-join — materialize them concurrently so the second
        # side's tasks back-fill the first's stage tails (guide §2.6;
        # io.overlap_jobs).  Counts are exact either way; only
        # wall-clock changes.
        from .io import overlap_jobs

        n_exact, n_approx = overlap_jobs(exact.count, approx.count)
        n_both = both.count()
    finally:
        exact.unpersist()
        approx.unpersist()
    rows = [
        (
            int(n_exact),
            int(n_approx),
            int(n_both),
            int(n_both * 1_000_000 // max(n_approx, 1)),
            int(n_both * 1_000_000 // max(n_exact, 1)),
        )
    ]
    return local_frame(
        spark,
        rows,
        "n_exact long, n_approx long, n_both long, "
        "precision_micro long, recall_micro long",
    )


# =====================================================================
# C. IVF-flat ANN with a hash-sampled coarse quantizer → oracle-paired
# =====================================================================


def _ivf_md5_oracle():
    from .registry_ext import _COSINE_SQL

    cos_assign = _COSINE_SQL.format(a="e.embedding", b="c.ce")
    cos_probe = _COSINE_SQL.format(a="q.embedding", b="c.ce")
    cos_rank = _COSINE_SQL.format(a="qe.embedding", b="me.embedding")
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    assign AS (
      SELECT match_id, cid FROM (
        SELECT e.vec_id AS match_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos_assign} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent c)
      WHERE rn = 1),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos_probe} DESC, c.cid) AS rn
        FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
      WHERE rn <= 4),
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
    FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """


@register("ext_simsearch_ivf_md5", _ivf_md5_oracle())
def q_ext_simsearch_ivf_md5(spark, sf_dir):
    """IVF-flat approximate top-3 with a hash-sampled coarse
    quantizer (the 16 vectors ranked first under md5(id)) — the
    ORACLE-PAIRED twin of ``ext_simsearch_ivf``, whose KMeans
    codebook has no cross-engine restatement.  Assignment, nprobe=4
    probing, and re-rank all use ONE cosine expression under
    (cos DESC, id) total orders, so DuckDB reproduces every
    comparison on the identical doubles.  The KMeans entry stays as
    the quality path; this entry hash-verifies the IVF *machinery* —
    broadcast codebook, single assignment pass, inverted-list
    candidate cut — which is what carries at 100 TB."""
    from .ext.simsearch import ivf_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk_md5(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        n_clusters=16,
        nprobe=4,
    )
    return out.withColumn("cosine", F.round("cosine", 3))


_register_changed_since_green("ext_simsearch_ivf_md5")


# =====================================================================
# C2. Product quantization with a hash-sampled codebook → oracle-paired
# =====================================================================


def _pq_md5_oracle(m=8, sub=8, n_cent=16, k=3):
    def _lo(s):
        return s * sub + 1

    def _hi(s):
        return s * sub + sub

    l2 = """list_sum(list_transform(
               list_zip(e.embedding[({lo}):({hi})], c.ce[({lo}):({hi})]),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                    * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"""
    pivots = ",\n             ".join(
        f"any_value(CASE WHEN s = {s} THEN cv END) AS cv{s}" for s in range(m)
    )
    dots = " + ".join(
        f"list_dot_product(CAST(q.embedding[({_lo(s)}):({_hi(s)})] AS DOUBLE[]),"
        f" CAST(x.cv{s} AS DOUBLE[]))"
        for s in range(m)
    )
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_cent}),
    best AS (
      SELECT match_id, s, cv FROM (
        SELECT e.vec_id AS match_id, rs.s,
               c.ce[(rs.s * {sub} + 1):(rs.s * {sub} + {sub})] AS cv,
               row_number() OVER (PARTITION BY e.vec_id, rs.s
                 ORDER BY {l2.format(lo=f"rs.s * {sub} + 1", hi=f"rs.s * {sub} + {sub}")} ASC,
                          c.cid ASC) AS rn
        FROM embeddings e CROSS JOIN cent c CROSS JOIN range(0, {m}) rs(s))
      WHERE rn = 1),
    codes AS (
      SELECT match_id,
             {pivots}
      FROM best GROUP BY match_id),
    scored AS (
      SELECT q.vec_id AS query_id, x.match_id,
             {dots} AS adc
      FROM embeddings q CROSS JOIN codes x
      WHERE q.vec_id < 5 AND q.vec_id <> x.match_id),
    r AS (
      SELECT query_id, match_id, adc,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc DESC, match_id) AS rank
      FROM scored)
    SELECT query_id, match_id, round(adc, 3) AS adc, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k} ORDER BY query_id, rank
    """


@register("ext_simsearch_pq_md5", _pq_md5_oracle())
def q_ext_simsearch_pq_md5(spark, sf_dir):
    """Product-quantization top-3 with a hash-sampled codebook (16
    md5-ranked vectors, 8 subspaces × 8 dims) — the ORACLE-PAIRED twin
    of ``ext_simsearch_pq``, completing the md5-restatement program
    across the ANN stack (LSH r8, kNN r8, IVF r8, Hamming r7, PQ
    here); the per-subspace KMeans entry stays as the quality path.
    Encoding is a min_by hash aggregate per subspace under the
    (l2, cid) total order; ADC is a FIXED-ORDER chain of subspace
    dots (a grouped float SUM would have engine-dependent
    accumulation order)."""
    from .ext.simsearch import pq_topk_md5

    emb = load_table(spark, sf_dir, "embeddings")
    out = pq_topk_md5(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        m=8,
        n_cent=16,
    )
    return out.withColumn("adc", F.round("adc", 3))


_register_changed_since_green("ext_simsearch_pq_md5")


@register(
    "obs_dataset_manifest",
    """
    WITH h AS (
      SELECT doc_id % 8 AS shard, n_chars,
             CAST('0x' || substr(md5(doc_id || ':' || text), 1, 13)
                  AS BIGINT) AS rh
      FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_sum,
           CAST(sum(CAST(rh AS HUGEINT)) AS VARCHAR) AS content_checksum
    FROM h GROUP BY shard ORDER BY shard
    """,
)
def q_obs_dataset_manifest(spark, sf_dir):
    """Dataset integrity manifest — the artifact a training pipeline
    publishes NEXT TO each shard so any later copy (cross-region
    transfer, format migration, engine swap) can be verified without
    row-by-row diffing: per shard, row count, byte-ish volume, and an
    ORDER-INDEPENDENT content checksum (sum of per-row md5-derived
    int64s — commutative, so partitioning/shuffle order cannot change
    it, and published as a digit STRING because the sum exceeds int64
    at scale — the crosscorr Σxy DECIMAL rule).  One hash aggregate,
    map-side combining; verifying a 100 TB copy costs one scan on each
    side and compares 8 numbers."""
    docs = load_table(spark, sf_dir, "documents")
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
        docs.select(
            (F.col("doc_id") % 8).cast("long").alias("shard"),
            F.col("n_chars"),
            rh.alias("rh"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars_sum"),
            F.sum(F.col("rh").cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_checksum"),
        )
        .orderBy("shard")
    )


# =====================================================================
# C3. Forecast-skill components vs naive baselines (reference domain)
# =====================================================================


def _forecast_skill_oracle():
    from .registry_r6 import _DAILY_SQL

    return f"""
    WITH {_DAILY_SQL},
    k AS (SELECT unnest([1, 7]) AS lag_k)
    SELECT t.event_type,
           CAST(k.lag_k AS INT) AS lag_k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(abs(t.cents - p.cents)) AS BIGINT) AS abs_err_sum,
           CAST(sum(t.cents - p.cents) AS BIGINT) AS err_sum,
           CAST(sum(abs(t.cents)) AS BIGINT) AS abs_actual_sum
    FROM k, d t JOIN d p
      ON p.event_type = t.event_type
     AND p.day = t.day - CAST(k.lag_k AS INT)
    GROUP BY 1, 2 ORDER BY 1, 2
    """


@register("agg_forecast_skill", _forecast_skill_oracle())
def q_agg_forecast_skill(spark, sf_dir):
    """Forecast-skill components of the two classic naive baselines
    over the daily series — persistence (lag 1 day) and seasonal-naive
    (lag 7 days): n, Σ|err|, Σerr (bias) and Σ|actual| per event type,
    all exact integer cents, so MAE / bias / WAPE and the skill ratio
    MAE_model / MAE_naive are one driver-side division away.  This is
    the evaluation harness the REFERENCE's domain lives on (a forecast
    API is only as good as its edge over persistence — the standard
    verification baseline in operational meteorology).  Lag alignment
    is an exact date join (never lag()-over-rows, which silently
    misaligns across gap days); the 2-row lag fan-out feeds one
    day-keyed equi-join, the crosscorr shuffle shape."""
    from .registry_r6 import _daily

    return forecast_skill(_daily(spark, sf_dir))


def forecast_skill(d, lag_days=(1, 7)):
    """Naive-baseline error components over a (event_type, day, cents)
    daily frame; lag alignment by exact date join (gap days pair with
    nothing — pytest-pinned)."""
    lags = F.explode(F.array(*[F.lit(k) for k in lag_days])).alias("lag_k")
    t = d.select(
        F.col("event_type").alias("et_t"),
        F.col("day").alias("day_t"),
        F.col("cents").alias("c_t"),
        lags,
    )
    p = d.select(
        F.col("event_type").alias("et_p"),
        F.col("day").alias("day_p"),
        F.col("cents").alias("c_p"),
    )
    j = t.join(
        p,
        (F.col("et_t") == F.col("et_p"))
        & (F.col("day_p") == F.expr("date_add(day_t, -lag_k)")),
    ).select(F.col("et_t").alias("event_type"), "lag_k", "c_t", "c_p")
    return (
        j.groupBy("event_type", F.col("lag_k").cast("int").alias("lag_k"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.abs(F.col("c_t") - F.col("c_p")))
            .cast("long")
            .alias("abs_err_sum"),
            F.sum(F.col("c_t") - F.col("c_p")).cast("long").alias("err_sum"),
            F.sum(F.abs("c_t")).cast("long").alias("abs_actual_sum"),
        )
        .orderBy("event_type", "lag_k")
    )


# =====================================================================
# D. Triangle counting over the deterministic Hamming near-pair graph
# =====================================================================


@register(
    "ext_graph_triangles",
    """
    WITH bits AS (
      SELECT vec_id, i - 1 AS i,
             CASE WHEN embedding[i] >= 0 THEN 1 ELSE 0 END AS b
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)),
    codes AS (
      SELECT vec_id,
             sum(CASE WHEN i >= 56 THEN b << (i - 56) ELSE 0 END) AS band,
             sum(CASE WHEN i < 56 THEN b << i ELSE 0 END) AS rest
      FROM bits GROUP BY vec_id),
    edges AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM codes a JOIN codes b
        ON a.band = b.band AND a.vec_id < b.vec_id
      WHERE bit_count(xor(CAST(a.rest AS BIGINT), CAST(b.rest AS BIGINT)))
            <= 28),
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b AS v FROM edges)
      GROUP BY v),
    o AS (
      SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS x,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS y
      FROM edges e
      JOIN deg da ON da.v = e.a
      JOIN deg db ON db.v = e.b),
    tri AS (
      SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM o e1
      JOIN o e2 ON e1.y = e2.x
      JOIN o e3 ON e3.x = e1.x AND e3.y = e2.y),
    v AS (SELECT unnest([a, b, c]) AS vec_id FROM tri)
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM v GROUP BY vec_id ORDER BY vec_id
    """,
)
def q_ext_graph_triangles(spark, sf_dir):
    """Per-node triangle counts over the Hamming near-pair graph
    (edges = ext_embed_hamming's banded pairs, a DETERMINISTIC edge
    set both engines rebuild bit-for-bit) — the local clustering
    signal that separates dense duplicate cliques from chance
    near-pairs in an embedding-dedup graph.  Enumeration is
    DEGREE-ORIENTED (node-iterator++ / compact-forward, the r8
    docstring's named 100 TB upgrade, landed r9): every edge points
    from its lower-(degree, id) endpoint to the higher, so each
    triangle is found exactly once as e1(x→y), e2(y→z), e3(x→z), and
    the wedge join's fan-out per vertex is its OUT-degree, bounded by
    O(√m) under degree ranking — a hub of degree h owns 0 wedges
    instead of h²/2 (BASELINE.md skewed-graph probe).  The per-node
    counts are orientation-invariant, so the oracle restating the
    same orientation checks the wedge join itself.  max_dist=28 (vs
    the hamming entry's 20) because the census needs a
    connected-enough graph to be non-vacuous at test SF — 56–67
    triangles vs 0 at 20 (measured); the dial works exactly like
    band_bits, recall vs candidate cost."""
    from .registry_r7 import embed_hamming_pairs

    pairs = embed_hamming_pairs(
        load_table(spark, sf_dir, "embeddings"), max_dist=28, ordered=False
    ).select(F.col("vec_id_a").alias("a"), F.col("vec_id_b").alias("b"))
    # the oriented edge list feeds all three wedge legs AND the degree
    # aggregate re-reads the pair table, so the STATIC plan prints the
    # banded-pair subplan 6× — but every repeat is physically a
    # ReusedExchange, and measured min-of-3 at sf0.1 shows the reuse
    # path (0.75 s) beats a persist barrier (1.09 s: cache
    # materialization costs more than it saves here)
    edges = degree_oriented_edges(pairs)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.y") == F.col("e2.x"))
        .join(
            e3,
            (F.col("e3.x") == F.col("e1.x")) & (F.col("e3.y") == F.col("e2.y")),
        )
        .select(
            F.col("e1.x").alias("a"),
            F.col("e1.y").alias("b"),
            F.col("e2.y").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def degree_oriented_edges(pairs):
    """Orient an undirected (a, b) pair table from the lower-(degree,
    id) endpoint to the higher — the hub-balancing step of the
    node-iterator++ triangle census.  The degree table is one hash
    aggregate over the exploded endpoints (|V| rows, broadcast onto
    the edge table twice); orientation itself is a projection."""
    deg = (
        pairs.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = F.broadcast(deg.select(F.col("v").alias("a"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("v").alias("b"), F.col("d").alias("db")))
    e = pairs.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("x"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("y"),
    )


# Round-8 _register_new_this_round tail (10 ids) removed at round-9 start
# per the CLAUDE.md rotation checklist; its members are now carryovers.
