"""Round-11 registry entries.

Headline: the SERVING-GRADE trained IVF-PQ demonstration (VERDICT r10
#2) — coarse k=64 + per-SUBSPACE k=256 codebooks trained with the
certified fixed-point integer KMeans, PQ-ADC candidate generation, and
an exact-int8 refine stage, hash-verified end to end including the
measured recall value.

Reference parity: the reference service (server.py) has no ANN path —
these are the large-scale training-data-pipeline extensions the build
brief mandates as first-class components.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .io import load_table, local_frame
from .registry import _register_changed_since_green, register

# Round-11 _register_changed_since_green markers deleted at round-12
# start (wx_history_daily / wx_daily_summary re-certified green in
# CORRECTNESS_r11).
from .registry_r10 import _kmeans_ctes

# =====================================================================
# A. Serving-grade trained IVF-PQ + refine (VERDICT r10 #2)
# =====================================================================

# realistic serving config (sf0.1-scale corpus): 64 coarse lists,
# per-subspace 256-entry codebooks over m=16 dim-4 slices, probe 1/4 of
# the lists, ADC-shortlist 50, exact-int8 refine to top-3
_RT = dict(k=3, n_clusters=64, ksub=256, m=16, nprobe=16, shortlist=50,
           n_iter=3, dim=64, n_queries=5)


def _ivfpq_refined_ctes(p=_RT, live_where="", src="embeddings"):
    """The full SQL replay of ``ivfpq_refine_topk`` at the serving
    config: coarse KMeans via the certified ``_kmeans_ctes`` recursion
    (registry_r10), a second recursion ``skm`` for the m per-subspace
    codebooks (same init ranking ``r0``, state keyed by subspace —
    per-element expansions collapse back to state granularity with a
    GROUP BY before re-entering, the CLAUDE.md recursive-replay rule),
    then encode / probe / ADC / shortlist / refine — every comparison
    in exact integers, the refine dequant a pinned-order IEEE multiply
    chain.

    ``live_where`` (round 12): optional predicate on ``vec_id``
    restricting the INDEXED corpus (the ``lists``/``codes`` CTEs) to
    the live rows after an upsert/delete epoch story — training stays
    full-corpus (codebooks train offline; ingest verbs never retrain)
    and the query set stays unrestricted (queries are external
    vectors).  Empty string emits the original SQL byte-for-byte.

    ``src`` (round 12, the retrain verb): the corpus CTE/table the
    WHOLE replay — training included — runs over; the retrain oracle
    passes a live-filtered CTE so codebooks, encode, and serve all
    re-derive from the post-delete corpus, exactly what a retrain
    does."""
    m, sub, t = p["m"], p["dim"] // p["m"], p["n_iter"]
    ksub, nq = p["ksub"], p["n_queries"]
    lw = f" WHERE {live_where}" if live_where else ""
    return f"""{_kmeans_ctes(k=p["n_clusters"], t=t, dim=p["dim"], src=src)},
    coarse AS (SELECT cid, cvec FROM km WHERE it = {t}),
    scales AS (
      SELECT vec_id,
             CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS scale
      FROM q),
    sv AS (
      SELECT vec_id, CAST(s AS BIGINT) AS s,
             q256[CAST(s AS INT) * {sub} + 1 :
                  (CAST(s AS INT) + 1) * {sub}] AS qs
      FROM qv, unnest(range(0, {m})) tt(s)),
    scent0 AS (
      SELECT sv.s, r0.cid, sv.qs AS cvec
      FROM r0 JOIN sv USING (vec_id) WHERE r0.cid < {ksub}),
    skm AS (
      SELECT 0 AS it, s, cid, cvec FROM scent0
      UNION ALL
      SELECT it + 1, s, cid, list(newc ORDER BY dim) AS cvec
      FROM (
        SELECT it, s, cid, dim,
               CASE WHEN count(val) > 0
                    THEN (sum(val)
                          - ((sum(val) % count(val)) + count(val))
                            % count(val))
                         // count(val)
                    ELSE any_value(cval) END AS newc
        FROM (
          SELECT pp.it, pp.s, pp.cid, CAST(dd.d AS INT) AS dim,
                 CASE WHEN pp.rn = 1
                      THEN pp.qs[CAST(dd.d AS INT) + 1] END AS val,
                 pp.cvec[CAST(dd.d AS INT) + 1] AS cval
          FROM (
            SELECT skm.it, skm.s, skm.cid, skm.cvec, sv.qs, sv.vec_id,
                   row_number() OVER (
                     PARTITION BY sv.vec_id, sv.s ORDER BY
                     list_sum(list_transform(list_zip(sv.qs, skm.cvec),
                                             z -> (z[1]-z[2])*(z[1]-z[2]))),
                     skm.cid) AS rn
            FROM skm, sv
            WHERE skm.it < {t} AND skm.s = sv.s) pp,
            unnest(range(0, {sub})) dd(d)
        )
        GROUP BY it, s, cid, dim
      )
      GROUP BY it, s, cid
    ),
    books AS (SELECT s, cid AS code, cvec AS ce FROM skm WHERE it = {t}),
    lists AS (
      SELECT vec_id AS match_id, cid FROM (
        SELECT qv.vec_id, c.cid,
               row_number() OVER (PARTITION BY qv.vec_id ORDER BY
                 list_sum(list_transform(list_zip(qv.q256, c.cvec),
                                         z -> (z[1]-z[2])*(z[1]-z[2]))),
                 c.cid) AS rn
        FROM qv, coarse c{lw}) WHERE rn = 1),
    codes AS (
      SELECT vec_id AS match_id, s, code FROM (
        SELECT sv.vec_id, sv.s, b.code,
               row_number() OVER (PARTITION BY sv.vec_id, sv.s ORDER BY
                 list_sum(list_transform(list_zip(sv.qs, b.ce),
                                         z -> (z[1]-z[2])*(z[1]-z[2]))),
                 b.code) AS rn
        FROM sv JOIN books b USING (s){lw}) WHERE rn = 1),
    qset AS (SELECT vec_id AS query_id, q256 FROM qv
             WHERE vec_id < {nq}),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT qs.query_id, c.cid,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 list_sum(list_transform(list_zip(qs.q256, c.cvec),
                                         z -> (z[1]-z[2])*(z[1]-z[2]))),
                 c.cid) AS rn
        FROM qset qs, coarse c) WHERE rn <= {p["nprobe"]}),
    lut AS (
      SELECT qs.query_id, b.s, b.code,
             list_sum(list_transform(
               list_zip(qs.q256[CAST(b.s AS INT) * {sub} + 1 :
                                (CAST(b.s AS INT) + 1) * {sub}], b.ce),
               z -> z[1] * z[2])) AS dq
      FROM qset qs, books b),
    cand AS (
      SELECT p2.query_id, l.match_id
      FROM probes p2 JOIN lists l USING (cid)
      WHERE p2.query_id <> l.match_id),
    adc AS (
      SELECT c.query_id, c.match_id, CAST(sum(dq) AS BIGINT) AS adc
      FROM cand c
      JOIN codes cd USING (match_id)
      JOIN lut ON lut.query_id = c.query_id AND lut.s = cd.s
              AND lut.code = cd.code
      GROUP BY c.query_id, c.match_id),
    short AS (
      SELECT query_id, match_id, adc FROM (
        SELECT query_id, match_id, adc,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc DESC, match_id) AS rn
        FROM adc) WHERE rn <= {p["shortlist"]}),
    refined AS (
      SELECT query_id, match_id, adc, rank, refine_micro FROM (
        SELECT sh.query_id, sh.match_id, sh.adc,
               row_number() OVER (PARTITION BY sh.query_id
                 ORDER BY CAST(list_sum(list_transform(
                            list_zip(cv.q256, qs.q256), z -> z[1]*z[2]))
                          AS DOUBLE) * sc.scale DESC, sh.match_id) AS rank,
               CAST(floor(CAST(list_sum(list_transform(
                            list_zip(cv.q256, qs.q256), z -> z[1]*z[2]))
                          AS DOUBLE) * sc.scale * sq.scale / 65536.0
                          * 1000000.0) AS BIGINT) AS refine_micro
        FROM short sh
        JOIN qv cv ON cv.vec_id = sh.match_id
        JOIN qset qs ON qs.query_id = sh.query_id
        JOIN scales sc ON sc.vec_id = sh.match_id
        JOIN scales sq ON sq.vec_id = sh.query_id)
      WHERE rank <= {p["k"]})"""


def _refined_oracle():
    return f"""
    WITH RECURSIVE {_ivfpq_refined_ctes()}
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(match_id AS BIGINT) AS match_id,
           CAST(rank AS BIGINT) AS rank, adc, refine_micro
    FROM refined ORDER BY query_id, rank
    """


def _run_refined(spark, sf_dir):
    from .ext.simsearch import ivfpq_refine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_refine_topk(
        emb,
        emb.filter(F.col("vec_id") < _RT["n_queries"]),
        "vec_id",
        "embedding",
        k=_RT["k"],
        n_clusters=_RT["n_clusters"],
        ksub=_RT["ksub"],
        m=_RT["m"],
        nprobe=_RT["nprobe"],
        shortlist=_RT["shortlist"],
        n_iter=_RT["n_iter"],
        dim=_RT["dim"],
    )


@register("ext_simsearch_ivfpq_refined", _refined_oracle())
def q_ext_simsearch_ivfpq_refined(spark, sf_dir):
    """Serving-grade trained IVF-PQ + exact-int8 refine at the
    REALISTIC config (VERDICT r10 #2): coarse k=64, per-SUBSPACE
    k=256 PQ codebooks (m=16 dim-4 slices), nprobe=16, ADC shortlist
    50, refine to top-3 — ``ext/simsearch.ivfpq_refine_topk``.  The
    oracle replays training (two WITH RECURSIVE KMeans folds),
    encoding, probing, the integer ADC, and the refine dequant chain
    bit-for-bit, so codebook quality, candidate generation and final
    ranking are all hash-pinned.  The degenerate-size r10 twins
    certified the machinery; this entry certifies the configuration a
    service would actually run."""
    return _run_refined(spark, sf_dir)


def _recall_trained_oracle():
    from .registry_ext import _COSINE_SQL

    cos = _COSINE_SQL.format(a="eq.embedding", b="ec.embedding")
    return f"""
    WITH RECURSIVE {_ivfpq_refined_ctes()},
    appr AS (SELECT query_id, match_id FROM refined),
    exact AS (
      SELECT query_id, match_id FROM (
        SELECT eq.vec_id AS query_id, ec.vec_id AS match_id,
               row_number() OVER (PARTITION BY eq.vec_id
                 ORDER BY {cos} DESC, ec.vec_id) AS rank
        FROM embeddings eq CROSS JOIN embeddings ec
        WHERE eq.vec_id < {_RT["n_queries"]} AND eq.vec_id <> ec.vec_id)
      WHERE rank <= {_RT["k"]}),
    hits AS (
      -- not INTERSECT: DuckDB rejects set-op CTE bodies other than
      -- UNION inside a WITH RECURSIVE list; both sides are already
      -- distinct (rank-limited), so an equi-join is the semi join
      SELECT e.query_id, e.match_id
      FROM exact e JOIN appr a
        ON a.query_id = e.query_id AND a.match_id = e.match_id)
    SELECT CAST((SELECT count(DISTINCT query_id) FROM exact) AS BIGINT)
             AS n_queries,
           CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM hits) * 1000000
                // greatest((SELECT count(*) FROM exact), 1) AS BIGINT)
             AS recall_micro
    """


@register("ext_eval_ivfpq_recall_trained", _recall_trained_oracle())
def q_ext_eval_ivfpq_recall_trained(spark, sf_dir):
    """Recall@3 of the serving-grade trained IVF-PQ+refine path
    against exact brute-force cosine — the realistic-config companion
    of ``ext_eval_ivfpq_recall`` (r9, md5-codebook twin).  Both sides
    restate in SQL, so the MEASURED recall value itself is
    hash-pinned: if a future edit degrades trained-codebook recall,
    the hashed ``recall_micro`` changes and the driver flags it.
    BASELINE.md round-11 probe records the recall-vs-config curve
    (m, nprobe, shortlist sweeps) measured through this engine path
    at sf0.1.  The approximate side serves from the PERSISTED trained
    index (built lazily if absent) — the production shape, and
    score-identical to the inline twin by the lifecycle-split
    discipline, so the oracle replay is unchanged."""
    from .ext.simsearch import cosine_topk, ivfpq_refined_query_index

    emb = load_table(spark, sf_dir, "embeddings")
    q5 = emb.filter(F.col("vec_id") < _RT["n_queries"])
    # both result sets are control-plane (Q·k ≤ n_queries·k rows at ANY
    # corpus size — config constants, never corpus-sized), so the three
    # counting jobs + persist of the old tail collapse into one collect
    # per side, run CONCURRENTLY (guide §2.6): the exact brute-force
    # ranking and the served index path share no computed input.
    # Counts are exact set arithmetic over the same unique (q, m)
    # pairs the semi-join counted — identical integers.
    index_path = _ensure_refined_index(spark, sf_dir)

    def _exact_pairs():
        return [
            (r["query_id"], r["match_id"])
            for r in cosine_topk(emb, q5, "vec_id", "embedding", k=_RT["k"])
            .select("query_id", "match_id")
            .collect()
        ]

    def _appr_pairs():
        return {
            (r["query_id"], r["match_id"])
            for r in ivfpq_refined_query_index(
                spark,
                index_path,
                q5,
                "vec_id",
                "embedding",
                k=_RT["k"],
                nprobe=_RT["nprobe"],
                shortlist=_RT["shortlist"],
                m=_RT["m"],
                dim=_RT["dim"],
            )
            .select("query_id", "match_id")
            .collect()
        }

    from .io import overlap_jobs

    ex_pairs, ap_set = overlap_jobs(_exact_pairs, _appr_pairs)
    n_truth = len(ex_pairs)
    n_q = len({q for q, _ in ex_pairs})
    n_hits = sum(1 for p in ex_pairs if p in ap_set)
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


# =====================================================================
# B. IVF-PQ index UPSERT + DELETE — the missing lifecycle verb
#    (VERDICT r10 #4): epoch supersedence + tombstones
# =====================================================================


def _index_upsert_oracle():
    # rebuild-from-final-corpus equivalence (the stream_dedup_minhash
    # replay-idempotence discipline): after upserts re-encode the
    # changed ids and tombstones delete others, the served top-k must
    # equal a CLEAN rebuild over exactly the live rows — the round-9
    # inline IVF-PQ SQL with the corpus restricted to them.  The
    # codebook stays the full-corpus one (codebooks train offline;
    # ingest verbs never retrain).
    from .registry_r9 import _ivfpq_md5_oracle

    return _ivfpq_md5_oracle(corpus_where="NOT (e.vec_id % 11 = 3)")


def _index_upsert_stages(spark, sf_dir):
    """``q_ext_simsearch_index_upsert`` split into its five timed
    stages for bench.py (VERDICT r11 #3 — the ``_refined_build_stages``
    discipline): ``(name, thunk)`` pairs run in order; composing them
    verbatim IS the registry entry, and bench.py times each stage
    separately so a regression in one verb (a slow epoch write, a
    supersedence-aggregate blowup, a compaction write amplification)
    is attributable instead of drowned in the whole-flow number."""
    import os
    import shutil

    from .ext.simsearch import (
        _md5_codebook,
        ivfpq_encode_codes,
        ivfpq_query_index,
    )
    from .registry import _clean_stale_scratch, _session_tag

    _clean_stale_scratch("/tmp/wds_iups_*")
    root = f"/tmp/wds_iups_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    m = 8
    ingest = f"{root}/ingest"
    serving = f"{root}/serving"
    state: dict = {"root": root, "serving": serving}
    changed = F.col("vec_id") % 7 == 0

    def _emb():
        return load_table(spark, sf_dir, "embeddings")

    def _cb():
        # codebook fixed ONCE from the true corpus (codebooks train
        # offline; ingest verbs never retrain), collected static so
        # every epoch encodes against the identical control plane
        if "cent" not in state:
            cent = _md5_codebook(_emb(), "vec_id", "embedding", 16)
            # Arrow local frame (io.local_frame): this codebook is
            # broadcast into 3 encode passes AND parquet-written by the
            # compact stage — the pickled-rows path cost ~5 s per
            # write/broadcast execution (r14 measurement)
            state["cent"] = local_frame(spark, cent.collect(), cent.schema)
        return state["cent"]

    # the composed registry entry primes the codebook once, then
    # overlaps the three independent epoch writes (io.overlap_jobs)
    state["cb_fn"] = _cb

    def ingest_stage():
        # epoch 0: full initial ingest, changed ids encoded STALE
        # (reversed embedding — a deterministic corruption the upsert
        # must fully shadow)
        stale0 = _emb().withColumn(
            "embedding",
            F.when(changed, F.reverse("embedding")).otherwise(
                F.col("embedding")
            ),
        )
        ivfpq_encode_codes(
            stale0, "vec_id", "embedding", cent=_cb(), m=m
        ).withColumn("alive", F.lit(1)).write.mode("overwrite").parquet(
            os.path.join(ingest, "epoch=0")
        )

    def upsert_stage():
        # epoch 1: changed ids re-encoded from their true vectors
        ivfpq_encode_codes(
            _emb().filter(changed), "vec_id", "embedding",
            cent=_cb(), m=m,
        ).withColumn("alive", F.lit(1)).write.mode("overwrite").parquet(
            os.path.join(ingest, "epoch=1")
        )

    def tombstone_stage():
        # epoch 2: tombstone records (alive = 0) for every
        # vec_id % 11 = 3 — no vector, no codes
        _emb().filter(F.col("vec_id") % 11 == 3).select(
            F.col("vec_id").alias("match_id"),
            F.lit(-1).cast("long").alias("cid"),
            *[F.lit(-1).cast("long").alias(f"c{s}") for s in range(m)],
            F.lit(0).alias("alive"),
        ).write.mode("overwrite").parquet(os.path.join(ingest, "epoch=2"))

    def compact_stage():
        # supersede-at-read (latest epoch wins per vec_id, one
        # max_by(struct, epoch) hash aggregate; dead ids drop), then
        # rewrite the live view into the cid-partitioned serving
        # layout (shadowed + dead codes gone from disk)
        payload = F.struct("cid", *[f"c{s}" for s in range(m)], "alive")
        live = (
            spark.read.parquet(ingest)
            .groupBy("match_id")
            .agg(F.max_by(payload, F.col("epoch")).alias("st"))
            .select("match_id", "st.*")
            .filter(F.col("alive") == 1)
            .drop("alive")
        )
        # the codebook republish and the codes rewrite touch disjoint
        # output dirs and share no computed input (the codebook is a
        # local Arrow frame) — overlap them (guide §2.6)
        from .io import overlap_jobs
        from .ext.simsearch import _salted_cid_repartition

        overlap_jobs(
            lambda: _cb()
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(serving + "/codebook"),
            # repartition("cid") first — the round-12 file-fanout rule
            # (one file per list; see ivfpq_refined_compact_epochs).
            # _salted_cid_repartition adds the hot-list salt knob (env
            # WDS_LIST_SALT_ROWS, default off = identical plan).
            lambda: _salted_cid_repartition(live)
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(serving + "/codes"),
        )

    def serve_stage():
        out = ivfpq_query_index(
            spark,
            serving,
            _emb().filter(F.col("vec_id") < 5),
            "vec_id",
            "embedding",
            k=3,
            nprobe=4,
            m=m,
        )
        state["out"] = out.withColumn("adc", F.round("adc", 3))

    return [
        ("ingest", ingest_stage),
        ("upsert", upsert_stage),
        ("tombstone", tombstone_stage),
        ("compact", compact_stage),
        ("serve", serve_stage),
    ], state


@register("ext_simsearch_index_upsert", _index_upsert_oracle())
def q_ext_simsearch_index_upsert(spark, sf_dir):
    """Index UPSERT + DELETE, the fourth lifecycle verb (build /
    query / compact exist since r10): real indexes re-ingest changed
    ids and drop deleted ones.  Epoch supersedence does both without
    touching old files — this entry composes the five
    ``_index_upsert_stages`` verbatim (bench.py times each stage
    separately — VERDICT r11 #3):

    - epoch 0 (``ingest``): initial ingest where every ``vec_id % 7 =
      0`` row was encoded from a STALE vector (its reversed embedding
      — a deterministic corruption the upsert must fully shadow);
    - epoch 1 (``upsert``): those ids re-encoded from true vectors;
    - epoch 2 (``tombstone``): ``alive = 0`` records for every
      ``vec_id % 11 = 3``;
    - ``compact``: latest epoch wins per vec_id (one ``max_by(struct,
      epoch)`` hash aggregate over the epoch store), tombstoned ids
      drop out, and the live view rewrites into the cid-partitioned
      serving layout (shadowed + dead codes gone from disk);
    - ``serve``: top-3 from the compacted index.

    The oracle is a clean rebuild over exactly the live rows, so a
    stale code leaking through (supersedence bug) or a deleted id
    surfacing (tombstone bug) changes a score and fails the hash.  At
    100 TB: upserts append m+1 small ints per changed vector, deletes
    append one tombstone row, and the read-side aggregate touches only
    code rows — never the vectors; compaction amortizes it away.

    r14 (guide §2.6): the three epoch writes are INDEPENDENT Spark
    actions (distinct ``epoch=N`` directories, all encoding against
    the one pre-collected codebook), so the composed entry overlaps
    them from a driver thread pool; compact (which reads all three)
    and serve stay behind the barrier.  Every job is byte-identical to
    its sequential run — the overlap moves wall-clock only.  bench.py
    still times the stages one-by-one, so per-verb attribution is
    unchanged."""
    from .io import overlap_jobs

    stages, state = _index_upsert_stages(spark, sf_dir)
    by_name = dict(stages)
    state["cb_fn"]()  # collect the codebook once, outside the race
    overlap_jobs(
        by_name["ingest"], by_name["upsert"], by_name["tombstone"]
    )
    by_name["compact"]()
    by_name["serve"]()
    return state["out"]


_register_changed_since_green("ext_simsearch_index_upsert")


# =====================================================================
# C. Exact text redundancy — the hash-verified twin that closes the
#    rows-only set (VERDICT r10 #5): ext_text_compression's zlib bytes
#    stay engine-opaque, but the redundancy they proxy is exact
# =====================================================================

# the planted corpus: m3=0 docs self-duplicate wholesale, m3=1 docs
# append an 8-token prefix twice, m3=2 stay as-is — both engines build
# the same strings, so every redundancy integer is deterministic
_RED_TOK_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '')"
)
_RED_CORPUS_SQL = f"""corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text
                  WHEN doc_id % 3 = 1
                  THEN text || ' '
                       || array_to_string(({_RED_TOK_SQL})[1:8], ' ')
                       || ' '
                       || array_to_string(({_RED_TOK_SQL})[1:8], ' ')
                  ELSE text END AS text
      FROM documents)"""


def _redundant_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"[ \t\n\r\f\x0B]+"), lambda t: t != ""
    )
    p8 = F.array_join(F.slice(toks, 1, 8), " ")
    m3 = F.col("doc_id") % 3
    return docs.select(
        "doc_id",
        F.when(m3 == 0, F.concat_ws(" ", "text", "text"))
        .when(m3 == 1, F.concat_ws(" ", F.col("text"), p8, p8))
        .otherwise(F.col("text"))
        .alias("text"),
    )


@register(
    "ext_text_redundancy_exact",
    f"""
    WITH {_RED_CORPUS_SQL},
    tok AS (SELECT doc_id, {_RED_TOK_SQL} AS w FROM corpus),
    g AS (SELECT doc_id, i - 1 AS p, array_to_string(w[i:i+3], ' ') AS gram
          FROM tok, unnest(range(1, greatest(len(w) - 3, 0) + 1)) AS u(i)),
    gs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct
           FROM g GROUP BY doc_id),
    hot AS (SELECT doc_id, gram FROM g
            GROUP BY doc_id, gram HAVING count(*) > 1),
    m AS (SELECT g.doc_id, g.p
          FROM g JOIN hot ON hot.doc_id = g.doc_id AND hot.gram = g.gram),
    b AS (SELECT doc_id, p,
                 CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
                           <= 4
                      THEN 0 ELSE 1 END AS brk
          FROM m),
    s AS (SELECT doc_id, p,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS isl
          FROM b),
    sp AS (SELECT doc_id, isl, max(p) - min(p) + 4 AS len
           FROM s GROUP BY doc_id, isl),
    pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans,
                  CAST(sum(len) AS BIGINT) AS dup_tokens
           FROM sp GROUP BY doc_id)
    SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
           CAST(coalesce(gs.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(gs.n_distinct, 0) AS BIGINT) AS n_distinct_grams,
           CAST(coalesce(gs.n_grams, 0) - coalesce(gs.n_distinct, 0)
             AS BIGINT) AS dup_gram_mass,
           CAST((coalesce(gs.n_grams, 0) - coalesce(gs.n_distinct, 0))
                * 1000000 // greatest(coalesce(gs.n_grams, 0), 1)
             AS BIGINT) AS redundancy_micro,
           CAST(coalesce(pd.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(pd.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(coalesce(pd.dup_tokens, 0) * 1000000
                // greatest(len(t.w), 1) AS BIGINT) AS dup_frac_micro
    FROM tok t
    LEFT JOIN gs ON gs.doc_id = t.doc_id
    LEFT JOIN pd ON pd.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
)
def q_ext_text_redundancy_exact(spark, sf_dir):
    """Exact within-document redundancy, hash-verified — the twin that
    closes the rows-only set (VERDICT r10 #5): ``ext_text_compression``
    publishes zlib bytes (inherently engine-opaque, pytest-pinned);
    THIS entry publishes the signal those bytes proxy — repeated
    4-gram mass and coalesced duplicated spans per document, in exact
    integer micro-units — over a corpus with PLANTED redundancy
    (wholesale self-duplication for doc_id%3=0, a doubled 8-token
    prefix for %3=1, untouched otherwise), so the verdict integers are
    structurally meaningful, not all-zero.  Engine:
    ``ext/text.text_redundancy_exact`` (int64 hash-composed gram keys,
    persist barriers, per-doc hot-gram counts + gap-islands — the
    ``duplicate_spans`` discipline scoped within the document)."""
    from .ext.text import text_redundancy_exact

    return text_redundancy_exact(
        _redundant_corpus(spark, sf_dir), "doc_id", "text", k=4
    )


# =====================================================================
# D. The weather-path END-TO-END pipeline (VERDICT r10 #7): the
#    reference's flagship user journey as ONE Catalyst plan
# =====================================================================

_WX_E2E_HIST_COLS = """relative_humidity_2m, dew_point_2m,
       apparent_temperature, precipitation, rain, snowfall, snow_depth,
       weather_code, pressure_msl, cloud_cover, shortwave_radiation,
       direct_radiation, diffuse_radiation, uv_index"""


def _wx_pipeline_oracle():
    from .registry_ext import wx_twin_sql

    return f"""
    WITH wx AS ({wx_twin_sql("duckdb")}),
    fc AS (
      SELECT * FROM wx
      WHERE location_id = 0
        AND ts >= TIMESTAMP '2024-01-12 00:00:00'
        AND ts <  TIMESTAMP '2024-01-22 00:00:00'),
    hist AS (
      -- the "archive fetch": observed temperature supersedes the model
      SELECT location_id, ts,
             temperature_2m + 1.0 AS temperature_2m, {_WX_E2E_HIST_COLS}
      FROM wx
      WHERE location_id = 0
        AND ts >= TIMESTAMP '2024-01-12 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'),
    merged AS (
      SELECT location_id, ts, temperature_2m, {_WX_E2E_HIST_COLS} FROM (
        SELECT *, row_number() OVER (PARTITION BY location_id, ts
                                     ORDER BY prio) AS rn
        FROM (SELECT location_id, ts, temperature_2m, {_WX_E2E_HIST_COLS},
                     0 AS prio FROM hist
              UNION ALL
              SELECT location_id, ts, temperature_2m, {_WX_E2E_HIST_COLS},
                     1 AS prio FROM fc))
      WHERE rn = 1),
    d AS (
      SELECT location_id, date_trunc('day', ts) AS day,
             max(temperature_2m) AS temperature_2m_max,
             min(temperature_2m) AS temperature_2m_min,
             max(apparent_temperature) AS apparent_temperature_max,
             min(apparent_temperature) AS apparent_temperature_min,
             CAST(sum(CASE WHEN direct_radiation > 120 THEN 3600 ELSE 0 END)
                  AS DOUBLE) AS sunshine_duration,
             sum(precipitation) AS precipitation_sum,
             sum(rain) AS rain_sum,
             sum(snowfall) AS snowfall_sum,
             CAST(sum(CASE WHEN precipitation > 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS precipitation_hours,
             max(uv_index) AS uv_index_max
      FROM merged GROUP BY 1, 2
    ),
    m AS (
      SELECT location_id, day, weather_code FROM (
        SELECT location_id, date_trunc('day', ts) AS day, weather_code,
               row_number() OVER (
                 PARTITION BY location_id, date_trunc('day', ts)
                 ORDER BY count(*) DESC, weather_code ASC) AS rn
        FROM merged GROUP BY location_id, date_trunc('day', ts),
                             weather_code
      ) WHERE rn = 1
    )
    SELECT d.location_id, CAST(d.day AS TIMESTAMP) AS day,
           d.temperature_2m_max, d.temperature_2m_min,
           d.apparent_temperature_max, d.apparent_temperature_min,
           d.sunshine_duration, d.precipitation_sum, d.rain_sum,
           d.snowfall_sum, d.precipitation_hours, d.uv_index_max,
           m.weather_code
    FROM d JOIN m ON d.location_id = m.location_id AND d.day = m.day
    ORDER BY d.day
    """


@register("wx_pipeline_e2e", _wx_pipeline_oracle())
def q_wx_pipeline_e2e(spark, sf_dir):
    """The reference's FLAGSHIP user journey composed as ONE Catalyst
    plan (VERDICT r10 #7 — the curation side has ext_pipeline_e2e; the
    weather side did not): ``get_forecast`` (Prague, 3 past + 7
    forecast days around the fixture now — server.py:142-280) ∪
    ``get_history`` over the past window with an observed-temperature
    correction (server.py:284-369; +1.0 marks the archive rows) merged
    by ``union_prefer`` (observation beats forecast per (location,
    ts) — server.py:304 "might use more recent models"), then the
    standard daily product (max/min/sums/WMO sunshine/precip hours/
    mode weather_code) sorted by day — all lazy, one plan, over the
    engine-portable weather twin so DuckDB restates every stage.
    Shuffle shape: one window exchange for the keep-preferred merge,
    the daily hash aggregate, and the two-level mode — budget pinned
    in tests/test_plans.py."""
    from .api import get_forecast, get_history
    from .api.wrappers import _materialize
    from .registry_ext import wx_twin_sql
    from .operators.setops import union_prefer
    from .session import configure

    configure(spark)  # hostile-tz pin (the wx_forecast_hourly rule)
    twin = spark.sql(wx_twin_sql("spark"))
    obs = twin.withColumn(
        "temperature_2m", F.col("temperature_2m") + F.lit(1.0)
    )
    fc = get_forecast(
        spark, place="Prague, CZ", past_days=3, forecast_days=7,
        weather=twin, sort=False,
    )
    hist = get_history(
        spark, "2024-01-12", "2024-01-14", place="Prague, CZ",
        granularity=60, weather=obs, sort=False,
    )
    merged = union_prefer(hist, fc, ["location_id", "ts"])
    return _materialize(merged, 1440, None, 0)


# ---------------------------------------------------------------------
# =====================================================================
# D2. Trained-index lifecycle at the serving config: build once /
#     serve many with partition-pruned ADC AND refine scans
# =====================================================================


def _refined_index_path(spark, sf_dir: str) -> str:
    from .registry import _clean_stale_scratch, _session_tag

    _clean_stale_scratch("/tmp/wds_ridx_*")
    return f"/tmp/wds_ridx_{_session_tag(spark, sf_dir)}"


def _refined_build_stages(spark, sf_dir):
    """The trained-index BUILD split into its timed stages for
    bench.py (the ``_index_compact_stages`` discipline): builds into a
    throwaway scratch root (fresh every call — stage timings must
    include the real writes, not an ensure-skip), at the same serving
    config as the registry entry."""
    import shutil

    from .ext.simsearch import ivfpq_refined_build_stages
    from .registry import _clean_stale_scratch, _session_tag

    _clean_stale_scratch("/tmp/wds_rbld_*")
    root = f"/tmp/wds_rbld_{_session_tag(spark, sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    emb = load_table(spark, sf_dir, "embeddings")
    stages, state = ivfpq_refined_build_stages(
        emb, root, "vec_id", "embedding",
        n_clusters=_RT["n_clusters"], ksub=_RT["ksub"], m=_RT["m"],
        n_iter=_RT["n_iter"], dim=_RT["dim"],
    )
    return stages, state


def _ensure_refined_index(spark, sf_dir: str) -> str:
    """Build the trained serving index if absent (driver order
    independence — the serve entry must not depend on the build entry
    having run first in the same session)."""
    import os

    from .ext.simsearch import ivfpq_refined_build_index

    path = _refined_index_path(spark, sf_dir)
    if not os.path.exists(os.path.join(path, "vectors")):
        emb = load_table(spark, sf_dir, "embeddings")
        ivfpq_refined_build_index(
            emb, path, "vec_id", "embedding",
            n_clusters=_RT["n_clusters"], ksub=_RT["ksub"], m=_RT["m"],
            n_iter=_RT["n_iter"], dim=_RT["dim"],
        )
    return path


def _refined_manifest_oracle():
    return f"""
    WITH RECURSIVE {_ivfpq_refined_ctes()}
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(count(*) AS BIGINT) AS n_codes,
           CAST(count(*) * {_RT["m"]} AS BIGINT) AS n_code_rows
    FROM lists GROUP BY cid ORDER BY cid
    """


@register("ext_simsearch_index_refined_build", _refined_manifest_oracle())
def q_ext_simsearch_index_refined_build(spark, sf_dir):
    """BUILD half of the trained-index lifecycle at the serving
    config (coarse k=64, per-subspace k=256, m=16): train + encode +
    persist coarse/books/codes/vectors, codes AND the int8 vector
    store both PARTITIONED BY the coarse list id so the serve half
    prunes every corpus-sized scan.  Published result: the per-list
    manifest read BACK from the persisted codes parquet (list id,
    vector count, long-form code rows) — the oracle re-derives every
    coarse assignment from embeddings through the same two KMeans
    recursions, so a single misassigned vector flips a count."""
    import shutil

    path = _refined_index_path(spark, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    _ensure_refined_index(spark, sf_dir)
    codes = spark.read.parquet(path + "/codes")
    return (
        codes.groupBy(F.col("cid").cast("long").alias("cid"))
        .agg(
            F.count_distinct("match_id").cast("long").alias("n_codes"),
            F.count(F.lit(1)).cast("long").alias("n_code_rows"),
        )
        .orderBy("cid")
    )


@register("ext_simsearch_index_refined_serve", _refined_oracle())
def q_ext_simsearch_index_refined_serve(spark, sf_dir):
    """SERVE half of the trained-index lifecycle: top-3 from the
    persisted realistic-config index — no corpus scan, no re-encode,
    no re-train; the probed list ids statically prune BOTH the codes
    scan (ADC) and the int8 vectors scan (refine) to
    nprobe/n_clusters of the list directories (plan-pinned in
    tests/test_plans.py).  The oracle is the inline
    ``ext_simsearch_ivfpq_refined`` SQL VERBATIM — the lifecycle
    split cannot change a single score.  Built lazily if absent; in
    bench.py the build entry precedes this one, so this row shows the
    amortized per-query serving cost of the trained path."""
    from .ext.simsearch import ivfpq_refined_query_index

    path = _ensure_refined_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_refined_query_index(
        spark,
        path,
        emb.filter(F.col("vec_id") < _RT["n_queries"]),
        "vec_id",
        "embedding",
        k=_RT["k"],
        nprobe=_RT["nprobe"],
        shortlist=_RT["shortlist"],
        m=_RT["m"],
        dim=_RT["dim"],
    )


# =====================================================================
# E. Diurnal climate normals — the hour-of-day climatology every
#    station product publishes (mean diurnal cycle over the record)
# =====================================================================


def _climate_normals_oracle():
    from .registry_ext import wx_twin_sql

    return f"""
    WITH wx AS ({wx_twin_sql("duckdb")}),
    h AS (SELECT location_id, CAST(hour(ts) AS BIGINT) AS hod,
                 CAST(temperature_2m AS BIGINT) AS t,
                 CAST(relative_humidity_2m AS BIGINT) AS rh,
                 CAST(precipitation AS BIGINT) AS p
          FROM wx)
    SELECT location_id, hod,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(t) AS BIGINT) AS t_sum,
           CAST((sum(t) * 1000000
                 - ((sum(t) * 1000000 % count(*)) + count(*)) % count(*))
                // count(*) AS BIGINT) AS t_mean_micro,
           CAST(sum(rh) * 1000000 // count(*) AS BIGINT) AS rh_mean_micro,
           CAST(sum(p) AS BIGINT) AS precip_total
    FROM h GROUP BY location_id, hod ORDER BY location_id, hod
    """


@register("agg_climate_normals", _climate_normals_oracle())
def q_agg_climate_normals(spark, sf_dir):
    """Diurnal climate normals — the mean hour-of-day cycle per
    station over the full record (what climatology pages publish as
    "average temperature by hour"): exact integer sums over the wx
    twin's integer-valued measures, means published floor-micro with
    the sign-safe explicit-floor spelling (temperature sums go
    NEGATIVE, and Spark's DIV truncates toward zero — subtracting the
    positive pmod first makes the quotient exact, so truncate == floor
    on both engines; humidity/precip are non-negative and use plain
    DIV).  One map-side-combining hash aggregate; 120 output rows at
    any record length."""
    from .registry_ext import wx_twin_sql
    from .session import configure

    configure(spark)
    wx = spark.sql(wx_twin_sql("spark"))
    h = wx.select(
        "location_id",
        F.hour("ts").cast("long").alias("hod"),
        F.col("temperature_2m").cast("long").alias("t"),
        F.col("relative_humidity_2m").cast("long").alias("rh"),
        F.col("precipitation").cast("long").alias("p"),
    )
    return (
        h.groupBy("location_id", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("t").cast("long").alias("t_sum"),
            F.sum("rh").cast("long").alias("rh_sum"),
            F.sum("p").cast("long").alias("precip_total"),
        )
        .select(
            "location_id",
            "hod",
            "n_hours",
            "t_sum",
            F.expr(
                "CAST((t_sum * 1000000"
                " - pmod(pmod(t_sum * 1000000, n_hours) + n_hours, n_hours))"
                " DIV n_hours AS BIGINT)"
            ).alias("t_mean_micro"),
            F.expr(
                "CAST(rh_sum * 1000000 DIV n_hours AS BIGINT)"
            ).alias("rh_mean_micro"),
            "precip_total",
        )
        .orderBy("location_id", "hod")
    )


# =====================================================================
# F. Training-data mixture plan — temperature-weighted source sampling
#    (the multilingual-LM sampling-rate recipe, τ = 0.5)
# =====================================================================


@register(
    "ext_data_mixture_plan",
    """
    WITH tok AS (
      SELECT doc_id % 7 AS shard,
             len(list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\r\\f\\x0B]+'),
                             x -> x <> '')) AS n_tok
      FROM documents),
    s AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM tok GROUP BY shard),
    w AS (
      SELECT shard, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
               AS BIGINT) AS sqrt_micro
      FROM s),
    t AS (SELECT CAST(sum(sqrt_micro) AS BIGINT) AS total_sqrt,
                 CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM w)
    SELECT CAST(w.shard AS BIGINT) AS shard, w.n_docs, w.n_tokens,
           w.sqrt_micro,
           CAST(w.sqrt_micro * 1000000 // t.total_sqrt AS BIGINT)
             AS weight_micro,
           CAST((w.sqrt_micro * 1000000 // t.total_sqrt) * t.total_tokens
                // 1000000 AS BIGINT) AS tokens_per_epoch
    FROM w, t ORDER BY shard
    """,
)
def q_ext_data_mixture_plan(spark, sf_dir):
    """Training-data MIXTURE PLAN — temperature-weighted source
    sampling rates (the multilingual-LM recipe: sample source i with
    probability ∝ n_i^τ; τ = 0.5 here, so the weight is √n — an
    IEEE-exact correctly-rounded op on every platform, unlike pow/log,
    the round-9 libm rule): per shard (doc_id % 7 — stand-in for
    source/lang buckets) token mass, √-mass floored to micro, the
    normalized sampling weight in integer micro-units, and the
    expected tokens drawn per epoch.  Everything after the one exact
    sqrt is integer arithmetic, so the plan is bit-stable cross-engine
    and under any partitioning.  Two map-side-combining aggregates
    over one corpus pass + a broadcast of the 1-row total."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 7).alias("shard"),
        F.size(
            F.filter(
                F.split(F.lower(F.col("text")), r"[ \t\n\r\f\x0B]+"), lambda t: t != ""
            )
        ).alias("n_tok"),
    )
    s = tok.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    w = s.withColumn(
        "sqrt_micro",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * F.lit(1e6))
        .cast("long"),
    )
    t = w.agg(
        F.sum("sqrt_micro").cast("long").alias("total_sqrt"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_docs",
            "n_tokens",
            "sqrt_micro",
            F.expr("CAST(sqrt_micro * 1000000 DIV total_sqrt AS BIGINT)")
            .alias("weight_micro"),
            F.expr(
                "CAST((sqrt_micro * 1000000 DIV total_sqrt) * total_tokens"
                " DIV 1000000 AS BIGINT)"
            ).alias("tokens_per_epoch"),
        )
        .orderBy("shard")
    )


# =====================================================================
# G. Daily anomaly vs the diurnal climate normal — the "departure from
#    normal" every station report publishes (composes section E)
# =====================================================================


def _anomaly_normals_oracle():
    from .registry_ext import wx_twin_sql

    return f"""
    WITH wx AS ({wx_twin_sql("duckdb")}),
    h AS (SELECT location_id, ts, CAST(hour(ts) AS BIGINT) AS hod,
                 CAST(temperature_2m AS BIGINT) AS t
          FROM wx WHERE temperature_2m IS NOT NULL),
    nrm AS (SELECT location_id, hod,
                   CAST((sum(t) * 1000000
                         - ((sum(t) * 1000000 % count(*)) + count(*))
                           % count(*))
                        // count(*) AS BIGINT) AS t_norm_micro
            FROM h GROUP BY location_id, hod),
    a AS (SELECT h.location_id,
                 CAST(date_trunc('day', h.ts) AS TIMESTAMP) AS day,
                 h.t * 1000000 - n.t_norm_micro AS anom
          FROM h JOIN nrm n
            ON h.location_id = n.location_id AND h.hod = n.hod)
    SELECT location_id, day,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(anom) AS BIGINT) AS anom_sum_micro,
           CAST((sum(anom)
                 - ((sum(anom) % count(*)) + count(*)) % count(*))
                // count(*) AS BIGINT) AS anom_mean_micro,
           CAST(max(anom) AS BIGINT) AS anom_max_micro,
           CAST(min(anom) AS BIGINT) AS anom_min_micro
    FROM a GROUP BY location_id, day ORDER BY location_id, day
    """


@register("agg_anomaly_normals", _anomaly_normals_oracle())
def q_agg_anomaly_normals(spark, sf_dir):
    """Daily temperature ANOMALY against the hour-of-day climate
    normal — "departure from normal", the headline number on every
    climatology page (and the de-seasonalized signal trend detection
    runs on): the diurnal normal from section E (exact integer sums,
    floor-micro mean with the sign-safe explicit-floor spelling — the
    hourly mean removes the diurnal cycle that a flat daily mean would
    leak into the anomaly), broadcast back onto the hourly record
    keyed (location, hour-of-day), anomaly in exact integer micro-°C,
    then a daily roll-up of sum / floor-mean / max / min.  Everything
    after the one floor division is integer +/−/min/max, so the result
    is bit-stable cross-engine and under any partitioning.  Scale
    shape: the normals table is |locs|×24 rows at ANY record length —
    a broadcast dim — so the anomaly join adds no shuffle; the daily
    roll-up is the one map-side-combining aggregate."""
    from .registry_ext import wx_twin_sql
    from .session import configure

    configure(spark)
    wx = spark.sql(wx_twin_sql("spark"))
    h = wx.filter(F.col("temperature_2m").isNotNull()).select(
        "location_id",
        "ts",
        F.hour("ts").cast("long").alias("hod"),
        F.col("temperature_2m").cast("long").alias("t"),
    )
    nrm = (
        h.groupBy("location_id", "hod")
        .agg(
            F.sum("t").alias("t_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "location_id",
            "hod",
            F.expr(
                "CAST((t_sum * 1000000"
                " - pmod(pmod(t_sum * 1000000, n) + n, n))"
                " DIV n AS BIGINT)"
            ).alias("t_norm_micro"),
        )
    )
    a = h.join(F.broadcast(nrm), ["location_id", "hod"]).select(
        "location_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        (F.col("t") * F.lit(1_000_000) - F.col("t_norm_micro")).alias("anom"),
    )
    return (
        a.groupBy("location_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("anom").cast("long").alias("s"),
            F.max("anom").cast("long").alias("anom_max_micro"),
            F.min("anom").cast("long").alias("anom_min_micro"),
        )
        .select(
            "location_id",
            "day",
            "n_hours",
            F.col("s").alias("anom_sum_micro"),
            F.expr(
                "CAST((s - pmod(pmod(s, n_hours) + n_hours, n_hours))"
                " DIV n_hours AS BIGINT)"
            ).alias("anom_mean_micro"),
            "anom_max_micro",
            "anom_min_micro",
        )
        .orderBy("location_id", "day")
    )


# =====================================================================
# H. Percentile-exceedance climate extreme index (ETCCDI TX90p shape)
#    — exact rank SELECTION, never interpolation (CLAUDE.md rule)
# =====================================================================


def _extreme_tx90p_oracle():
    from .registry_ext import wx_twin_sql

    return f"""
    WITH wx AS ({wx_twin_sql("duckdb")}),
    h AS (SELECT location_id, ts, CAST(hour(ts) AS BIGINT) AS hod,
                 CAST(temperature_2m AS BIGINT) AS t
          FROM wx WHERE temperature_2m IS NOT NULL),
    r AS (SELECT location_id, hod, t,
                 row_number() OVER (PARTITION BY location_id, hod
                                    ORDER BY t, ts) AS rn,
                 count(*) OVER (PARTITION BY location_id, hod) AS n
          FROM h),
    thr AS (SELECT location_id, hod, t AS p90_t, n
            FROM r WHERE rn = (9 * n + 9) // 10)
    SELECT h.location_id, h.hod, thr.p90_t,
           CAST(thr.n AS BIGINT) AS n_hours,
           CAST(sum(CASE WHEN h.t > thr.p90_t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exceed
    FROM h JOIN thr
      ON h.location_id = thr.location_id AND h.hod = thr.hod
    GROUP BY h.location_id, h.hod, thr.p90_t, thr.n
    ORDER BY h.location_id, h.hod
    """


@register("agg_extreme_tx90p", _extreme_tx90p_oracle())
def q_agg_extreme_tx90p(spark, sf_dir):
    """Percentile-exceedance climate EXTREME index — the ETCCDI
    TX90p family (fraction of readings above the calendar-slot 90th
    percentile), on the hour-of-day slots the twin record supports:
    the 90th percentile is exact rank SELECTION — the element at
    row_number (9n+9) DIV 10 (= ceil(0.9n), non-negative so truncate
    == floor on both engines) under the total order (t, ts), never
    interpolation (the CLAUDE.md cross-engine quantile rule) — then
    one pass counts strict exceedances per slot.  Scale shape: one
    shuffle on (location, hour-of-day) for the rank window (slots are
    uniform — no skew), and the 120-row threshold table broadcasts
    back onto the record, so the exceedance count is shuffle-free."""
    from pyspark.sql import Window

    from .registry_ext import wx_twin_sql
    from .session import configure

    configure(spark)
    wx = spark.sql(wx_twin_sql("spark"))
    h = wx.filter(F.col("temperature_2m").isNotNull()).select(
        "location_id",
        "ts",
        F.hour("ts").cast("long").alias("hod"),
        F.col("temperature_2m").cast("long").alias("t"),
    )
    w = Window.partitionBy("location_id", "hod")
    r = h.select(
        "location_id",
        "hod",
        "t",
        F.row_number().over(w.orderBy("t", "ts")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    thr = r.filter(F.expr("rn = (9 * n + 9) DIV 10")).select(
        "location_id",
        "hod",
        F.col("t").alias("p90_t"),
        F.col("n").cast("long").alias("n_hours"),
    )
    return (
        h.join(F.broadcast(thr), ["location_id", "hod"])
        .groupBy("location_id", "hod", "p90_t", "n_hours")
        .agg(
            F.sum(F.when(F.col("t") > F.col("p90_t"), 1).otherwise(0))
            .cast("long")
            .alias("n_exceed")
        )
        .orderBy("location_id", "hod")
    )


# =====================================================================
# I. Clipped n-gram overlap (BLEU/ROUGE numerators) — exact integers
# =====================================================================


@register(
    "ext_eval_ngram_overlap",
    """
    WITH d AS (
      SELECT doc_id // 2 AS pair_id, doc_id % 2 AS side,
             list_filter(regexp_split_to_array(lower(text), '[ \\t\\n\\r\\f\\x0B]+'),
                         x -> x <> '') AS w
      FROM documents),
    p AS (SELECT pair_id FROM d GROUP BY pair_id HAVING count(*) = 2),
    d2 AS (SELECT d.* FROM d JOIN p USING (pair_id)),
    uni AS (SELECT pair_id, side, unnest(w) AS g FROM d2),
    bi AS (SELECT pair_id, side, array_to_string(w[i:i+1], ' ') AS g
           FROM (SELECT pair_id, side, w,
                        unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
                 FROM d2 WHERE len(w) >= 2)),
    grams AS (SELECT 1 AS n, pair_id, side, g FROM uni
              UNION ALL
              SELECT 2 AS n, pair_id, side, g FROM bi),
    cnt AS (SELECT n, pair_id, g,
                   sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS cn,
                   sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS rn
            FROM grams GROUP BY n, pair_id, g),
    agg AS (SELECT n, pair_id,
                   CAST(sum(cn) AS BIGINT) AS cand_total,
                   CAST(sum(least(cn, rn)) AS BIGINT) AS clipped
            FROM cnt GROUP BY n, pair_id)
    SELECT CAST(pair_id AS BIGINT) AS pair_id, CAST(n AS BIGINT) AS n,
           cand_total, clipped,
           CAST(clipped * 1000000 // cand_total AS BIGINT) AS prec_micro
    FROM agg WHERE cand_total > 0
    ORDER BY pair_id, n
    """,
)
def q_ext_eval_ngram_overlap(spark, sf_dir):
    """CLIPPED n-gram overlap — the BLEU numerator (modified n-gram
    precision, Papineni et al. 2002) and the ROUGE-n recall numerator
    are both Σ_g min(count_cand(g), count_ref(g)); this publishes that
    count exactly, per candidate/reference pair, for n = 1 and 2,
    alongside the candidate gram total and the floor-micro precision —
    pure integer arithmetic, no libm (the geometric mean / brevity
    penalty a scalar BLEU adds are driver-side trivia over these
    integers).  Pairing: doc_id DIV 2, even side = candidate, odd =
    reference (the eval-set convention: adjacent rows are the
    candidate/reference columns of one example).  The token arrays are
    materialized through a persist barrier before the bigram explode —
    the CLAUDE.md Generate-re-evaluation rule (ext_text_bigrams
    precedent).  Scale shape: one corpus pass, then counts shuffle on
    (n, pair_id, gram) — fine-grained uniform keys, no skew; nothing
    collects."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.expr("doc_id DIV 2").alias("pair_id"),
        (F.col("doc_id") % 2).alias("side"),
        F.filter(
            F.split(F.lower(F.col("text")), r"[ \t\n\r\f\x0B]+"), lambda t: t != ""
        ).alias("w"),
    )
    # keep only complete pairs (both sides present in the corpus)
    from pyspark.sql import Window

    d2 = (
        d.withColumn(
            "n_sides", F.count(F.lit(1)).over(Window.partitionBy("pair_id"))
        )
        .filter(F.col("n_sides") == 2)
        .drop("n_sides")
        .persist()  # barrier: bigram transform's lambda slices `w`
    )
    uni = d2.select(
        F.lit(1).alias("n"), "pair_id", "side", F.explode("w").alias("g")
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("w") - 1, F.lit(1)))
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice("w", i, 2)))
    bi = (
        d2.filter(F.size("w") >= 2)
        .select(
            F.lit(2).alias("n"),
            "pair_id",
            "side",
            F.explode(bigrams).alias("g"),
        )
    )
    cnt = (
        uni.unionByName(bi)
        .groupBy("n", "pair_id", "g")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).alias("cn"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).alias("rn"),
        )
    )
    return (
        cnt.groupBy("n", "pair_id")
        .agg(
            F.sum("cn").cast("long").alias("cand_total"),
            F.sum(F.least("cn", "rn")).cast("long").alias("clipped"),
        )
        .filter(F.col("cand_total") > 0)
        .select(
            F.col("pair_id").cast("long").alias("pair_id"),
            F.col("n").cast("long").alias("n"),
            "cand_total",
            "clipped",
            F.expr("CAST(clipped * 1000000 DIV cand_total AS BIGINT)")
            .alias("prec_micro"),
        )
        .orderBy("pair_id", "n")
    )


# Round-11 _register_new_this_round tail (12 ids) removed at round-12
# start (all are carryovers now; every one went green in r11).
