"""Registry entries for the mandated extensions (SURVEY.md §2.J),
streaming semantics (§2.I) and the reference-parity API wrappers (§3).

Same conventions as ``registry.py``.  Near-dup corpora are synthesized
deterministically (documents carry no duplicates): full copies for
exact dedup, 80%-prefix truncations for near-dup — both expressible
identically in Spark and DuckDB SQL so the oracle sees the same data.
Ids without oracle SQL are approximate/hash-seeded/ML-backed
(MinHash, SimHash, SRP-LSH) or exercise genuinely streaming plans —
the driver applies its rows-only check to those.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .io import load_table
from .registry import (
    _cents,
    register,
)

# (round-9's stream_window_session re-cert call removed at round-10
# start: CORRECTNESS_r09 shows it green again.)
from .ext.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .ext.simsearch import cosine_topk, lsh_topk
from .ext.text import fingerprints, lang_id, quality_score, token_stats, word_counts
from .ext.multimodal import attach_binary_payload, decode_image_features
from .operators.setops import union_prefer

# ---------------------------------------------------------------------
# shared synthetic corpora (Spark + identical SQL CTE)
# ---------------------------------------------------------------------


#: adversarial whitespace document injected into every derived corpus:
#: tab, double space, and newline separators.  Fixture text is
#: single-space separated, so without this row a space-split oracle and
#: a \\s+-split Spark side would agree by luck; with it, any
#: tokenization asymmetry fails the differential suite immediately.
_ADV_DOC_ID = 424240  # % 10 == 0 → flows through the dup/trunc paths
_ADV_DOC_TEXT = "alpha\tbeta  gamma\ndelta epsilon zeta eta theta iota kappa"
_ADV_DOC_SQL = (
    "SELECT CAST(424240 AS BIGINT) AS doc_id, "
    "'alpha' || chr(9) || 'beta  gamma' || chr(10) || "
    "'delta epsilon zeta eta theta iota kappa' AS text"
)

#: shared base for the derived corpora: documents + the adversarial doc
_DOCS_SRC_SQL = f"""
    docs_src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      {_ADV_DOC_SQL}
    )
"""


def _docs_src(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # single-partition JVM Range + literals, NOT createDataFrame: a
    # Python local relation plans as Scan ExistingRDD (a Python-worker
    # round trip per execution, measured ~4 s/run at sf0.1) and
    # inherits default parallelism (32 near-empty partitions per union
    # arm); this is one JVM task and zero Python
    adv = spark.range(0, 1, 1, 1).select(
        F.lit(_ADV_DOC_ID).cast("long").alias("doc_id"),
        F.lit(_ADV_DOC_TEXT).alias("text"),
    )
    return docs.unionByName(adv)


def _dup_corpus(spark, sf_dir):
    """documents (+ adversarial-whitespace doc) ∪ exact copies of every
    10th doc (id + 1,000,000)."""
    docs = _docs_src(spark, sf_dir)
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return docs.unionByName(dups)


_DUP_CORPUS_SQL = f"""
    {_DOCS_SRC_SQL},
    corpus AS (
      SELECT doc_id, text FROM docs_src
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM docs_src WHERE doc_id % 10 = 0
    )
"""


def _near_dup_corpus(spark, sf_dir):
    """documents (+ adversarial-whitespace doc) ∪ 80%-prefix
    truncations of every 10th doc — Jaccard vs the original ≈ 0.8, far
    above random-pair similarity.  Truncation tokenizes on ``\\s+``
    with an empty-token filter, identical to the oracle's
    ``regexp_split_to_array`` + ``list_filter`` — NOT a single-space
    split, which would diverge on the adversarial doc."""
    docs = _docs_src(spark, sf_dir)
    tok = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    trunc = F.concat_ws(
        " ",
        F.slice(tok, 1, F.greatest(F.floor(F.size(tok) * 0.8).cast("int"), F.lit(1))),
    )
    pert = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), trunc.alias("text")
    )
    return docs.unionByName(pert)


_NEAR_DUP_CORPUS_SQL = f"""
    {_DOCS_SRC_SQL},
    corpus AS (
      SELECT doc_id, text FROM docs_src
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> '')[1:greatest(
                 CAST(floor(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                            x -> x <> '')) * 0.8) AS INT), 1)],
               ' ') AS text
      FROM docs_src WHERE doc_id % 10 = 0
    )
"""


#: the tokenize → 3-gram shingle → exact-Jaccard candidate-pair CTE
#: block over `corpus` — shared by every oracle that rebuilds the
#: near-dup graph relationally (ext_dedup_ngram here,
#: ext_graph_degree in registry_r4b): ONE definition so the
#: tokenization/threshold rules cannot drift between them
_NGRAM_PAIRS_SQL = """    tok AS (SELECT doc_id AS id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w FROM corpus),
    idx AS (SELECT id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i FROM tok),
    sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
    cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.id < b.id GROUP BY 1, 2
    )"""


def _emb_dup_corpus(spark, sf_dir):
    """embeddings ∪ perturbed copies of every 20th vector (first
    coordinate +0.1).  The fixture vectors are unit-normalized, so the
    perturbation size matters: +0.1 keeps cosine vs the original at
    ~0.995 (≥ the 0.95 threshold → planted pairs ARE found), while
    random unit-vector pairs in 64-dim sit at |cos| ≲ 0.6 — a +0.5
    perturbation would drop planted pairs to ~0.88 and make the query
    vacuously empty."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pert = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.array((F.element_at("embedding", 1) + F.lit(0.1)).cast("float")),
            F.slice("embedding", 2, 100000),
        ).alias("embedding"),
    )
    return emb.unionByName(pert)


_EMB_DUP_CORPUS_SQL = """
    corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             [CAST(embedding[1] + 0.1 AS FLOAT)] || embedding[2:len(embedding)] AS embedding
      FROM embeddings WHERE vec_id % 20 = 0
    )
"""

_COSINE_SQL = """
    list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))
    / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


def _md5_srp_bucket_sql(n_tables, n_planes_expr, source="embeddings", plane_cap=None):
    """CTE chain restating ``srp_buckets(scheme='md5-rademacher')``
    bit-for-bit in DuckDB SQL: integer-quantize components
    (float→double widening, one double multiply, floor — each step
    IEEE-exact and engine-independent), ±1 plane weights keyed by
    ``md5(f"{{t}}:{{j}}:{{d}}")`` hex-digit parity, exact int64
    projection sums, sign-bit bucket codes.  ``n_planes_expr`` may be
    a literal or a scalar SQL expression (the adaptive-plane knn
    entry computes it from count(*)); DuckDB ``range()`` takes only
    constants, so a non-constant expression needs ``plane_cap`` — the
    range runs to the cap and a WHERE prunes to the live planes.
    Yields CTE ``bk(vec_id, tbl, bucket)``; embed after a leading
    WITH."""
    cap = n_planes_expr if plane_cap is None else plane_cap
    return f"""
    xi AS (
      SELECT vec_id, i - 1 AS d,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS x
      FROM {source}, unnest(range(1, len(embedding) + 1)) AS r(i)),
    pl AS (
      SELECT t, j, d,
             CASE WHEN substr(md5(t || ':' || j || ':' || d), 1, 1) < '8'
                  THEN 1 ELSE -1 END AS s
      FROM range(0, {n_tables}) rt(t),
           range(0, {cap}) rj(j),
           range(0, 64) rd(d)
      WHERE j < ({n_planes_expr})),
    proj AS (
      SELECT xi.vec_id, pl.t, pl.j, sum(pl.s * xi.x) AS v
      FROM xi JOIN pl ON xi.d = pl.d
      GROUP BY 1, 2, 3),
    bk AS (
      SELECT vec_id, t AS tbl,
             sum(CASE WHEN v >= 0 THEN 1 << j ELSE 0 END) AS bucket
      FROM proj GROUP BY vec_id, t)
"""

#: shared ranking CTEs for the retrieval entries (RRF fusion, hard
#: negatives, recall@k): ``ra`` = exact-cosine ranking, ``rb`` =
#: int8-quantized-cosine ranking, for query vectors vec_id < 5.
_RRF_RANKING_SQL = """
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
    ra AS (
      SELECT query_id, vec_id AS match_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {cos_raw} DESC, vec_id) AS rank
      FROM q CROSS JOIN embeddings WHERE vec_id <> query_id
    ),
    qz AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS qv
      FROM (SELECT vec_id, embedding,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
            FROM embeddings)
    ),
    qq AS (SELECT vec_id AS query_id, qv AS qqv FROM qz WHERE vec_id < 5),
    rb AS (
      SELECT query_id, vec_id AS match_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {cos_q} DESC, vec_id) AS rank
      FROM qq CROSS JOIN qz WHERE vec_id <> query_id
    )
"""

# =====================================================================
# Deduplication (ext_dedup_*)
# =====================================================================


@register(
    "ext_dedup_exact",
    f"""
    WITH {_DUP_CORPUS_SQL}
    SELECT text, CAST(min(doc_id) AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM corpus GROUP BY text
    """,
)
def q_ext_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content, deterministic survivor
    (min id) + multiplicity."""
    return dedup_exact(_dup_corpus(spark, sf_dir), ["text"], "doc_id")


@register(
    "ext_dedup_ngram",
    f"""
    WITH {_NEAR_DUP_CORPUS_SQL},
    {_NGRAM_PAIRS_SQL}
    SELECT id_a, id_b,
           inter / (ca.n_sh + cb.n_sh - inter) AS jaccard
    FROM pairs
    JOIN cnt ca ON pairs.id_a = ca.id
    JOIN cnt cb ON pairs.id_b = cb.id
    WHERE inter / (ca.n_sh + cb.n_sh - inter) >= 0.5
    """,
)
def q_ext_dedup_ngram(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.5):
    shingle-equality candidate generation, no all-pairs compare."""
    return ngram_jaccard_pairs(
        _near_dup_corpus(spark, sf_dir), "doc_id", "text", n=3, threshold=0.5
    )


@register("ext_dedup_near")  # MinHash estimate — hash-seeded, rows-only
def q_ext_dedup_near(spark, sf_dir):
    """MinHash(32) + 8-band LSH near-dup candidates with estimated
    Jaccard ≥ 0.4 — the sub-quadratic scale path for ext_dedup_ngram."""
    return minhash_lsh_pairs(
        _near_dup_corpus(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        num_hashes=32,
        bands=8,
        threshold=0.4,
    )


@register(
    "ext_dedup_simhash",
    f"""
    WITH {_NEAR_DUP_CORPUS_SQL},
    tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM corpus),
    th AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
      FROM tok),
    bits AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th, unnest(range(0, 64)) AS r(i)
      GROUP BY doc_id, i),
    fpu AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0
                 THEN CAST(1 AS HUGEINT) << i ELSE CAST(0 AS HUGEINT) END)
               AS u
      FROM bits GROUP BY doc_id),
    fp AS (
      SELECT c.doc_id,
             coalesce(CAST(CASE WHEN u >= (CAST(1 AS HUGEINT) << 63)
                           THEN u - (CAST(1 AS HUGEINT) << 64)
                           ELSE u END AS BIGINT), 0) AS f
      FROM corpus c LEFT JOIN fpu ON c.doc_id = fpu.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
    """,
)
def q_ext_dedup_simhash(spark, sf_dir):
    """SimHash-64 near-dup pairs within Hamming distance 3, banded
    candidate generation (4×16-bit) — the guaranteed-recall setting
    (max_hamming <= bands-1: a qualifying pair must share a band).

    ORACLE (round-6 upgrade): the md5-seeded fingerprint is restated
    bit-for-bit in SQL (token md5 → first 8 bytes big-endian → ±1 bit
    votes per OCCURRENCE → sign threshold → two's-complement int64),
    and because bands ≥ max_hamming+1 guarantees candidate recall and
    the Hamming verifier is exact, the banded Spark output must equal
    the oracle's brute-force all-pairs join exactly — the banding
    contract, checked as an oracle rather than pinned fixtures."""
    return simhash_pairs(
        _near_dup_corpus(spark, sf_dir), "doc_id", "text", max_hamming=3, bands=4
    )


@register(
    "ext_dedup_embedding",
    f"""
    WITH {_EMB_DUP_CORPUS_SQL},
    a AS (SELECT vec_id AS id_a, embedding AS va FROM corpus),
    b AS (SELECT vec_id AS id_b, embedding AS vb FROM corpus),
    s AS (
      SELECT id_a, id_b, {_COSINE_SQL.format(a="va", b="vb")} AS cosine
      FROM a JOIN b ON id_a < id_b
    )
    SELECT id_a, id_b, round(cosine, 3) AS cosine
    FROM s WHERE cosine >= 0.95
    """,
)
def q_ext_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cosine ≥ 0.95) — distributed
    block-grid exact all-pairs: no driver collect, no full-corpus
    broadcast; one BLAS matmul per block pair (equivalence-tested
    against both the collect-BLAS kernel and the expression-fold
    variant)."""
    from .ext.simsearch import embedding_near_dup_pairs_grid

    out = embedding_near_dup_pairs_grid(
        _emb_dup_corpus(spark, sf_dir), "vec_id", "embedding", threshold=0.95
    )
    return out.withColumn("cosine", F.round("cosine", 3))


# =====================================================================
# Similarity search (ext_simsearch_*)
# =====================================================================


@register(
    "ext_simsearch_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS match_id, embedding AS cvec FROM embeddings),
    s AS (
      SELECT query_id, match_id, {_COSINE_SQL.format(a="qvec", b="cvec")} AS cosine
      FROM q CROSS JOIN c WHERE query_id <> match_id
    ),
    r AS (
      SELECT query_id, match_id, cosine,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, match_id) AS INT) AS rank
      FROM s
    )
    SELECT query_id, match_id, round(cosine, 3) AS cosine, rank
    FROM r WHERE rank <= 3
    """,
)
def q_ext_simsearch_topk(spark, sf_dir):
    """Exact brute-force cosine top-3 for 5 query vectors (broadcast
    queries × one corpus scan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=3)
    return out.withColumn("cosine", F.round("cosine", 3))


@register(
    "ext_simsearch_lsh",
    f"""
    WITH {_md5_srp_bucket_sql(8, 8)},
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS match_id
      FROM bk qb JOIN bk cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
      WHERE qb.vec_id < 5 AND qb.vec_id <> cb.vec_id),
    scored AS (
      SELECT c.query_id, c.match_id,
             {_COSINE_SQL.format(a="qe.embedding", b="ce.embedding")} AS cosine
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ce ON ce.vec_id = c.match_id),
    r AS (
      SELECT query_id, match_id, cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, match_id) AS rank
      FROM scored)
    SELECT query_id, match_id, round(cosine, 3) AS cosine,
           CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 3 ORDER BY query_id, rank
    """,
)
def q_ext_simsearch_lsh(spark, sf_dir):
    """Approximate top-3 via sign-random-projection bucketing (8
    planes × 8 tables) — the exponential candidate-set cut for 100 TB
    corpora.

    ORACLE (round-8 upgrade, VERDICT r7 #4): md5-Rademacher planes
    over integer-quantized components make the bucket assignment
    restatable bit-for-bit in SQL (see
    ``srp_buckets(scheme='md5-rademacher')``), so the whole
    approximate pipeline — buckets, candidate union, exact cosine
    re-rank under the (cosine DESC, match_id) total order — is
    deterministic on BOTH engines and hash-comparable, the same
    md5-restatement trick as ext_dedup_simhash (r6) and
    ext_embed_hamming (r7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(
        emb,
        emb.filter(F.col("vec_id") < 5),
        "vec_id",
        "embedding",
        k=3,
        n_planes=8,
        scheme="md5-rademacher",
    )
    # no final orderBy: the driver compare canonicalizes row order,
    # and a global sort would add a range-exchange shuffle for nothing
    return out.withColumn("cosine", F.round("cosine", 3))


# =====================================================================
# Text analysis (ext_text_*)
# =====================================================================


@register(
    "ext_text_analysis",
    """
    SELECT lang, word, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT lang, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
      FROM documents
    ) WHERE word <> ''
    GROUP BY lang, word
    """,
)
def q_ext_text_analysis(spark, sf_dir):
    """Word frequencies per language: tokenize → explode → count."""
    docs = load_table(spark, sf_dir, "documents")
    return word_counts(docs, "text", keys=["lang"])


@register(
    "ext_text_tokens",
    """
    WITH t AS (
      SELECT doc_id, text,
             CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS INT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(length(text) AS INT) AS n_chars_obs,
           CASE WHEN n_tokens > 0
                THEN (length(text) - n_tokens + 1) / n_tokens
                ELSE CAST(0.0 AS DOUBLE) END AS mean_token_len,
           greatest(CAST(ceil(length(text) / 4) AS BIGINT), CAST(n_tokens AS BIGINT)) AS bpe_token_est
    FROM t
    """,
)
def q_ext_text_tokens(spark, sf_dir):
    """Per-doc token counting: whitespace tokens + BPE-ish estimate."""
    docs = load_table(spark, sf_dir, "documents")
    return token_stats(docs, "doc_id", "text")


@register(
    "ext_text_quality",
    """
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(toks) AS INT) AS n_tokens,
             CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE CAST(0.0 AS DOUBLE) END AS punct_ratio,
             CASE WHEN len(toks) > 0 THEN len(list_distinct(toks)) / len(toks) ELSE CAST(0.0 AS DOUBLE) END AS uniq_ratio,
             len(list_intersect(list_distinct(toks),
                 ['the','and','of','to','in','is','that','it','for','on'])) AS stop_hits
      FROM t
    )
    SELECT doc_id, n_tokens, punct_ratio, uniq_ratio,
           CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           + CASE WHEN punct_ratio < 0.2 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           + CASE WHEN stop_hits >= 2 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           + uniq_ratio * CAST(0.2 AS DOUBLE) AS quality_score
    FROM m
    """,
)
def q_ext_text_quality(spark, sf_dir):
    """Heuristic quality scoring (length / punctuation / stopword /
    repetition bands — C4/Gopher-style filters)."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs, "doc_id", "text")


@register(
    "ext_text_langid",
    """
    WITH t AS (
      SELECT doc_id,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')) AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
        CAST(len(list_intersect(toks, ['der','die','das','und','ist','nicht','mit','ein','zu','den'])) AS INT) AS s_de,
        CAST(len(list_intersect(toks, ['the','and','of','to','in','is','that','it','for','on'])) AS INT) AS s_en,
        CAST(len(list_intersect(toks, ['el','la','de','que','y','en','un','es','por','con'])) AS INT) AS s_es,
        CAST(len(list_intersect(toks, ['le','la','de','et','est','un','une','que','pour','dans'])) AS INT) AS s_fr,
        CAST(len(list_intersect(toks, ['的','是','了','在','我','有','和','就','不','人'])) AS INT) AS s_zh
      FROM t
    )
    SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_de = best THEN 'de'
                WHEN s_en = best THEN 'en'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                ELSE 'zh' END AS lang_pred,
           best AS lang_score
    FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM s)
    """,
)
def q_ext_text_langid(spark, sf_dir):
    """Stopword-profile language ID (argmax, ties → lexical order)."""
    docs = load_table(spark, sf_dir, "documents")
    return lang_id(docs, "doc_id", "text")


@register(
    "ext_text_fingerprint",
    "SELECT doc_id, md5(text) AS content_md5 FROM documents",
)
def q_ext_text_fingerprint(spark, sf_dir):
    """Content fingerprinting; the rolling token-stream hash uses
    xxhash64 (no DuckDB analog) and is covered by unit tests."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprints(docs, "doc_id", "text").select("doc_id", "content_md5")


# =====================================================================
# Multimodal columns (ext_multimodal_*)
# =====================================================================


@register(
    "ext_multimodal_cols",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q_ext_multimodal_cols(spark, sf_dir):
    """Binary payload column + typed metadata (byte length, content
    hash) carried through the plan — the multimodal column pattern."""
    docs = load_table(spark, sf_dir, "documents")
    out = attach_binary_payload(docs, "text")
    return out.select("doc_id", "payload_bytes", "payload_md5")


@register(
    "ext_multimodal_decode",
    """
    WITH t AS (
      SELECT doc_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS n
      FROM documents),
    s AS (
      SELECT doc_id, n,
             CAST(coalesce(list_sum(list_transform(
               range(1, CAST(least(n, 64) AS INT) + 1),
               i -> ascii(substr(text, i, 1)))), 0) AS BIGINT) AS s64
      FROM t)
    SELECT doc_id,
           CAST(64 + (n % 512) AS INT) AS width,
           CAST(64 + ((n // 7) % 512) AS INT) AS height,
           CAST(3 AS INT) AS n_channels,
           (CAST(s64 AS DOUBLE) / greatest(least(n, 64), 1)) / 255.0
             AS mean_luma
    FROM s
    """,
)
def q_ext_multimodal_decode(spark, sf_dir):
    """mapInPandas feature extraction over binary payloads (decode
    stubbed deterministically; plumbing — schema, Arrow batching — is
    the real thing).  The stub's feature contract
    (ext/multimodal._decode_fake: dims from the byte length, mean-luma
    from the first 64 bytes) is a pure function of the payload, so the
    oracle restates it relationally — the float division chain is the
    same two correctly-rounded IEEE ops on exact integers in both
    engines (fixture text is pure ASCII, so per-char code points ARE
    the payload bytes)."""
    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "text")
    return decode_image_features(payloads, "doc_id", "payload")


# =====================================================================
# Streaming semantics (§2.I): batch-checkable upsert/session + a real
# Structured Streaming run
# =====================================================================


@register(
    "stream_upsert_revision",
    """
    WITH u AS (
      SELECT event_id, ts, value + 500 AS value, 1 AS rev, 0 AS prio
      FROM events WHERE event_id % 5 = 0
      UNION ALL
      SELECT event_id, ts, value, 0 AS rev, 1 AS prio FROM events
    ), r AS (
      SELECT event_id, ts, value, rev,
             row_number() OVER (PARTITION BY event_id ORDER BY prio) AS rn
      FROM u
    )
    SELECT event_id, ts, value, rev FROM r WHERE rn = 1
    """,
)
def q_stream_upsert_revision(spark, sf_dir):
    """Keep-latest revision upsert (reference server.py:304: re-fetches
    supersede): revised copies of every 5th event win over the
    original — batch analog of the streaming dedup state."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    base = ev.withColumn("rev", F.lit(0))
    revs = (
        ev.filter(F.col("event_id") % 5 == 0)
        .withColumn("value", F.col("value") + 500)
        .withColumn("rev", F.lit(1))
    )
    return union_prefer(revs, base, keys=["event_id"])


@register(
    "stream_window_session",
    """
    WITH l AS (
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
    )
    SELECT user_id, min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_window_session(spark, sf_dir):
    """Session windows (30-min gap) per user — ``session_window`` in
    batch mode; the oracle reproduces merge semantics via lag+cumsum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


@register(
    "stream_window_tumbling",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_stream_window_tumbling(spark, sf_dir):
    """A REAL Structured Streaming run: file-source stream over the
    events parquet → watermarked tumbling daily aggregate →
    availableNow → memory sink.  Complete output mode makes the result
    equal the batch daily aggregate, so the oracle still applies."""
    from .streaming.jobs import (
        run_stream_to_memory,
        streamed_daily_aggregate,
        streaming_events_source,
    )

    src = streaming_events_source(spark, sf_dir)
    return run_stream_to_memory(streamed_daily_aggregate(src), "complete")


# =====================================================================
# API wrappers + astronomy over the weather fixture.  Round 7: the
# forecast/history wrappers are verified against DuckDB through an
# ENGINE-PORTABLE weather twin — the default fixture's xxhash64 noise
# has no DuckDB restatement, so the registry entries inject a twin
# built from md5-derived INTEGER-VALUED doubles (exact on both
# engines, order-independent under sum) generated from one shared SQL
# template.  The real fixture (sin cycles, xxhash noise) stays pinned
# by the golden wrapper tests; these entries verify the WRAPPER
# semantics — location resolve, horizon/date windows, projection,
# daily aggregate + mode tie-break (server.py:142-369).
# =====================================================================

_WX_TWIN_DAYS = 21
_WX_TWIN_LOCS = 5


def wx_twin_sql(
    engine: str, days: int = _WX_TWIN_DAYS, locs: int = _WX_TWIN_LOCS
) -> str:
    """One deterministic hourly-weather construction, emitted for
    either engine.  Noise = first 13 hex digits of
    md5('<tag>:<loc>:<hour>') as an integer (the repo's portable-hash
    convention, registry_r6 ext_text_hashtf); every measure is an
    integer-valued DOUBLE so daily sums/avgs are exact and
    order-independent cross-engine.

    ``days``/``locs`` (round 13): horizon knobs for the multi-year
    ETCCDI record — at the defaults the emitted SQL is byte-identical
    to the round-4 original (every green oracle unchanged); a longer
    horizon extends the SAME md5 grid, so the first 21 days of the
    year twin are bit-identical to the short twin."""
    n = days * 24 * locs
    if engine == "spark":
        rng = f"SELECT id AS n FROM range(0, {n})"
        intdiv, s = "DIV", "STRING"

        def H(tag):
            return (
                f"CAST(conv(substr(md5(CAST('{tag}:' || CAST(lid AS STRING)"
                " || ':' || CAST(h AS STRING) AS BINARY)), 1, 13), 16, 10)"
                " AS BIGINT)"
            )

        ts = "timestampadd(HOUR, h, TIMESTAMP '2024-01-01 00:00:00')"
    else:
        rng = f"SELECT range AS n FROM range(0, {n})"
        intdiv, s = "//", "VARCHAR"

        def H(tag):
            return (
                f"CAST('0x' || substr(md5('{tag}:' || CAST(lid AS VARCHAR)"
                " || ':' || CAST(h AS VARCHAR)), 1, 13) AS BIGINT)"
            )

        ts = "TIMESTAMP '2024-01-01 00:00:00' + h * INTERVAL 1 HOUR"
    return f"""
    SELECT CAST(lid AS BIGINT) AS location_id, {ts} AS ts,
           CAST({H('t')} % 1000 - 500 AS DOUBLE) AS temperature_2m,
           CAST({H('rh')} % 101 AS DOUBLE) AS relative_humidity_2m,
           CAST({H('t')} % 1000 - 503 AS DOUBLE) AS dew_point_2m,
           CAST({H('t')} % 1000 - 501 AS DOUBLE) AS apparent_temperature,
           CASE WHEN {H('pg')} % 1000 >= 800
                THEN CAST({H('pa')} % 40 + 1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS precipitation,
           CASE WHEN {H('pg')} % 1000 >= 800 AND {H('t')} % 1000 >= 500
                THEN CAST({H('pa')} % 40 + 1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS rain,
           CASE WHEN {H('pg')} % 1000 >= 800 AND {H('t')} % 1000 < 500
                THEN CAST({H('pa')} % 40 + 1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS snowfall,
           CASE WHEN {H('pg')} % 1000 >= 800 AND {H('t')} % 1000 < 500
                THEN CAST(({H('pa')} % 40 + 1) * 2 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS snow_depth,
           CAST(CASE WHEN {H('pg')} % 1000 >= 800 AND {H('pa')} % 40 + 1 > 20
                     THEN 63
                     WHEN {H('pg')} % 1000 >= 800 THEN 61
                     WHEN {H('rh')} % 101 > 85 THEN 3
                     WHEN h % 5 = 0 THEN 1 ELSE 0 END AS INT)
             AS weather_code,
           CAST(1000 + {H('pm')} % 25 AS DOUBLE) AS pressure_msl,
           CAST({H('cc')} % 101 AS DOUBLE) AS cloud_cover,
           CAST({H('sr')} % 500 AS DOUBLE) AS shortwave_radiation,
           CAST({H('dr')} % 350 AS DOUBLE) AS direct_radiation,
           CAST({H('df')} % 150 AS DOUBLE) AS diffuse_radiation,
           CASE WHEN h % 97 = 0 THEN CAST(NULL AS DOUBLE)
                ELSE CAST({H('uv')} % 9 AS DOUBLE) END AS uv_index
    FROM (SELECT n % {locs} AS lid,
                 n {intdiv} {locs} AS h
          FROM ({rng}))
    """


_WX_HOURLY_COLS = """temperature_2m, relative_humidity_2m, dew_point_2m,
       apparent_temperature, precipitation, rain, snowfall, snow_depth,
       weather_code, pressure_msl, cloud_cover, shortwave_radiation,
       direct_radiation, diffuse_radiation, uv_index"""


@register(
    "wx_forecast_hourly",
    f"""
    WITH wx AS ({wx_twin_sql("duckdb")})
    SELECT location_id, ts, {_WX_HOURLY_COLS}
    FROM wx
    WHERE location_id = 0  -- Prague, CZ
      AND ts >= TIMESTAMP '2024-01-12 00:00:00'  -- now - 3 past days
      AND ts <  TIMESTAMP '2024-01-22 00:00:00'  -- now + 7 forecast days
    """,
)
def q_wx_forecast_hourly(spark, sf_dir):
    """get_forecast: default hourly projection, 3 past + 7 forecast
    days around the pinned fixture 'now' (reference server.py:142-280),
    run over the engine-portable weather twin so DuckDB can restate the
    whole request — geocode('Prague, CZ') → location 0, the relative
    horizon window, and the 15-variable default projection."""
    from .api import get_forecast
    from .session import configure

    # the twin is generated by spark.sql, not load_table — pin the
    # session timezone the same way the loaders do, or a hostile
    # non-UTC session shifts every generated timestamp (verify skill's
    # hostile-tz probe caught exactly this)
    configure(spark)
    twin = spark.sql(wx_twin_sql("spark"))
    return get_forecast(
        spark, place="Prague, CZ", past_days=3, forecast_days=7, weather=twin
    )


@register(
    "wx_history_daily",
    f"""
    WITH wx AS ({wx_twin_sql("duckdb")}),
    b AS (
      SELECT * FROM wx
      WHERE location_id = 1  -- Berlin, DE
        AND ts >= TIMESTAMP '2024-01-03 00:00:00'
        AND ts <  TIMESTAMP '2024-01-13 00:00:00'  -- end_date inclusive
    ),
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
      FROM b GROUP BY 1, 2
    ),
    m AS (
      SELECT location_id, day, weather_code FROM (
        SELECT location_id, date_trunc('day', ts) AS day, weather_code,
               row_number() OVER (
                 PARTITION BY location_id, date_trunc('day', ts)
                 ORDER BY count(*) DESC, weather_code ASC) AS rn
        FROM b GROUP BY location_id, date_trunc('day', ts), weather_code
      ) WHERE rn = 1
    )
    SELECT d.location_id, CAST(d.day AS TIMESTAMP) AS day,
           d.temperature_2m_max, d.temperature_2m_min,
           d.apparent_temperature_max, d.apparent_temperature_min,
           d.sunshine_duration, d.precipitation_sum, d.rain_sum,
           d.snowfall_sum, d.precipitation_hours, d.uv_index_max,
           m.weather_code
    FROM d JOIN m ON d.location_id = m.location_id AND d.day = m.day
    """,
)
def q_wx_history_daily(spark, sf_dir):
    """get_history: required date range, daily aggregates
    (reference server.py:284-369), over the engine-portable twin —
    the oracle restates the full daily product: max/min, the WMO
    120 W/m² sunshine rule, precipitation hours, and the
    deterministic count-desc/value-asc weather_code mode tie-break."""
    from .api import get_history
    from .session import configure

    configure(spark)  # same hostile-tz pin as wx_forecast_hourly
    twin = spark.sql(wx_twin_sql("spark"))
    return get_history(
        spark,
        start_date="2024-01-03",
        end_date="2024-01-12",
        place="Berlin, DE",
        granularity=1440,
        weather=twin,
    )


def _sunrise_oracle_sql() -> str:
    """Precomputed solar dimension as inline VALUES (SURVEY.md §7: the
    oracle for a formula-backed query is the precomputed table, not a
    SQL re-derivation of the trigonometry).  Runs the SAME
    ``solar_components`` float64 numpy code the pandas UDF runs.

    numpy trig is NOT bit-stable across batch shapes (SIMD body vs
    scalar tail can differ in the last ULP, and the Arrow batch shape
    reaching the UDF is not pinned), so raw doubles cannot be hashed.
    Both sides therefore publish integer minor units — micro-hours and
    milliseconds via ``floor(x * scale + 0.5)`` — which a 1-ULP input
    wiggle cannot flip unless the scaled value sits within ~1e-10 of
    an integer boundary (deterministic fixture, checked by the
    differential test)."""
    import math

    import numpy as np

    from .fixtures import LATS, LONS, PLACES
    from .functions.astro import solar_components

    rows = []
    for i, place in enumerate(PLACES):
        for d in range(7):
            sr, ss, dl = solar_components(
                np.array([LATS[i]]), np.array([LONS[i]]), np.array([float(d + 1)])
            )
            sr_uh = math.floor(float(sr[0]) * 1e6 + 0.5)
            ss_uh = math.floor(float(ss[0]) * 1e6 + 0.5)
            dl_ms = math.floor(float(dl[0]) * 1e3 + 0.5)
            esc = place.replace("'", "''")
            rows.append(
                f"('{esc}', DATE '2024-01-{d + 1:02d}', "
                f"CAST({sr_uh} AS BIGINT), CAST({ss_uh} AS BIGINT), "
                f"CAST({dl_ms} AS BIGINT))"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") AS t(place, day, sunrise_uh, sunset_uh, daylight_ms)"
    )


@register("wx_sunrise_sunset", _sunrise_oracle_sql())
def q_wx_sunrise_sunset(spark, sf_dir):
    """Solar events per (location, day): NOAA equations as a
    vectorized pandas UDF (reference server.py:133 daily variables).
    Oracle-paired via the precomputed solar dimension (same numpy
    float64 code driver-side); outputs integer micro-hours /
    milliseconds — see ``_sunrise_oracle_sql`` for why doubles can't
    be hashed here."""
    from . import fixtures
    from .functions.astro import solar_events

    geo = fixtures.geo_dim(spark).filter(F.col("latitude").between(-90, 90))
    days = spark.range(7).select(
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("day")
    )
    sol = solar_events(geo.crossJoin(days), "latitude", "longitude", "day")
    return sol.select(
        "place",
        "day",
        F.floor(F.col("sunrise_utc_hour") * 1e6 + 0.5).cast("long").alias("sunrise_uh"),
        F.floor(F.col("sunset_utc_hour") * 1e6 + 0.5).cast("long").alias("sunset_uh"),
        F.floor(F.col("daylight_duration") * 1e3 + 0.5).cast("long").alias("daylight_ms"),
    )


# =====================================================================
# Remaining §2 surface: status envelope, observe counters; plus exact
# percentiles and TPC-H-shaped bench queries
# =====================================================================


@register(
    "sink_status_envelope",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal / 60.0 BETWEEN -90 AND 90
                 AND (c_custkey % 500) - 200 BETWEEN -180 AND 180
                THEN 'success' ELSE 'error' END AS status,
           CASE WHEN c_acctbal / 60.0 BETWEEN -90 AND 90
                 AND (c_custkey % 500) - 200 BETWEEN -180 AND 180
                THEN NULL ELSE 'invalid coordinates' END AS message
    FROM customer
    """,
)
def q_sink_status_envelope(spark, sf_dir):
    """The reference's success/error envelope (server.py:258, 280) as a
    materialized value — errors as data, not exceptions, for sinks
    that carry per-row outcomes."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") / 60.0).alias("lat"),
        ((F.col("c_custkey") % 500) - 200).alias("lon"),
    )
    ok = F.col("lat").between(-90, 90) & F.col("lon").between(-180, 180)
    return cust.select(
        "c_custkey",
        F.when(ok, "success").otherwise("error").alias("status"),
        F.when(ok, F.lit(None).cast("string"))
        .otherwise("invalid coordinates")
        .alias("message"),
    )


@register(
    "agg_percentile",
    """
    SELECT event_type,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) / 100.0 AS p25,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100.0 AS p50,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75) / 100.0 AS p75
    FROM events GROUP BY event_type
    """,
)
def q_agg_percentile(spark, sf_dir):
    """Exact percentiles over integer cents with quarter fractions —
    the interpolation (1-g)a + gb is exactly representable, so Spark
    and DuckDB agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").withColumn("vc", _cents("value"))
    return ev.groupBy("event_type").agg(
        (F.expr("percentile(vc, 0.25)") / 100.0).alias("p25"),
        (F.expr("percentile(vc, 0.5)") / 100.0).alias("p50"),
        (F.expr("percentile(vc, 0.75)") / 100.0).alias("p75"),
    )


@register(
    "bench_q6",
    """
    SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_bench_q6(spark, sf_dir):
    """TPC-H Q6 shape: pushed-down filters + one global aggregate —
    the pure-scan-throughput benchmark."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(_cents(F.col("l_extendedprice") * F.col("l_discount"))) / 100.0)
            .alias("revenue")
        )
    )


@register(
    "bench_q3",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > TIMESTAMP '1996-06-30'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q_bench_q3(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → two-fact join → grouped
    revenue → top-10.  The canonical shuffle-heavy join benchmark."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-06-30").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "fmt_json_encode_props",
    """
    SELECT event_id,
           to_json(struct_pack(k := CAST(json_extract_string(props, '$.k') AS INTEGER),
                               t := event_type)) AS props_json
    FROM events
    """,
)
def q_fmt_json_encode_props(spark, sf_dir):
    """JSON encoding of typed columns (the inverse of fmt_json_decode;
    reference returns JSON bodies verbatim at server.py:258 — a sink
    that re-serializes needs the encoder)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        F.to_json(F.struct(k.alias("k"), F.col("event_type").alias("t"))).alias(
            "props_json"
        ),
    )


@register(
    "proj_rename_alias",
    """
    SELECT l_orderkey AS order_id, l_linenumber AS line_no,
           l_extendedprice AS gross_price
    FROM lineitem
    """,
)
def q_proj_rename_alias(spark, sf_dir):
    """Column renaming/aliasing (the registry-wide convention —
    __spark_entry__ contract requires matched output names)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").alias("gross_price"),
    )


@register(
    "stream_window_sliding",
    """
    WITH shifted AS (
      SELECT event_id, value, ts,
             time_bucket(INTERVAL '15 minutes', ts) - INTERVAL (k * 15) MINUTE AS win_start
      FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)
    )
    SELECT win_start, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM shifted GROUP BY win_start
    """,
)
def q_stream_window_sliding(spark, sf_dir):
    """Sliding windows (1 h duration, 15 min slide): every event lands
    in 4 overlapping windows.  ``F.window(ts, '1 hour', '15 minutes')``
    natively; the oracle expands the 4 shifted tumbling buckets."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes")["start"].alias("win_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(_cents("value")) / 100.0).alias("value_sum"),
        )
    )


@register(
    "stream_stateful_latest",
    """
    WITH e AS (
      SELECT event_id % 100 AS key, ts, value FROM events),
    m AS (SELECT key, max(ts) AS ts FROM e GROUP BY key)
    SELECT e.key, e.ts, e.value
    FROM e JOIN m USING (key, ts)
    """,
)
def q_stream_stateful_latest(spark, sf_dir):
    """applyInPandasWithState keep-latest-per-key over a streamed
    events source (availableNow → memory): true engine-managed state
    for the revision-supersedence semantics (reference server.py:304).

    ORACLE (round-6 upgrade, batch twin): (key, ts) is tie-free in the
    fixtures and the file source delivers the single events.parquet as
    ONE micro-batch, so the update-mode memory sink holds exactly the
    per-key max-ts rows — the relational argmax.  Multi-batch replays
    (maxFilesPerTrigger) and cross-batch supersedence stay pinned by
    tests/test_streaming.py, where arrival order is controlled."""
    from .streaming.jobs import run_stream_to_memory, streaming_events_source
    from .streaming.stateful import latest_per_key_stateful

    src = streaming_events_source(spark, sf_dir).withColumn(
        "key", F.col("event_id") % 100
    )
    out = latest_per_key_stateful(src, "key", "ts", "value")
    return run_stream_to_memory(out, "update")


@register("ext_simsearch_pq")  # PQ/ADC quantized ANN — rows-only
def q_ext_simsearch_pq(spark, sf_dir):
    """Product-quantization ANN: 8-subspace codebooks (sample-fit),
    32x-compressed corpus codes, ADC gather+sum scoring with per-batch
    partial top-k (ext/simsearch.pq_topk)."""
    from .ext.simsearch import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        k=3, m=8, ksub=16,
    )


@register("ext_simsearch_ivf")  # KMeans-seeded ANN — rows-only
def q_ext_simsearch_ivf(spark, sf_dir):
    """IVF-style ANN: KMeans(16) coarse quantizer, 4-probe, exact
    re-score inside probed lists (ext/simsearch.ivf_topk)."""
    from .ext.simsearch import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        k=3, n_clusters=8, nprobe=3,
    )


@register(
    "agg_pivot",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def q_agg_pivot(spark, sf_dir):
    """Pivot: one column per event_type with daily counts (explicit
    value list keeps the schema deterministic; absent cells coalesce
    to 0 to match SQL conditional counts)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.window("ts", "1 day")["start"]
    )
    types = ["click", "error", "purchase", "signup", "view"]
    piv = ev.groupBy("day").pivot("event_type", types).count()
    return piv.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "agg_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def q_agg_unpivot(spark, sf_dir):
    """Unpivot (wide → long): the inverse of agg_pivot, via
    ``unpivot``/``stack`` — the reshape that turns the reference's
    per-variable columns back into (measure, value) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@register(
    "win_ntile",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
    FROM orders
    """,
)
def q_win_ntile(spark, sf_dir):
    """Quartile assignment over a total order (feature-binning shape).

    This is the exact small-N form (one global ntile window); at
    corpus scale the same contract is served by binning against 3
    rank-selected cut scores (two-pass aggregate, no global window) —
    the pattern agg_histogram_eqh implements."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return orders.select("o_orderkey", F.ntile(4).over(w).alias("quartile"))


@register(
    "f_levenshtein",
    """
    SELECT p_partkey, levenshtein(p_brand, 'Brand#11') AS edit_dist
    FROM part WHERE levenshtein(p_brand, 'Brand#11') <= 2
    """,
)
def q_f_levenshtein(spark, sf_dir):
    """Edit-distance fuzzy matching (the scalar cousin of the near-dup
    operators; both engines implement classic Levenshtein)."""
    part = load_table(spark, sf_dir, "part")
    d = F.levenshtein("p_brand", F.lit("Brand#11"))
    return part.select("p_partkey", d.alias("edit_dist")).filter(
        F.col("edit_dist") <= 2
    )


@register(
    "agg_corr",
    """
    SELECT event_type,
           round(corr(value, CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS corr_vk
    FROM events GROUP BY event_type
    """,
)
def q_agg_corr(spark, sf_dir):
    """Pearson correlation per group (statistics substrate; rounded to
    6dp — accumulation order differs across engines at ~1e-12)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", k), 6).alias("corr_vk")
    )


@register(
    "bench_q4",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_bench_q4(spark, sf_dir):
    """TPC-H Q4 shape: correlated EXISTS (orders with a late-shipped
    line item) → left-semi join with a cross-table predicate →
    priority counts."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "agg_argmin",
    """
    SELECT s_nationkey, m.k AS best_suppkey, m.a AS best_acctbal FROM (
      SELECT s_nationkey,
             min(struct_pack(a := s_acctbal, k := s_suppkey)) AS m
      FROM supplier GROUP BY s_nationkey
    )
    """,
)
def q_agg_argmin(spark, sf_dir):
    """Deterministic argmin via struct-min (min_by breaks ties
    arbitrarily; lexicographic struct comparison does not): the
    lowest-balance supplier per nation, tie → lowest key."""
    sup = load_table(spark, sf_dir, "supplier")
    m = F.min(F.struct(F.col("s_acctbal").alias("a"), F.col("s_suppkey").alias("k")))
    return (
        sup.groupBy("s_nationkey")
        .agg(m.alias("m"))
        .select(
            "s_nationkey",
            F.col("m.k").alias("best_suppkey"),
            F.col("m.a").alias("best_acctbal"),
        )
    )


@register(
    "f_try_cast",
    """
    SELECT event_id,
           TRY_CAST(CASE WHEN event_id % 3 = 0 THEN '2024-99-99'
                         ELSE strftime(ts, '%Y-%m-%d') END AS DATE) AS parsed
    FROM events
    """,
)
def q_f_try_cast(spark, sf_dir):
    """Error-value casts: invalid inputs become NULL instead of
    failing the job (the reference's errors-are-values posture,
    server.py:280, applied at expression level)."""
    ev = load_table(spark, sf_dir, "events")
    raw = F.when(F.col("event_id") % 3 == 0, F.lit("2024-99-99")).otherwise(
        F.date_format("ts", "yyyy-MM-dd")
    )
    return ev.select("event_id", F.try_to_date(raw).alias("parsed"))


@register(
    "win_range_frame",
    """
    SELECT event_id,
           sum(CAST(round(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
           ) / 100.0 AS rolling_1h_sum
    FROM events
    """,
)
def q_win_range_frame(spark, sf_dir):
    """Time-RANGE window frame: per-user rolling 1-hour sum keyed on
    event time (not row count) — the range frame the reference's
    15-min cadence data wants for trailing features."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").withColumn("vc", _cents("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600000000, 0)
    )
    return ev.select(
        "event_id", (F.sum("vc").over(w) / 100.0).alias("rolling_1h_sum")
    )


# ---------------------------------------------------------------------
# training-pipeline operators: deterministic sampling / splits,
# duplicate clustering, centroids, exact OLS
# ---------------------------------------------------------------------


@register(
    "ext_sample_hash",
    """
    SELECT doc_id, lang, n_chars FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) < '1a'
    """,
)
def q_ext_sample_hash(spark, sf_dir):
    """Deterministic ~10% Bernoulli sample keyed on md5(doc_id) —
    membership is a pure function of the row, stable across runs,
    partitionings and engines (unlike df.sample)."""
    from .ext.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return hash_sample(docs, "doc_id", "1a")


@register(
    "ext_train_split",
    """
    SELECT doc_id,
           CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cc' THEN 'train'
                WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_ext_train_split(spark, sf_dir):
    """Deterministic ~80/10/10 train/val/test assignment by id-hash
    range: a document keeps its split forever as the corpus grows —
    the property that prevents train/test leakage across dataset
    versions."""
    from .ext.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return hash_split(docs, "doc_id")


@register(
    "ext_sample_stratified",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 25
    """,
)
def q_ext_sample_stratified(spark, sf_dir):
    """Exactly-25-per-language stratified sample, ranked by id-hash
    (a deterministic uniform order) — balanced eval sets from a
    skewed corpus."""
    from .ext.sampling import stratified_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_topk(docs, "lang", "doc_id", 25)


@register(
    "agg_regr_ols",
    """
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
             CAST(sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS slope,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept,
           n AS n_obs
    FROM m
    """,
)
def q_agg_regr_ols(spark, sf_dir):
    """Per-group OLS slope/intercept (extendedprice-cents vs quantity)
    from exact integer moments in one aggregation pass — regr_slope's
    streaming covariance is float-order-dependent, integer moments are
    not."""
    from .operators.aggregates import exact_ols

    li = load_table(spark, sf_dir, "lineitem")
    return exact_ols(
        li,
        ["l_returnflag"],
        F.col("l_quantity").cast("long"),
        _cents("l_extendedprice"),
    )


@register(
    "ext_dedup_cluster",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CORPUS_SQL},
    tok AS (SELECT doc_id AS id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w FROM corpus),
    idx AS (SELECT id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i FROM tok),
    sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
    cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM sh a JOIN sh b USING (shingle)
      JOIN cnt ca ON a.id = ca.id JOIN cnt cb ON b.id = cb.id
      WHERE a.id < b.id
      GROUP BY 1, 2, ca.n_sh, cb.n_sh
      HAVING count(*) / (ca.n_sh + cb.n_sh - count(*)) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lab < e.dst
    )
    SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """,
)
def q_ext_dedup_cluster(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the
    exact-Jaccard near-dup graph (threshold 0.5), every doc labeled
    with the min id reachable from it — the representative a dedup
    pipeline keeps."""
    from .ext.dedup import dedup_clusters

    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5)
    return dedup_clusters(
        corpus.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id"
    )


@register(
    "ext_embed_centroids",
    """
    WITH ex AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding) AS val
      FROM embeddings),
    q AS (SELECT label, pos,
            CAST(sum(CAST(floor(CAST(val AS DOUBLE) * 1048576.0) AS BIGINT)) AS BIGINT) AS s,
            count(*) AS c
          FROM ex GROUP BY 1, 2)
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(s AS DOUBLE) / (1048576.0 * c) AS value
    FROM q
    """,
)
def q_ext_embed_centroids(spark, sf_dir):
    """Per-label mean embedding (class centroids) via exact
    power-of-two integer quantization — float sums are
    order-dependent; scaled-int64 sums are associative and
    engine-exact.  Published as scalar ``(label, pos, value)`` rows
    (0-based ``pos``): hash-comparison tooling sorts rows, and rows
    with array cells are unsortable/unhashable —
    ``simsearch.label_centroid_components``."""
    from .ext.simsearch import label_centroid_components

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_components(emb, "label", "embedding")


@register(
    "ext_multimodal_frames",
    """
    WITH t AS (
      SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS L,
             1 + CAST(octet_length(encode(text)) AS BIGINT) % 32 AS nf
      FROM documents),
    f AS (SELECT doc_id, text, L, nf, unnest(range(0, nf, 4)) AS fno FROM t),
    s AS (
      SELECT doc_id, fno,
             array_to_string(list_transform(
               range(0, greatest(0, least(64, (L - fno + nf - 1) // nf))),
               j -> substr(text, CAST(fno + 1 + j * nf AS BIGINT), 1)), '')
               AS fstr
      FROM f)
    SELECT doc_id, CAST(fno AS INT) AS frame_no,
           CAST(fno * 1000 // 30 AS BIGINT) AS frame_ts_ms,
           md5(fstr) AS frame_md5
    FROM s
    """,
)
def q_ext_multimodal_frames(spark, sf_dir):
    """Video frame sampling via mapInPandas row fan-out (one payload →
    k typed frame rows; decode stubbed deterministically — the REAL
    container parse is ext_multimodal_clip).

    ORACLE (round-6 upgrade): the deterministic stub — n_frames =
    1 + len % 32, every 4th frame, frame bytes = the stride slice
    payload[fno::n_frames][:64] — is restated relationally as a
    per-character gather (substr at fno + 1 + j·n_frames), valid
    because this corpus is pure ASCII (byte slicing == char slicing;
    the byte-level contract itself is pytest-pinned).  Proves the
    Arrow fan-out path — schema, cardinality, payload bytes, digests —
    against an engine that never ran Python.

    Round-7: the published projection carries the md5 DIGEST only —
    the driver canonicalizer cannot hash raw BINARY cells
    (CORRECTNESS_r06 `unhashable type: 'bytearray'`); the payload
    bytes themselves stay pinned by tests/test_operators.py."""
    from .ext.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "text")
    frames = sample_frames(payloads, "doc_id", "payload")
    return frames.select("doc_id", "frame_no", "frame_ts_ms", "frame_md5")


@register(
    "ext_multimodal_clip",
    """
    SELECT doc_id, CAST(fno AS INT) AS frame_no,
           CAST(fno * 1000 // 30 AS BIGINT) AS frame_ts_ms
    FROM documents, (SELECT unnest([0, 4]) AS fno)
    WHERE doc_id < 64
    """,
)
def q_ext_multimodal_clip(spark, sf_dir):
    """REAL video-container path: deterministic concatenated-PNG clips
    (6 genuine PNG frames back-to-back — the PNG analog of MJPEG) for
    a bounded 64-doc slice, then the chunk-walking container parse
    (ext/multimodal.split_png_frames) samples every 4th frame.  The
    published projection is the parse's fan-out contract — exactly
    frames {0, 4} per clip with 30 fps timestamps — which the oracle
    restates; the frame BYTES round-trip (parsed frame md5 == encoder
    output md5, corrupt-stream salvage) is pinned by pytest, since
    zlib-compressed PNG bytes have no relational restatement."""
    from .ext.multimodal import sample_frames, synth_clip_payload

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    clips = synth_clip_payload(docs, "doc_id")
    frames = sample_frames(
        clips, "doc_id", "payload", every_nth=4, fps=30, use_real_codec=True
    )
    return frames.select("doc_id", "frame_no", "frame_ts_ms")


@register(
    "ext_multimodal_resize",
    """
    WITH t AS (
      SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS L
      FROM documents),
    s AS (SELECT doc_id, text, L, greatest(L // 49, 1) AS stride FROM t),
    o AS (
      SELECT doc_id,
             array_to_string(list_transform(
               range(0, least(49, (L + stride - 1) // stride)),
               j -> substr(text, CAST(1 + j * stride AS BIGINT), 1)), '')
               AS pstr
      FROM s)
    SELECT doc_id, CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
           md5(pstr) AS payload_md5,
           CAST(octet_length(encode(pstr)) AS INT) AS payload_bytes
    FROM o
    """,
)
def q_ext_multimodal_resize(spark, sf_dir):
    """Image resize to a fixed training resolution (binary in, smaller
    binary out; resampling stubbed deterministically — the REAL pixel
    path is ext_multimodal_resize_png).

    ORACLE (round-6 upgrade): the stub's stride subsample —
    payload[::max(len//49, 1)][:49] — restated as a per-character
    gather, exact on this pure-ASCII corpus (see
    ext_multimodal_frames for the slicing argument).

    Round-7: publish md5(payload) + payload_bytes instead of the raw
    BINARY column (driver canonicalizer crash, CORRECTNESS_r06); the
    byte-level resize contract stays pinned by
    tests/test_operators.py.  Spark's md5 over BINARY equals DuckDB's
    md5 over the source string because the payload is its ASCII
    encoding."""
    from .ext.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_binary_payload(docs, "text")
    out = resize_images(payloads, "doc_id", "payload")
    return out.select(
        "doc_id",
        "width",
        "height",
        F.md5(F.col("payload")).alias("payload_md5"),
        "payload_bytes",
    )


@register(
    "stream_dedup_watermark",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def q_stream_dedup_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark over a streamed events source:
    key-dedup tolerating restamped duplicate arrivals, state bounded by
    the 4-day archive-lag watermark (availableNow → memory).

    ORACLE (round-6 upgrade, batch twin): event_id is unique in the
    events table, so the streamed dedup must pass every event through
    EXACTLY once with all columns byte-identical — the oracle is the
    table itself, and any duplicate emission, drop, or column mangling
    in the streaming path hash-fails.  The with-duplicates semantics
    (first arrival wins, restamped ts tolerated, state expiry) stay
    pinned by the planted-duplicate tests in tests/test_streaming.py."""
    from .streaming.jobs import dedup_within_watermark, run_stream_to_memory
    from .streaming.jobs import streaming_events_source

    src = streaming_events_source(spark, sf_dir)
    out = dedup_within_watermark(src, ["event_id"])
    return run_stream_to_memory(out, "append")


@register(
    "ext_text_bigrams",
    """
    WITH tok AS (SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                    x -> x <> '') AS w FROM documents),
    idx AS (SELECT w, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
            FROM tok WHERE len(w) >= 2),
    bg AS (SELECT array_to_string(w[i:i+1], ' ') AS bigram FROM idx),
    cnt AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram)
    SELECT bigram, n FROM (
      SELECT bigram, n,
             row_number() OVER (ORDER BY n DESC, bigram) AS rn
      FROM cnt)
    WHERE rn <= 20
    """,
)
def q_ext_text_bigrams(spark, sf_dir):
    """Corpus-wide top-20 word bigrams by occurrence count
    (deterministic tie-break on the bigram text) — the n-gram
    frequency shape of the text-analysis mandate; counts every
    occurrence, unlike the dedup shingle sets."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.lower(F.col("text")), r"\s+")
    # cache barrier before the explode: the bigram transform's lambda
    # references the token array, and explode over that NESTED
    # higher-order expression re-evaluates the inlined tokenization per
    # array element (measured 2.8 s vs 0.4 s with the barrier at sf0.1)
    tok_tbl = docs.select(tokens.alias("toks")).persist()
    idx = F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1)))
    bigrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice("toks", i, 2)))
    bg = (
        tok_tbl.filter(F.size("toks") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # top-20 via orderBy+limit (TakeOrderedAndProject), then the rank
    # window runs over 20 rows — not over the full bigram vocabulary
    w = Window.orderBy(F.col("n").desc(), "bigram")
    return (
        bg.orderBy(F.col("n").desc(), "bigram").limit(20)
        .withColumn("rn", F.row_number().over(w))
        .select("bigram", "n")
    )


@register(
    "agg_listagg",
    """
    SELECT source,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents GROUP BY source
    """,
)
def q_agg_listagg(spark, sf_dir):
    """Ordered string aggregation (LISTAGG): deterministic comma-joined
    distinct values per group — order is pinned, so the result is
    reproducible under any partitioning (an unordered listagg is not a
    well-defined query)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )


@register(
    "ext_embed_normalize",
    """
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(embedding,
                    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS uv
      FROM embeddings)
    SELECT vec_id, CAST(generate_subscripts(uv, 1) - 1 AS INT) AS pos,
           unnest(uv) AS value
    FROM u
    """,
)
def q_ext_embed_normalize(spark, sf_dir):
    """L2-normalize embedding vectors to unit length — per-row float
    arithmetic, unrounded (identical IEEE op sequence in both engines
    is bit-identical; both sum the squares left-to-right).  Published
    as scalar ``(vec_id, pos, value)`` rows (0-based ``pos``) so
    hash-comparison tooling can sort them — array cells are
    unhashable."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = F.sqrt(sq)
    unit = F.transform("embedding", lambda x: x.cast("double") / norm)
    return emb.select(
        "vec_id", F.posexplode(unit).alias("pos", "value")
    )


@register(
    "join_asof_abs_nearest",
    """
    WITH r AS (
      SELECT o_custkey AS user_id,
             TIMESTAMP '2024-01-01' + INTERVAL (dayofyear(o_orderdate) % 30) DAY AS rdate,
             CAST(max(o_orderkey) AS BIGINT) AS asof_orderkey
      FROM orders GROUP BY 1, 2
    ),
    b AS (
      SELECT e.event_id, e.ts, e.user_id, r.rdate AS brd, r.asof_orderkey AS bkey
      FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.user_id AND e.ts >= r.rdate
    ),
    f AS (
      SELECT e.event_id, r.rdate AS frd, r.asof_orderkey AS fkey
      FROM events e ASOF LEFT JOIN r
        ON e.user_id = r.user_id AND e.ts <= r.rdate
    )
    SELECT b.event_id, b.ts, b.user_id,
           CASE WHEN bkey IS NULL THEN fkey
                WHEN fkey IS NULL THEN bkey
                WHEN epoch_us(b.ts) - epoch_us(brd) <= epoch_us(frd) - epoch_us(b.ts)
                  THEN bkey ELSE fkey END AS asof_orderkey
    FROM b JOIN f USING (event_id)
    """,
)
def q_join_asof_abs_nearest(spark, sf_dir):
    """Absolute-nearest as-of join (ties → backward): the literal
    grid-snapping semantic (WetIng.pdf p.1-2), both directions
    evaluated in one union+window pass; DuckDB two-directional ASOF
    JOIN as oracle."""
    from .operators import asof_join_nearest

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
    return asof_join_nearest(
        ev, right, on=["user_id"], left_ts="ts", right_ts="rdate",
        payload_cols=["asof_orderkey"],
    )


@register(
    "join_asof_chunked",
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
def q_join_asof_chunked(spark, sf_dir):
    """Skew-safe backward as-of join: per-key window split over daily
    chunks with exact boundary carry-in — same DuckDB ASOF oracle as
    join_asof_nearest (identical semantics, hot-key-splitting plan)."""
    from .operators import asof_join_chunked

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
    return asof_join_chunked(
        ev, right, on=["user_id"], left_ts="ts", right_ts="rdate",
        payload_cols=["asof_orderkey"], chunk="1 day",
    )


@register(
    "ext_dedup_keep",
    f"""
    WITH RECURSIVE {_NEAR_DUP_CORPUS_SQL},
    tok AS (SELECT doc_id AS id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w FROM corpus),
    idx AS (SELECT id, w, unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS i FROM tok),
    sh AS (SELECT DISTINCT id, array_to_string(w[i:i+2], ' ') AS shingle FROM idx),
    cnt AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM sh a JOIN sh b USING (shingle)
      JOIN cnt ca ON a.id = ca.id JOIN cnt cb ON b.id = cb.id
      WHERE a.id < b.id
      GROUP BY 1, 2, ca.n_sh, cb.n_sh
      HAVING count(*) / (ca.n_sh + cb.n_sh - count(*)) >= 0.5
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, lab) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lab < e.dst
    )
    SELECT id AS doc_id FROM reach GROUP BY id HAVING min(lab) = id
    """,
)
def q_ext_dedup_keep(spark, sf_dir):
    """Deduplicated-corpus materialization: surviving doc ids after
    near-dup clustering — one representative (min id) per cluster,
    singletons kept."""
    from .ext.dedup import dedup_keep_representatives

    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5)
    return dedup_keep_representatives(
        corpus.select("doc_id"), pairs.select("id_a", "id_b"), "doc_id"
    )


@register(
    "ext_text_repetition",
    """
    WITH tok AS (SELECT doc_id,
                        list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                    x -> x <> '') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
            FROM tok),
    g AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram FROM idx),
    agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_ngrams,
                   CAST(count(DISTINCT gram) AS INT) AS n_distinct_ngrams
            FROM g GROUP BY doc_id)
    SELECT doc_id, n_ngrams, n_distinct_ngrams,
           CASE WHEN n_ngrams > 0
                THEN (n_ngrams - n_distinct_ngrams) / CAST(n_ngrams AS DOUBLE)
                ELSE 0.0 END AS dup_ngram_frac
    FROM agg
    """,
)
def q_ext_text_repetition(spark, sf_dir):
    """Per-document repeated-bigram fraction — the C4/Gopher
    boilerplate/spam repetition signal; a narrow no-shuffle
    projection."""
    from .ext.text import repetition_stats

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", n=2)


@register(
    "ext_text_contamination",
    f"""
    WITH {_NEAR_DUP_CORPUS_SQL},
    tok AS (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS w FROM corpus),
    idx AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i
            FROM tok),
    g AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS gram
          FROM idx)
    SELECT a.doc_id AS train_id, b.doc_id AS test_id,
           CAST(count(*) AS BIGINT) AS shared_ngrams
    FROM g a JOIN g b USING (gram)
    WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
    GROUP BY 1, 2
    """,
)
def q_ext_text_contamination(spark, sf_dir):
    """Benchmark decontamination: word-8-gram overlap between the base
    corpus (train) and the held-out perturbed copies (test) — the
    GPT-3-style n-gram contamination check as a rare-shingle
    equi-join."""
    from .ext.text import contamination_pairs

    corpus = _near_dup_corpus(spark, sf_dir)
    train = corpus.filter(F.col("doc_id") < 1000000)
    test = corpus.filter(F.col("doc_id") >= 1000000)
    return contamination_pairs(train, test, "doc_id", "text", n=8)


@register(
    "ext_embed_quantize",
    """
    WITH q AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
      FROM embeddings
    ),
    ql AS (
      SELECT vec_id,
             CASE WHEN mx > 0
                  THEN list_transform(embedding,
                         x -> CAST(floor(CAST(x AS DOUBLE) / mx * 127.0 + 0.5) AS INT))
                  ELSE list_transform(embedding, x -> 0) END AS qvec,
             CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END AS scale
      FROM q
    )
    SELECT vec_id, CAST(generate_subscripts(qvec, 1) - 1 AS INT) AS pos,
           unnest(qvec) AS qval, scale
    FROM ql
    """,
)
def q_ext_embed_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization (per-vector scale) — 4x
    corpus shrink for the ANN stack; every step an IEEE-identical
    scalar op, so the oracle hashes equal with no rounding caveats.
    Published as scalar ``(vec_id, pos, qval, scale)`` rows (0-based
    ``pos``) so hash-comparison tooling can sort them; the packed
    ``array<int>`` form stays available as
    ``simsearch.quantize_embeddings``."""
    from .ext.simsearch import quantize_embeddings

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb, "vec_id", "embedding", bits=8)
    return q.select(
        "vec_id", "scale", F.posexplode("qvec").alias("pos", "qval")
    ).select("vec_id", "pos", "qval", "scale")


@register(
    "ext_text_pii",
    """
    WITH seeded AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or call 555-867-5309'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g') AS text_redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS INT) AS n_phones
    FROM seeded
    """,
)
def q_ext_text_pii(spark, sf_dir):
    """PII redaction (emails + phone numbers -> placeholder tags) over
    a corpus with deterministically planted PII in every 7th doc —
    the C4-style scrubbing step as a no-shuffle projection."""
    from .ext.text import redact_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555-867-5309"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return redact_pii(docs, "doc_id", "text")


@register(
    "win_sessionize",
    """
    SELECT event_id, user_id, ts,
           CAST(sum(CASE WHEN prev IS NULL
                         OR epoch_us(ts) - epoch_us(prev) > 3600000000
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
    FROM (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    )
    """,
)
def q_win_sessionize(spark, sf_dir):
    """Gap-based sessionization (1-hour inactivity gap) per user —
    lag + running sum in one per-key window pass; the batch twin of
    stream_window_session."""
    from .operators.windows import sessionize

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sessionize(
        ev, ["user_id"], "ts", gap_seconds=3600, tiebreak=["event_id"]
    )


@register(
    "ext_sample_weighted",
    """
    SELECT *,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             / n_chars AS priority
    FROM documents
    ORDER BY priority, doc_id
    LIMIT 50
    """,
)
def q_ext_sample_weighted(spark, sf_dir):
    """Deterministic weight-biased sampling (priority = id-hash /
    weight, global k lowest win) — longer documents proportionally
    favored, membership a pure function of (id, weight)."""
    from .ext.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_topk(docs, "doc_id", "n_chars", k=50)


@register(
    "ext_pack_sequences",
    """
    WITH s AS (
      SELECT *,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT)
               % 8 AS shard
      FROM documents
    ),
    o AS (
      SELECT *,
             CAST(COALESCE(sum(n_chars) OVER (
                    PARTITION BY shard ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS ofs
      FROM s
    )
    SELECT doc_id, text, lang, source, n_chars, shard,
           ofs // 2048 AS bin_id,
           ofs % 2048 AS bin_offset,
           ((ofs + n_chars - 1) // 2048) > (ofs // 2048) AS straddles
    FROM o
    """,
)
def q_ext_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing into 2048-token
    bins (n_chars as the token count), sharded id-hash streams so no
    single task owns the global running offset."""
    from .ext.packing import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "n_chars", budget=2048, n_shards=8)


@register(
    "agg_histogram",
    """
    SELECT event_type,
           CAST(floor(value * 2.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(floor(value * 2.0) AS BIGINT) / 2.0 AS bin_lo
    FROM events
    GROUP BY event_type, bin
    """,
)
def q_agg_histogram(spark, sf_dir):
    """Equi-width value histogram per event type (power-of-two bin
    scale -> bit-exact bin ids cross-engine); shuffle carries only
    |types|x|bins| rows."""
    from .operators.aggregates import value_histogram

    ev = load_table(spark, sf_dir, "events")
    return value_histogram(ev, "value", scale=2, group_cols=["event_type"])


@register(
    "agg_sigma_outliers",
    """
    WITH r AS (
      SELECT event_id, event_type, value,
             CAST(round(value * 100, 0) AS BIGINT) AS xc
      FROM events WHERE value IS NOT NULL
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(xc) AS HUGEINT) AS s,
             CAST(sum(xc * xc) AS HUGEINT) AS q
      FROM r GROUP BY event_type
    )
    SELECT r.event_id, r.event_type, r.value
    FROM r JOIN m USING (event_type)
    WHERE (n * xc - s) * (n * xc - s) > 9 * (n * q - s * s)
    """,
)
def q_agg_sigma_outliers(spark, sf_dir):
    """3-sigma outliers per event type decided in exact integer
    arithmetic (cross-multiplied variance test over cents moments) —
    no float stddev, so boundary rows cannot flip across engines or
    partial-aggregation orders."""
    from .operators.aggregates import sigma_outliers

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return sigma_outliers(
        ev, ["event_type"], "value", n_sigma=3, id_cols=["event_id"]
    )


@register(
    "win_coalesce_intervals",
    """
    WITH iv AS (
      SELECT user_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts
      FROM events
    ),
    m AS (
      SELECT *,
             max(end_ts) OVER (PARTITION BY user_id ORDER BY start_ts, end_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM iv
    ),
    isl AS (
      SELECT *,
             sum(CASE WHEN prev_end IS NULL OR start_ts > prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY start_ts, end_ts
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    )
    SELECT user_id, min(start_ts) AS start_ts, max(end_ts) AS end_ts,
           CAST(count(*) AS BIGINT) AS n_merged
    FROM isl GROUP BY user_id, island
    """,
)
def q_win_coalesce_intervals(spark, sf_dir):
    """Gaps-and-islands interval coalescing: merge overlapping
    30-minute event windows per user into connected unions — one
    per-key ordered window + one hash aggregate."""
    from .operators.windows import coalesce_intervals

    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    return coalesce_intervals(iv, ["user_id"], "start_ts", "end_ts")


@register(
    "bench_q5",
    """
    SELECT n_name,
           sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
             / 100.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_bench_q5(spark, sf_dir):
    """TPC-H Q5 shape: six-table local-supplier join with the extra
    c_nationkey = s_nationkey correlation — the join-order benchmark.
    Dims (nation, region, supplier at this ratio) broadcast; the
    fact-fact orders-lineitem join carries the only big shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            (
                F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                / 100.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "win_scd2",
    """
    WITH c AS (
      SELECT event_id, user_id, ts, event_type,
             lag(event_type) OVER w AS prev,
             lag(1) OVER w AS prev_ex
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    k AS (
      SELECT event_id, user_id, ts, event_type FROM c
      WHERE prev_ex IS NULL OR event_type IS DISTINCT FROM prev
    )
    SELECT event_id, user_id, ts, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM k
    """,
)
def q_win_scd2(spark, sf_dir):
    """SCD-2 compression of the per-user event-type change log: runs
    of identical values collapse to their first row, each survivor
    stamped with its [valid_from, valid_to) coverage — the temporal-
    table build, two passes over one per-key ordering."""
    from .operators.windows import scd2_compress

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return scd2_compress(
        ev, ["user_id"], "ts", "event_type", tiebreak=["event_id"]
    )


@register(
    "ext_sample_epoch",
    """
    WITH s AS (
      SELECT *,
             md5(CAST(doc_id AS VARCHAR) || ':1') AS eh,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 2)
                  AS BIGINT) % 8 AS shard
      FROM documents
    )
    SELECT doc_id, text, lang, source, n_chars, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY eh, doc_id)
                AS BIGINT) AS shuffle_rank
    FROM s
    """,
)
def q_ext_sample_epoch(spark, sf_dir):
    """Deterministic epoch-1 training shuffle: shard-major
    pseudo-random permutation keyed on (doc_id, epoch) — resumable,
    engine-independent epoch ordering for data loaders."""
    from .ext.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, "doc_id", epoch=1, n_shards=8)


@register(
    "agg_gini",
    """
    WITH g AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS c0,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS c1,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS c2,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS DOUBLE) AS c3,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS c4
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_rows,
           1.0 - (((((0.0
             + (c0 / CAST(n_rows AS DOUBLE)) * (c0 / CAST(n_rows AS DOUBLE)))
             + (c1 / CAST(n_rows AS DOUBLE)) * (c1 / CAST(n_rows AS DOUBLE)))
             + (c2 / CAST(n_rows AS DOUBLE)) * (c2 / CAST(n_rows AS DOUBLE)))
             + (c3 / CAST(n_rows AS DOUBLE)) * (c3 / CAST(n_rows AS DOUBLE)))
             + (c4 / CAST(n_rows AS DOUBLE)) * (c4 / CAST(n_rows AS DOUBLE)))
             AS gini
    FROM g
    """,
)
def q_agg_gini(spark, sf_dir):
    """Per-user Gini impurity of the event-type mix — the
    concentration metric chosen over entropy because ln() is not
    bit-identical between libm and the JVM; Gini is pure IEEE
    division/multiply/add in a fixed fold order."""
    from .operators.aggregates import gini_impurity

    ev = load_table(spark, sf_dir, "events")
    return gini_impurity(
        ev, ["user_id"], "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )


@register(
    "f_url_parse",
    """
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
      FROM documents
    )
    SELECT doc_id, url,
           regexp_extract(url, 'https://([^/]+)', 1) AS host,
           regexp_extract(url, 'https://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
    FROM u
    """,
)
def q_f_url_parse(spark, sf_dir):
    """URL decomposition (host / path / query param) with
    engine-portable regexes — the canonicalization substrate for
    URL-keyed dedup; both engines return '' on no match."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id", "url",
        F.regexp_extract("url", r"https://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", r"https://[^/]+([^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"[?&]lang=([^&]*)", 1).alias("lang_param"),
    )


@register(
    "win_percent_rank",
    """
    SELECT event_id, event_type, value,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q_win_percent_rank(spark, sf_dir):
    """Relative standing within each event type: percent_rank +
    cume_dist over a fully-ordered window (value, id tiebreak) — both
    are rank ratios, IEEE-identical across engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type", "value",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# =====================================================================
# Round-2 additions: TF-IDF salience, balanced mixture sampling,
# URL-keyed dedup, corpus length report, stream-static join
# =====================================================================


@register(
    "ext_text_tfidf",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                x -> x <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents),
    s AS (
      SELECT doc_id, term, tf, df,
             CAST(floor(1000000.0 * tf * ln((n + 1.0) / (df + 1.0))) AS BIGINT)
               AS score_micro
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), r AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score_micro DESC, term) AS rnk
      FROM s
    )
    SELECT doc_id, term, tf, df, score_micro, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def q_ext_text_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document — corpus salience extraction;
    ranking on the floored-micro integer score keeps the one
    non-IEEE-pinned op (ln) out of the cross-engine hash."""
    from .ext.text import tfidf_topk

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_topk(docs, "doc_id", "text", k=3)


@register(
    "ext_sample_balance",
    """
    WITH base AS (SELECT doc_id, source FROM documents WHERE n_chars >= 150),
    m AS (SELECT min(cnt) AS m
          FROM (SELECT source, count(*) AS cnt FROM base GROUP BY source)),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM base
    )
    SELECT doc_id, source, CAST(rn AS INT) AS rn
    FROM r CROSS JOIN m WHERE rn <= m.m
    """,
)
def q_ext_sample_balance(spark, sf_dir):
    """Domain-balanced downsample: every source keeps exactly
    min-source-size docs in deterministic id-hash order (the corpus is
    pre-filtered to n_chars ≥ 150 so source sizes genuinely differ —
    the balancer must actually drop rows)."""
    from .ext.sampling import balanced_sample

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") >= 150)
        .select("doc_id", "source")
    )
    return balanced_sample(docs, "source", "doc_id").select(
        "doc_id", "source", "rn"
    )


@register(
    "ext_dedup_url",
    """
    WITH u AS (
      SELECT doc_id,
             'https://'
             || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
             || source || '.Example.COM'
             || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
             || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
             || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
             || '?id=' || CAST(doc_id % 50 AS VARCHAR)
             || CASE WHEN doc_id % 2 = 0
                     THEN '&utm_source=feed&utm_campaign=c1' ELSE '' END
             || CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END
               AS url
      FROM documents
    ), c AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(
                 lower(url),
                 '#.*$', '', 'g'),
                 '&utm_[^&#]*', '', 'g'),
                 'https://www\\.', 'https://', 'g'),
                 ':443/', '/', 'g'),
                 '/\\?', '?', 'g'),
                 '/$', '', 'g') AS canonical_url
      FROM u
    )
    SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups,
           min(doc_id) AS keep_id
    FROM c GROUP BY canonical_url
    """,
)
def q_ext_dedup_url(spark, sf_dir):
    """URL-keyed dedup after canonicalization (case, www., default
    port, trailing slash, utm_* params, fragment) over messy synthetic
    variants — min-id survivor per canonical URL."""
    from .ext.dedup import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    mk = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="), (F.col("doc_id") % 50).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("&utm_source=feed&utm_campaign=c1")
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return url_dedup(docs.select("doc_id", mk.alias("url")), "url", "doc_id")


@register(
    "ext_source_stats",
    """
    WITH t AS (
      SELECT source, n_chars, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_len,
           CAST(max(n_chars) AS BIGINT) AS max_len,
           CAST(sum(n_chars) AS BIGINT) AS total_len,
           CAST(max(CASE WHEN rn = CAST(floor((cnt - 1) * 0.5) AS BIGINT) + 1
                         THEN n_chars END) AS BIGINT) AS p50_len,
           CAST(max(CASE WHEN rn = CAST(floor((cnt - 1) * 0.9) AS BIGINT) + 1
                         THEN n_chars END) AS BIGINT) AS p90_len
    FROM t GROUP BY source
    """,
)
def q_ext_source_stats(spark, sf_dir):
    """Per-source corpus length report with exact discrete percentiles
    (type-1 selection — integer outputs, no interpolation rules to
    reconcile across engines)."""
    from .ext.text import length_percentiles

    docs = load_table(spark, sf_dir, "documents")
    return length_percentiles(docs, "source", "n_chars", "doc_id")


@register(
    "stream_join_static",
    """
    SELECT n_name, CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events JOIN nation ON n_nationkey = user_id % 25
    GROUP BY n_name
    """,
)
def q_stream_join_static(spark, sf_dir):
    """A REAL stream-static join run: file-source event stream ×
    broadcast nation dimension → per-nation aggregate, availableNow →
    memory sink.  Complete output mode makes the result equal the
    batch join-aggregate, so the oracle still applies."""
    from .streaming.jobs import (
        run_stream_to_memory,
        streamed_static_join_aggregate,
        streaming_events_source,
    )

    src = streaming_events_source(spark, sf_dir)
    dim = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = streamed_static_join_aggregate(
        src, dim, (F.col("user_id") % 25).cast("long"), "n_name"
    )
    return run_stream_to_memory(agg, "complete")


@register(
    "ext_sample_temperature",
    """
    WITH s AS (SELECT lang, count(*) AS n_d FROM documents GROUP BY lang),
    m AS (SELECT min(n_d) AS n_min FROM s),
    h AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
               AS h52
      FROM documents
    )
    SELECT doc_id, lang
    FROM h JOIN s USING (lang) CROSS JOIN m
    WHERE h52 < sqrt(CAST(n_min AS DOUBLE) / n_d) * 4503599627370496.0
    """,
)
def q_ext_sample_temperature(spark, sf_dir):
    """α=0.5 temperature mixture resampling over the skewed ``lang``
    distribution (en dominates the fixture ~3:1): tail languages keep
    everything, dominant ones down-sample to ∝ sqrt(n) — deterministic
    id-hash Bernoulli, cross-engine exact (sqrt is correctly rounded,
    52-bit hashes fit a double)."""
    from .ext.sampling import temperature_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_sample(docs, "lang", "doc_id")


@register(
    "ext_shard_assign",
    """
    WITH h AS (
      SELECT doc_id, length(text) AS len,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT)
               % 16 AS shard
      FROM documents)
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len) AS BIGINT) AS total_chars
    FROM h GROUP BY shard
    """,
)
def q_ext_shard_assign(spark, sf_dir):
    """Deterministic output sharding (writer-side corpus partitioning
    into fixed shards/tars) + per-shard size accounting — id-hash
    modulo, stable across runs/engines/cluster sizes."""
    from .ext.sampling import shard_assign

    docs = load_table(spark, sf_dir, "documents")
    return (
        shard_assign(docs, "doc_id", n_shards=16)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
    )


@register(
    "ext_sample_interleave",
    """
    WITH s AS (
      SELECT source, CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS src_idx
      FROM (SELECT DISTINCT source FROM documents)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM s),
    r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
      FROM documents)
    SELECT doc_id, source, (rn - 1) * n_src + src_idx - 1 AS mix_pos
    FROM r JOIN s USING (source) CROSS JOIN n
    """,
)
def q_ext_sample_interleave(spark, sf_dir):
    """Deterministic multi-source round-robin interleaving: consuming
    rows in mix_pos order alternates domains evenly — the corpus-mixing
    step of a multi-source training loader, reproducible anywhere."""
    from .ext.sampling import interleave_sources

    docs = load_table(spark, sf_dir, "documents")
    return interleave_sources(docs, "source", "doc_id").select(
        "doc_id", "source", "mix_pos"
    )


@register(
    "ext_text_diversity",
    """
    WITH tc AS (
      SELECT doc_id, word, count(*) AS c FROM (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  x -> x <> '')) AS word
        FROM documents) GROUP BY doc_id, word
    ),
    a AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(c * c) AS BIGINT) AS c2
      FROM tc GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct,
           CAST(floor((1.0 - CAST(c2 AS DOUBLE)
                 / CAST(n_tokens * n_tokens AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS simpson_micro
    FROM a
    """,
)
def q_ext_text_diversity(spark, sf_dir):
    """Lexical diversity per document (Gini–Simpson index, floored to
    integer micro-units): the entropy-style repetition filter signal,
    restated on exact integer moments so cross-engine hashing is safe
    (Shannon's float sum is not)."""
    from .ext.text import token_diversity

    docs = load_table(spark, sf_dir, "documents")
    return token_diversity(docs, "doc_id", "text")


@register(
    "f_bit_ops",
    """
    SELECT event_id,
           CAST(user_id & 255 AS BIGINT) AS lo_byte,
           CAST(xor(user_id, event_id) AS BIGINT) AS x,
           CAST(user_id << 2 AS BIGINT) AS shl,
           CAST(user_id >> 3 AS BIGINT) AS shr
    FROM events
    """,
)
def q_f_bit_ops(spark, sf_dir):
    """Bitwise scalar family (mask / xor / shifts) — exact two's-
    complement integer semantics, identical in any engine; the
    flag-unpacking idiom for packed telemetry fields."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("user_id & 255").cast("long").alias("lo_byte"),
        F.expr("user_id ^ event_id").cast("long").alias("x"),
        F.expr("shiftleft(user_id, 2)").cast("long").alias("shl"),
        F.expr("shiftright(user_id, 3)").cast("long").alias("shr"),
    )


@register(
    "sink_partitioned_scan",
    """
    SELECT CAST(count(*) AS BIGINT) AS n,
           sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS value_sum
    FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
    """,
)
def q_sink_partitioned_scan(spark, sf_dir):
    """The 100 TB layout end-to-end: events written partitioned by
    ``date(ts)`` (the SURVEY §1.3 physical design), one day read back
    through partition pruning, aggregates matching the raw table —
    the write → pruned-scan → agg parity check as a driver-verified
    query rather than only a plan assertion (tests/test_plans.py pins
    the PartitionFilters side)."""
    import os

    # session-unique scratch path (shared recipe in registry.py): a
    # concurrent session at the same SF must not race this query's
    # overwrite-then-read; stale dead-session copies are age-swept
    from .registry import _clean_stale_scratch, _session_tag

    _clean_stale_scratch("/tmp/wds_partitioned_*")
    out = f"/tmp/wds_partitioned_{_session_tag(spark, sf_dir)}"
    ev = load_table(spark, sf_dir, "events")
    ev.withColumn("day", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "day"
    ).parquet(out)
    back = spark.read.parquet(out).filter(F.col("day") == F.lit("2024-01-15"))
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(_cents("value")) / 100.0).alias("value_sum"),
    )


@register(
    "ext_sample_negatives",
    "WITH "
    + _RRF_RANKING_SQL.format(
        cos_raw=_COSINE_SQL.format(a="qe", b="embedding"),
        cos_q=_COSINE_SQL.format(a="qqv", b="qv"),
    )
    + f"""
    , full_rank AS (
      SELECT query_id, vec_id AS match_id,
             {_COSINE_SQL.format(a="qe", b="embedding")} AS cosine,
             row_number() OVER (PARTITION BY query_id
               ORDER BY {_COSINE_SQL.format(a="qe", b="embedding")} DESC, vec_id)
               AS rnk
      FROM q CROSS JOIN embeddings WHERE vec_id <> query_id)
    SELECT query_id, match_id AS negative_id, cosine,
           CAST(rnk - 10 AS INT) AS neg_rank
    FROM full_rank WHERE rnk > 10 AND rnk <= 15
    """,
)
def q_ext_sample_negatives(spark, sf_dir):
    """Hard-negative mining (DPR/ANCE-style): per query the documents
    ranked 11-15 by exact cosine — similar enough to teach the
    contrastive margin, below the top-10 presumed-positive band."""
    from .ext.simsearch import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    out = hard_negatives(
        emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
        skip=10, take=5,
    )
    return out.withColumn("neg_rank", F.col("neg_rank").cast("int"))


@register(
    "ext_eval_recall",
    "WITH "
    + _RRF_RANKING_SQL.format(
        cos_raw=_COSINE_SQL.format(a="qe", b="embedding"),
        cos_q=_COSINE_SQL.format(a="qqv", b="qv"),
    )
    + """
    , t AS (SELECT query_id, match_id FROM ra WHERE rank <= 5),
    a AS (SELECT query_id, match_id FROM rb WHERE rank <= 5),
    h AS (
      SELECT t.query_id,
             CAST(sum(CASE WHEN a.match_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
             CAST(count(*) AS BIGINT) AS n_truth
      FROM t LEFT JOIN a
        ON t.query_id = a.query_id AND t.match_id = a.match_id
      GROUP BY t.query_id)
    SELECT query_id, n_hit, n_truth,
           CAST(floor(n_hit * 1000000 / n_truth) AS BIGINT) AS recall_micro
    FROM h
    """,
)
def q_ext_eval_recall(spark, sf_dir):
    """ANN quality assurance as an engine operator: recall@5 of the
    int8-quantized ranking against the exact ranking, per query —
    integer hit counts, floored-micro recall, cross-engine exact."""
    from .ext.simsearch import cosine_topk, quantize_embeddings, recall_at_k

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    truth = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    qz = quantize_embeddings(emb, "vec_id", "embedding", bits=8).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    approx = cosine_topk(qz, qz.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=5)
    return recall_at_k(truth, approx, k=5)


@register(
    "set_except_all",
    """
    SELECT l_orderkey AS okey FROM lineitem
    EXCEPT ALL
    SELECT o_orderkey FROM orders
    """,
)
def q_set_except_all(spark, sf_dir):
    """Multiset difference (EXCEPT ALL): bag semantics preserve
    multiplicity — each orderkey keeps (line-count − 1) copies after
    removing the single orders-side occurrence, which set EXCEPT would
    collapse to nothing."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey")
    )
    return li.exceptAll(o)


@register(
    "set_intersect_all",
    """
    SELECT l_orderkey AS okey FROM lineitem
    INTERSECT ALL
    SELECT o_orderkey FROM orders
    """,
)
def q_set_intersect_all(spark, sf_dir):
    """Multiset intersection (INTERSECT ALL): min-multiplicity bag
    semantics — one copy per orderkey here (orders side is unique),
    distinct from plain INTERSECT only in its general contract."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey")
    )
    return li.intersectAll(o)


@register("agg_approx_quantile")  # GK sketch — approximate, rows-only
def q_agg_approx_quantile(spark, sf_dir):
    """Sketch-based quantiles per group (Greenwald–Khanna via
    percentile_approx): the mergeable, bounded-memory quantile path
    for 100 TB where exact percentiles would shuffle every value —
    the quantile twin of the HLL distinct path (rank error bounded by
    the accuracy knob; unit test pins it against the exact
    percentile)."""
    ev = load_table(spark, sf_dir, "events")
    pa = F.percentile_approx("value", [0.5, 0.9], 1000)
    return ev.groupBy("event_type").agg(
        F.element_at(pa, 1).alias("p50_approx"),
        F.element_at(pa, 2).alias("p90_approx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@register(
    "join_salted_skew",
    """
    WITH dim AS (
      SELECT DISTINCT event_type,
             CAST(length(event_type) AS BIGINT) AS type_len
      FROM events)
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(d.type_len) AS BIGINT) AS len_sum
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_join_salted_skew(spark, sf_dir):
    """Hot-key mitigation made driver-visible: the events fact side
    (few, heavily repeated event_type keys — exactly the celebrity-key
    shape) joins its dimension through an 8-way salted join, and the
    ORACLE is the plain unsalted join — proving salting is
    row-identical for inner joins while the hot key's rows spread over
    ``salt`` reducers (operators/skew.salted_join)."""
    from .operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_type")
    dim = (
        ev.distinct()
        .select(
            "event_type",
            F.length("event_type").cast("long").alias("type_len"),
        )
    )
    joined = salted_join(ev, dim, on="event_type", salt=8, how="inner")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("type_len").cast("long").alias("len_sum"),
    )


@register(
    "f_geo_tile",
    """
    SELECT c_custkey,
           CAST(floor((CAST(c_custkey % 500 AS DOUBLE) - 200.0 + 180.0)
                / 360.0 * 256.0) AS BIGINT) AS tile_x,
           CAST(floor((90.0 - c_acctbal / 60.0) / 180.0 * 256.0) AS BIGINT) AS tile_y
    FROM customer
    WHERE c_acctbal / 60.0 BETWEEN -90 AND 90
      AND CAST(c_custkey % 500 AS DOUBLE) - 200.0 BETWEEN -180 AND 180
    """,
)
def q_f_geo_tile(spark, sf_dir):
    """Equirectangular tile binning at zoom 8 (2^8 × 2^8 grid): the
    spatial join key for co-locating observations with forecast grid
    cells — pure exact double arithmetic + floor, no trig."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") / 60.0).alias("lat"),
        ((F.col("c_custkey") % 500).cast("double") - 200.0).alias("lon"),
    )
    z = 256.0  # 2^8 tiles per axis
    return (
        cust.filter(
            F.col("lat").between(-90, 90) & F.col("lon").between(-180, 180)
        )
        .select(
            "c_custkey",
            F.floor((F.col("lon") + 180.0) / 360.0 * z).cast("long").alias("tile_x"),
            F.floor((90.0 - F.col("lat")) / 180.0 * z).cast("long").alias("tile_y"),
        )
    )


@register(
    "agg_bitmap_distinct",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS nd
    FROM events GROUP BY event_type
    """,
)
def q_agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via roaring-style bitmaps (Spark 3.5+
    bitmap functions): per (group, 32k-bucket) partial bitmaps OR-merge
    map-side, then bucket counts sum — the scale path for exact
    count-distinct, whose naive form must shuffle every distinct value.
    The oracle is plain COUNT(DISTINCT): same answer, different
    physics."""
    ev = load_table(spark, sf_dir, "events")
    inner = ev.groupBy(
        "event_type", F.expr("bitmap_bucket_number(user_id)").alias("__b")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias("__bm"))
    return (
        inner.groupBy("event_type")
        .agg(F.sum(F.expr("bitmap_count(__bm)")).cast("long").alias("nd"))
    )


@register(
    "ext_simsearch_rrf",
    "WITH "
    + _RRF_RANKING_SQL.format(
        cos_raw=_COSINE_SQL.format(a="qe", b="embedding"),
        cos_q=_COSINE_SQL.format(a="qqv", b="qv"),
    )
    + """
    , fa AS (SELECT query_id, match_id, 1.0 / (60.0 + rank) AS sa
             FROM ra WHERE rank <= 10),
    fb AS (SELECT query_id, match_id, 1.0 / (60.0 + rank) AS sb
           FROM rb WHERE rank <= 10),
    fused AS (
      SELECT coalesce(fa.query_id, fb.query_id) AS query_id,
             coalesce(fa.match_id, fb.match_id) AS match_id,
             coalesce(sa, 0.0) + coalesce(sb, 0.0) AS rrf
      FROM fa FULL OUTER JOIN fb
        ON fa.query_id = fb.query_id AND fa.match_id = fb.match_id)
    SELECT query_id, match_id, rrf, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY rrf DESC, match_id) AS INT) AS rank
      FROM fused)
    WHERE rank <= 3
    """,
)
def q_ext_simsearch_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion: the exact cosine
    ranking fused with the int8-quantized cosine ranking (coarse/fine
    hybrid) — RRF works on integer ranks, so the fused score is
    bit-identical cross-engine where raw score fusion would not be."""
    from .ext.simsearch import cosine_topk, quantize_embeddings, rrf_fuse

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    run_a = cosine_topk(emb, queries, "vec_id", "embedding", k=10).select(
        "query_id", "match_id", "rank"
    )
    qz = quantize_embeddings(emb, "vec_id", "embedding", bits=8).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    run_b = cosine_topk(
        qz, qz.filter(F.col("vec_id") < 5), "vec_id", "embedding", k=10
    ).select("query_id", "match_id", "rank")
    return rrf_fuse(run_a, run_b, k=3).withColumn(
        "rank", F.col("rank").cast("int")
    )


@register(
    "win_resample_ffill",
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
      FROM events GROUP BY user_id, ts)
    SELECT g.user_id, g.ts, o.value AS ffill_value
    FROM grid g ASOF LEFT JOIN obs o
      ON g.user_id = o.user_id AND g.ts >= o.ts
    """,
)
def q_win_resample_ffill(spark, sf_dir):
    """Regular-grid resample with forward fill: project each user's
    irregular event stream onto a daily grid, carrying the last
    observation forward (the reference's hourly→15-min resample
    semantic generalized, server.py:213-217) — expressed as
    grid × backward as-of join, so it reuses the single-shuffle as-of
    plan; DuckDB ASOF JOIN is the oracle."""
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
    out = asof_join(
        grid, obs, on=["user_id"], left_ts="grid_ts", right_ts="ts",
        payload_cols=["value"],
    )
    return out.select(
        "user_id",
        F.col("grid_ts").alias("ts"),
        F.col("value").alias("ffill_value"),
    )


@register(
    "ext_multimodal_tar",
    """
    SELECT 'shard-' || lpad(CAST(
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)
                  AS BIGINT) % 4 AS VARCHAR), 5, '0') || '.tar' AS shard,
           CAST(doc_id AS VARCHAR) AS key,
           CAST(doc_id AS VARCHAR) || '.txt' AS member,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_ext_multimodal_tar(spark, sf_dir):
    """WebDataset tar-shard round trip: documents hash-route to tar
    shards written executor-side (stdlib tarfile — real plumbing, not
    a stub), then scan back through format('webdataset') with one
    partition per shard (sources/webdataset.py).  Oracle-able because
    every surviving column is a pure function of the manifest: the
    shard name restates the 52-bit id-hash route (`shard_assign`
    semantics), the key/member echo the inputs, and n_bytes is the
    payload's UTF-8 byte length — so the round trip through real tar
    bytes must land exactly on the DuckDB restatement."""
    import os

    from .registry import _clean_stale_scratch, _session_tag
    from .sources.webdataset import register_webdataset_source, write_webdataset

    register_webdataset_source(spark)
    _clean_stale_scratch("/tmp/wds_webdataset_*")
    out_dir = f"/tmp/wds_webdataset_{_session_tag(spark, sf_dir)}"
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lit("txt").alias("member"), F.col("text").cast("binary").alias("payload")
    )
    write_webdataset(docs, "doc_id", "member", "payload", out_dir, n_shards=4)
    return (
        spark.read.format("webdataset")
        .load(out_dir)
        .select("shard", "key", "member", "n_bytes")
    )


@register(
    "ext_dedup_lines",
    """
    WITH seeded AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN chr(10) || 'subscribe to our newsletter'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN chr(10) || '(c) example.com all rights reserved'
                     ELSE '' END AS text
      FROM documents),
    l AS (
      SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
      FROM seeded),
    pd AS (
      SELECT line, doc_id, count(*) AS n
      FROM l WHERE line <> '' GROUP BY line, doc_id)
    SELECT line, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n) AS BIGINT) AS n_total
    FROM pd GROUP BY line HAVING count(*) >= 2
    """,
)
def q_ext_dedup_lines(spark, sf_dir):
    """Line-level boilerplate detection (C4/RefinedWeb repeated-line
    removal): lines recurring across ≥2 documents — exercised by
    seeding shared newsletter/copyright footer lines into the fixture
    docs on both engines."""
    from .ext.dedup import boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nsubscribe to our newsletter"),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("\n(c) example.com all rights reserved"),
            ).otherwise(""),
        ).alias("text"),
    )
    return boilerplate_lines(seeded, "doc_id", "text", min_docs=2)


@register(
    "ext_data_manifest",
    """
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(ceil(n_chars / 4) AS BIGINT)) AS BIGINT) AS est_tokens,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
    """,
)
def q_ext_data_manifest(spark, sf_dir):
    """Corpus manifest / data card: doc, char, estimated-token and
    unique-content counts at every (source × lang) rollup level in one
    grouping-sets pass — the accounting table a training-mixture
    config is cut from."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("wds_docs_manifest")
    return spark.sql(
        """
        SELECT source, lang,
               count(*) AS n_docs,
               sum(n_chars) AS total_chars,
               sum(CAST(ceil(n_chars / 4) AS BIGINT)) AS est_tokens,
               count(DISTINCT md5(text)) AS n_unique
        FROM wds_docs_manifest
        GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
        """
    )


@register(
    "agg_weighted_avg",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS wsum_cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wtotal,
           CAST(sum(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / (100.0 * sum(CAST(l_quantity AS BIGINT))) AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_weighted_avg(spark, sf_dir):
    """Quantity-weighted mean price per return flag: integer
    cross-products (weight × cents) summed associatively, ONE final
    division — the float-safe weighted average (a naive
    sum(w*x)/sum(w) over doubles is partial-agg-order dependent)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = F.col("l_quantity").cast("long")
    wsum = F.sum(w * _cents("l_extendedprice")).cast("long")
    wtot = F.sum(w).cast("long")
    return li.groupBy("l_returnflag").agg(
        wsum.alias("wsum_cents"),
        wtot.alias("wtotal"),
        (wsum.cast("double") / (100.0 * wtot)).alias("weighted_avg_price"),
    )


@register(
    "ext_dedup_normtext",
    f"""
    WITH {_DOCS_SRC_SQL},
    n AS (
      SELECT doc_id,
             array_to_string(
               list_filter(regexp_split_to_array(lower(text), '\\s+'),
                           x -> x <> ''), ' ') AS norm_text
      FROM docs_src)
    SELECT norm_text, CAST(min(doc_id) AS BIGINT) AS doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM n GROUP BY norm_text
    """,
)
def q_ext_dedup_normtext(spark, sf_dir):
    """Normalization-aware exact dedup (C4-style): casefold + collapse
    whitespace BEFORE content hashing, so reformatted copies of the
    same text dedup together — catches what byte-exact dedup misses at
    zero extra shuffle cost (the normalization is a narrow
    projection)."""
    from .ext.dedup import dedup_exact

    docs = _docs_src(spark, sf_dir)
    norm = F.concat_ws(
        " ", F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    )
    return dedup_exact(
        docs.select("doc_id", norm.alias("norm_text")), ["norm_text"], "doc_id"
    )


@register(
    "ext_pack_bestfit",
    """
    WITH RECURSIVE
    src AS (
      SELECT doc_id AS id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tokens,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                  AS BIGINT) % 8 AS shard
      FROM documents),
    items AS (
      SELECT id, n_tokens, shard,
             row_number() OVER (PARTITION BY shard
                                ORDER BY n_tokens DESC, id) AS rk
      FROM src),
    nsh AS (SELECT shard, CAST(count(*) AS BIGINT) AS cnt
            FROM items GROUP BY shard),
    st(shard, step, rems, assigns) AS (
      SELECT shard, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
             CAST([] AS BIGINT[])
      FROM nsh
      UNION ALL
      SELECT s.shard, s.step + 1,
             CASE WHEN fit.v IS NULL
                  THEN list_append(s.rems, greatest(256 - i.n_tokens, 0))
                  ELSE s.rems[1:list_position(s.rems, fit.v)-1]
                       || [fit.v - i.n_tokens]
                       || s.rems[list_position(s.rems, fit.v)+1:] END,
             CASE WHEN fit.v IS NULL
                  THEN list_append(s.assigns, CAST(len(s.rems) AS BIGINT))
                  ELSE list_append(s.assigns,
                         CAST(list_position(s.rems, fit.v) - 1 AS BIGINT))
                  END
      FROM st s
      JOIN items i ON i.shard = s.shard AND i.rk = s.step + 1
      LEFT JOIN LATERAL (
        SELECT list_min(list_filter(s.rems, r -> r >= i.n_tokens)) AS v
      ) fit ON TRUE
    ),
    final AS (
      SELECT st.shard, st.assigns
      FROM st JOIN nsh ON st.shard = nsh.shard AND st.step = nsh.cnt),
    ass AS (
      SELECT shard, generate_subscripts(assigns, 1) AS rk,
             unnest(assigns) AS bin_id
      FROM final)
    SELECT i.id, i.n_tokens, i.shard, a.bin_id,
           i.n_tokens > 256 AS oversized
    FROM items i JOIN ass a ON i.shard = a.shard AND i.rk = a.rk
    """,
)
def q_ext_pack_bestfit(spark, sf_dir):
    """Best-fit-decreasing no-straddle packing (SFT-style: documents
    never split across bins) over id-hash shard streams — the
    sequential-loop complement to ext_pack_sequences' concat-and-chunk
    (ext/packing.pack_bestfit); deterministic for any partitioning.
    ORACLE-PAIRED despite being a sequential heuristic: the BFD loop
    is a pure fold over the (n_tokens DESC, id) shard stream, so a
    DuckDB recursive CTE carrying the bin-remainder list replays it
    exactly — first bin holding the minimal fitting remainder wins,
    matching the Python loop's strict-< scan order."""
    from .ext.packing import pack_bestfit

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.ceil(F.col("n_chars") / 4).cast("long").alias("tok")
    )
    return pack_bestfit(docs, "doc_id", "tok", budget=256)


@register(
    "win_first_last",
    """
    WITH t AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events)
    SELECT user_id, day,
           max(CASE WHEN rf = 1 THEN value END) AS first_val,
           max(CASE WHEN rl = 1 THEN value END) AS last_val,
           CAST(count(*) AS BIGINT) AS n
    FROM t GROUP BY user_id, day
    """,
)
def q_win_first_last(spark, sf_dir):
    """Opening/closing observation per (user, day) — the OHLC
    first/last-in-window shape, deterministic via (ts, id) tiebreaks;
    values pass through untouched, so the hash is exact."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    wf = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    wl = Window.partitionBy("user_id", day).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    t = ev.select(
        "user_id",
        day.alias("day"),
        "value",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wl).alias("rl"),
    )
    return t.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("first_val"),
        F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("last_val"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@register(
    "join_nearest_gridpoint",
    """
    WITH f AS (
      SELECT c_custkey, c_acctbal / 60.0 AS lat,
             CAST(c_custkey % 500 AS DOUBLE) - 200.0 AS lon
      FROM customer),
    g AS (
      SELECT n_name AS place,
             n_nationkey * 6.0 - 75.0 AS glat,
             n_nationkey * 13.0 - 160.0 AS glon
      FROM nation),
    p AS (
      SELECT c_custkey, lat, lon, place,
             (lat - glat) * (lat - glat) + (lon - glon) * (lon - glon) AS d2
      FROM f CROSS JOIN g),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY d2, place) AS rn
      FROM p)
    SELECT c_custkey, lat, lon, place, d2 AS snap_d2 FROM r WHERE rn = 1
    """,
)
def q_join_nearest_gridpoint(spark, sf_dir):
    """Grid-point snap as a distributed operator: every fact coordinate
    resolves to its nearest model grid node (WetIng.pdf p.1-2 — the
    per-request snap in api/wrappers._resolve_location, vectorized).
    Broadcast grid + map-side-combinable struct-min argmin; squared
    degree distance is exact double arithmetic."""
    from .operators.joins import nearest_gridpoint_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal") / 60.0).alias("lat"),
        ((F.col("c_custkey") % 500).cast("double") - 200.0).alias("lon"),
    )
    grid = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("place"),
        (F.col("n_nationkey") * 6.0 - 75.0).alias("latitude"),
        (F.col("n_nationkey") * 13.0 - 160.0).alias("longitude"),
    )
    return nearest_gridpoint_join(cust, grid).select(
        "c_custkey", "lat", "lon", "place", "snap_d2"
    )


@register(
    "win_gap_islands",
    """
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 172800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
      SELECT user_id, ts,
             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM o)
    SELECT user_id, island,
           min(ts) AS island_start, max(ts) AS island_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM i GROUP BY user_id, island
    """,
)
def q_win_gap_islands(spark, sf_dir):
    """Gaps-and-islands coverage report per user (2-day gap threshold):
    which stretches of the feed arrived contiguously and where the
    outages are — integer-microsecond deltas, exact in any engine."""
    from .operators.windows import gap_islands

    ev = load_table(spark, sf_dir, "events")
    return gap_islands(
        ev, "user_id", "ts", "event_id", gap_micros=172_800_000_000
    )


@register(
    "win_cume_dist",
    """
    SELECT event_id, event_type,
           cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
    FROM events
    """,
)
def q_win_cume_dist(spark, sf_dir):
    """Cumulative distribution within each event-type partition —
    value-based (tie rows share a cd), so the output is deterministic
    without an id tiebreak: cd = rows_le/rows, one exact integer
    division."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id", "event_type", F.cume_dist().over(w).alias("cd")
    )


@register(
    "f_regexp_extract",
    """
    SELECT p_partkey,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS type_last,
           regexp_extract(p_brand, '([0-9]+)$', 1) AS brand_num
    FROM part
    """,
)
def q_f_regexp_extract(spark, sf_dir):
    """Regex group extraction (first/last token of categorical
    attributes) — anchors + ASCII classes only, identical semantics
    under Java regex and RE2."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last"),
        F.regexp_extract("p_brand", r"([0-9]+)$", 1).alias("brand_num"),
    )


@register(
    "stream_stream_join",
    """
    SELECT a.event_id AS left_id, b.event_id AS right_id,
           a.user_id AS user_id, a.ts AS left_ts, b.ts AS right_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """A REAL stream-stream interval join run (view → purchase within
    6 h per user): watermarks on both sides + the range predicate
    bound the join state; availableNow append output equals the batch
    interval join, so the oracle applies."""
    from .streaming.jobs import (
        run_stream_to_memory,
        streamed_interval_join,
        streaming_events_source,
    )

    src = streaming_events_source(spark, sf_dir)
    joined = streamed_interval_join(
        src.filter(F.col("event_type") == "view"),
        src.filter(F.col("event_type") == "purchase"),
    )
    return run_stream_to_memory(joined, "append")


@register(
    "ext_dedup_semantic",
    f"""
    WITH RECURSIVE {_EMB_DUP_CORPUS_SQL},
    a AS (SELECT vec_id AS id_a, embedding AS va FROM corpus),
    b AS (SELECT vec_id AS id_b, embedding AS vb FROM corpus),
    pairs AS (
      SELECT id_a, id_b
      FROM a JOIN b ON id_a < id_b
      WHERE {_COSINE_SQL.format(a="va", b="vb")} >= 0.95
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach(id, lab) AS (
      SELECT vec_id, vec_id FROM corpus
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
      WHERE r.lab < e.dst
    )
    SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id
    """,
)
def q_ext_dedup_semantic(spark, sf_dir):
    """Semantic dedup end-to-end: distributed block-grid exact
    embedding-cosine near-dup pairs (≥ 0.95) feed the same
    connected-components clustering as the lexical path — every vector
    labeled with its min-id semantic-cluster representative."""
    from .ext.dedup import dedup_clusters
    from .ext.simsearch import embedding_near_dup_pairs_grid

    corpus = _emb_dup_corpus(spark, sf_dir)
    pairs = embedding_near_dup_pairs_grid(
        corpus, "vec_id", "embedding", threshold=0.95
    )
    return dedup_clusters(
        corpus.select("vec_id"), pairs.select("id_a", "id_b"), "vec_id"
    )


@register(
    "join_asof_tolerance",
    """
    WITH r AS (
      SELECT o_custkey AS user_id,
             TIMESTAMP '2024-01-01' + INTERVAL (dayofyear(o_orderdate) % 30) DAY AS rdate,
             CAST(max(o_orderkey) AS BIGINT) AS asof_orderkey
      FROM orders GROUP BY 1, 2
    )
    SELECT e.event_id, e.ts, e.user_id,
           CASE WHEN r.rdate IS NOT NULL
                 AND e.ts - r.rdate <= INTERVAL 3 DAY
                THEN r.asof_orderkey END AS asof_orderkey
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.user_id AND e.ts >= r.rdate
    """,
)
def q_join_asof_tolerance(spark, sf_dir):
    """Backward as-of join with a 3-day staleness bound — matches older
    than the tolerance are rejected (nulled), same plan shape as the
    unbounded as-of (DuckDB ASOF JOIN + CASE as oracle)."""
    from .operators.joins import asof_join_tolerance

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
    return asof_join_tolerance(
        ev, right, on=["user_id"], left_ts="ts", right_ts="rdate",
        payload_cols=["asof_orderkey"], tolerance_seconds=3 * 86400,
    )


@register("ext_embed_pca")  # eigensolve — not SQL-expressible, rows-only
def q_ext_embed_pca(spark, sf_dir):
    """Distributed PCA to 8 components over the embedding corpus:
    per-Arrow-batch (count, sum, X^T X) partials (d+d² doubles each,
    row-count independent), driver-side d×d eigensolve, broadcast
    projection matmul — unit-tested for orthonormality, variance
    ordering and numpy-PCA agreement.  Published as scalar
    ``(vec_id, component, value)`` rows — the driver canonicalizer
    sorts rows and array cells are unhashable (the centroids/normalize
    lesson); the packed ``array<double>`` form stays available as
    ``simsearch.pca_project``."""
    from .ext.simsearch import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    packed = pca_project(emb, "vec_id", "embedding", k=8)
    return packed.select(
        "vec_id", F.posexplode("pca").alias("component", "value")
    )
