"""Similarity search over embedding columns (``array<float>``).

Baseline: exact brute-force cosine top-k (query side broadcast, fact
side streamed — one pass, no shuffle of the corpus).  Scale paths:
LSH sign-random-projection bucketing and an IVF-style coarse
quantizer, both cutting the candidate set before the exact re-score.
Per-pair vector math is JVM-side (``zip_with``/``aggregate`` folds)
with per-vector norms hoisted out of the pair loop; the dense
projection matrices (SRP planes) run as one BLAS matmul per Arrow
batch — never row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    max_broadcast_queries: int = 100_000,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector the k
    nearest corpus vectors (self-matches excluded).

    ``broadcast(queries) × corpus`` followed by a per-query top-k
    window.  With Q queries this is one scan of the corpus and a
    shuffle of only Q·k candidate rows — the right exact baseline at
    any corpus size when Q is small.

    The broadcast is only safe for a small query side, so the operator
    fails loudly past ``max_broadcast_queries`` instead of silently
    shipping a multi-GB broadcast to every task: use ``lsh_topk`` /
    ``ivf_topk`` (sub-linear candidates) for large Q, or raise the
    bound explicitly if the executors are sized for it.  The guard is
    one capped ``limit(bound+1).count()`` — it never scans more than
    bound+1 query rows.
    """
    over = queries.limit(max_broadcast_queries + 1).count()
    if over > max_broadcast_queries:
        raise ValueError(
            f"cosine_topk broadcasts the query side; got > "
            f"{max_broadcast_queries} query rows. Use lsh_topk/ivf_topk "
            f"for large query sets, or raise max_broadcast_queries."
        )
    # norms are per-vector — compute once in the projections, not per
    # pair (cuts 2 of the 3 array folds out of the O(Q·N) hot loop);
    # the expression is identical, so cosine values are bit-unchanged
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"),
    )
    c = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def srp_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    n_tables: int = 1,
    scheme: str = "uniform",
) -> DataFrame:
    """Sign-random-projection LSH buckets per vector (cosine-LSH),
    multi-table: one row per (vector, table) with the table's bucket —
    the sign bit-pattern of ``n_planes`` hyperplane projections.

    Multiple independent tables are the standard recall knob:
    recall ≈ 1 - (1 - s^p)^L for per-plane agreement s — p trades
    candidate-set size, L buys recall back.

    All L·p projections are one dense matmul per Arrow batch
    (vectorized pandas_udf): dense linear algebra is the one hot path
    where numpy beats expression folds by an order of magnitude —
    expression-level ``aggregate``/``zip_with`` evaluates L·p·dim
    lambda steps per row, the matmul does the same work in BLAS.
    Deterministic: the plane matrix is seeded and baked into the UDF.

    ``scheme``:
      * ``"uniform"`` — seeded uniform(-1, 1) float planes (default;
        the float dot-sign is deterministic within Spark but NOT
        restatable cross-engine — summation order changes rounding).
      * ``"md5-rademacher"`` — ±1 planes keyed by
        ``md5(f"{table}:{plane}:{dim}")`` over integer-quantized
        components ``floor(x * 1e6)``: every step is exact integer
        (or IEEE-exact: float→double widening, one double multiply,
        floor), so the bucket assignment is restatable bit-for-bit in
        DuckDB SQL — the md5-restatement trick that upgraded
        ``ext_dedup_simhash`` (r6) / ``ext_embed_hamming`` (r7) from
        rows-only to oracle-paired.  Rademacher projections satisfy
        the same Johnson–Lindenstrauss bounds as Gaussian ones
        (Achlioptas 2003), so recall behavior is equivalent.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    weights = (1 << np.arange(n_planes, dtype=np.int64))
    if scheme == "md5-rademacher":
        import hashlib

        planes = np.array(
            [
                [
                    1
                    if hashlib.md5(f"{t}:{j}:{d}".encode()).hexdigest()[0] < "8"
                    else -1
                    for d in range(dim)
                ]
                for t in range(n_tables)
                for j in range(n_planes)
            ],
            dtype=np.int64,
        )
    elif scheme == "uniform":
        rng = np.random.RandomState(seed)
        planes = rng.uniform(-1.0, 1.0, size=(n_tables * n_planes, dim))
    else:
        raise ValueError(f"unknown SRP scheme: {scheme!r}")

    @pandas_udf(T.ArrayType(T.LongType()))
    def all_buckets(vecs):
        # (no type hints: under `from __future__ import annotations`
        # they stringify and break pandas_udf signature inference)
        mat = np.asarray(vecs.tolist(), dtype=np.float64)  # (batch, dim)
        if scheme == "md5-rademacher":
            # exact int64 projections; >= 0 matches the SQL restatement
            xi = np.floor(mat * 1000000.0).astype(np.int64)
            signs = (xi @ planes.T) >= 0  # (batch, L*p)
        else:
            signs = (mat @ planes.T) > 0  # (batch, L*p)
        signs = signs.reshape(len(mat), n_tables, n_planes)
        buckets = (signs * weights).sum(axis=2)  # (batch, L)
        return pd.Series(list(buckets))

    tb = F.explode(
        F.zip_with(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_tables - 1)), lambda t: t
            ),
            all_buckets(F.col(vec_col)),
            lambda t, b: F.struct(t.alias("table"), b.alias("bucket")),
        )
    )
    return (
        df.withColumn("__tb", tb)
        .withColumn("table", F.col("__tb.table"))
        .withColumn("bucket", F.col("__tb.bucket"))
        .drop("__tb")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 8,
    scheme: str = "uniform",
) -> DataFrame:
    """Approximate cosine top-k: SRP-bucket corpus and queries in
    ``n_tables`` independent tables, union candidates that share any
    (table, bucket), exact-rescore.

    Per table a bucket holds ~N/2^p of the corpus, so candidates ≈
    L·N/2^p — tune p against L for the recall/cost point.  High recall
    for near-duplicate angles (the LSH use case); for uniformly random
    vectors no sub-linear method retains recall — use ``ivf_topk`` or
    exact ``cosine_topk`` there.
    """
    cb = srp_buckets(
        corpus, id_col, vec_col, n_planes, dim, n_tables=n_tables, scheme=scheme
    ).select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cnorm"), "table", "bucket",
    )
    qb = srp_buckets(
        queries, id_col, vec_col, n_planes, dim, n_tables=n_tables, scheme=scheme
    ).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qnorm"), "table", "bucket",
    )
    cand = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "qvec", "qnorm", "match_id", "cvec", "cnorm")
        .dropDuplicates(["query_id", "match_id"])
    )
    scored = cand.withColumn(
        "cosine",
        _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def ivf_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_clusters: int = 16,
    nprobe: int = 4,
    cent: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k with a HASH-SAMPLED coarse quantizer
    — the oracle-restatable sibling of ``ivf_topk`` (whose KMeans fit
    has no cross-engine restatement).

    The quantizer is the ``n_clusters`` corpus vectors ranked first
    under ``(md5(str(id)), id)`` — deterministic random sampling, the
    standard KMeans *init* step used directly as the codebook (FAISS
    ships the same degenerate mode; recall comes from ``nprobe``).
    Every step downstream is the exact IVF shape: one full-corpus
    assignment pass (the coarse ``cid`` of the ``ivfpq_encode_codes``
    kernel, whose cosine is bit-identical to the JVM expression),
    queries probe ``nprobe`` centroids on the driver (``_probe_local``,
    shared with the IVF-PQ paths), exact cosine re-rank inside the
    probed inverted lists under the (cos DESC, id) total order.  The
    cosine expression is kept IDENTICAL on assignment and re-rank (no
    norm-hoisting shortcut) so the oracle can reproduce every
    comparison bit-for-bit.  At 100 TB: codebook in the kernel
    closure, corpus written bucketed by ``cluster``, per-query work
    ~nprobe/n_clusters of the corpus.

    ``cent`` injects an external coarse quantizer (``cid``, ``ce``
    rows — e.g. the certified fixed-point KMeans centroids); by
    default the hash-sampled codebook derives from the corpus."""
    from pyspark.sql import types as T

    from ..io import local_frame

    cent, rows = _local_codebook(corpus, id_col, vec_col, n_clusters, cent)
    dim = len(rows[0]["ce"]) if rows else 0
    # only the coarse cid is used: m=1 keeps the unused code pass to
    # one full-width L2
    lists = ivfpq_encode_codes(
        corpus, id_col, vec_col, n_clusters, 1, dim, cent=cent
    ).select("match_id", "cid")
    assign = lists.join(
        corpus.select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec")
        ),
        "match_id",
    )
    qids, Q = _local_queries(queries, id_col, vec_col, dim, "ivf_topk_md5")
    probed = _probe_local(Q, rows, nprobe)
    probes = local_frame(
        corpus.sparkSession,
        [
            (int(qid), [float(v) for v in Q[i]], int(rows[j]["cid"]))
            for i, qid in enumerate(qids)
            for j in probed[i].nonzero()[0]
        ],
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("qvec", queries.schema[vec_col].dataType),
                T.StructField("cid", T.LongType()),
            ]
        ),
    )
    scored = (
        probes.join(assign, "cid")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine", _codebook_cos("qvec", "cvec"))
    )
    return _rank_topk(scored, "cosine", k)


def pq_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
    n_cent: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization top-k with a HASH-SAMPLED codebook — the
    oracle-restatable sibling of ``pq_topk`` (whose per-subspace
    KMeans has no cross-engine restatement).

    The 64-dim space splits into ``m`` subspaces of dim/m dims; every
    subspace shares ONE codebook: the sub-vectors of the ``n_cent``
    corpus vectors ranked first under (md5(str(id)), id).  Encoding
    (the ``ivfpq_encode_codes`` kernel) picks, per (vector, subspace),
    the centroid minimizing exact squared L2 under the (l2, cid) total
    order.  ADC scoring (``_adc_topk``) reconstructs approx_dot(q, x)
    as the FIXED-ORDER chain d_0 + d_1 + … + d_{m−1} of per-subspace
    dots against the decoded centroid slices — never a float SUM over
    grouped rows, whose accumulation order neither engine guarantees.
    Codes are m small ints per vector (the 8×4-bit = 4-byte
    compression that lets 100 TB of vectors live in RAM); PQ-flat by
    design: the collected queries score every code."""
    cent, rows = _local_codebook(corpus, id_col, vec_col, n_cent)
    codes = ivfpq_encode_codes(
        corpus, id_col, vec_col, n_cent, m, dim, cent=cent
    )
    q = _local_queries(queries, id_col, vec_col, dim)
    return _adc_topk(q, codes, rows, k, m)


def pq_topk_trained(
    corpus: DataFrame,
    queries: DataFrame,
    cent8: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization top-k with a TRAINED shared subspace
    codebook — ``cent8`` is (cid, ce) rows of dim/m-dim centroid
    vectors (e.g. the certified fixed-point KMeans fit over the
    subvector table), instead of ``pq_topk_md5``'s hash-sampled
    full-vector slices.  It runs on the md5 family's shared kernels:
    the dim/m-wide codebook is tiled m times into the dim-wide row form
    (slice s of every entry IS the shared entry), so the
    ``ivfpq_encode_codes`` kernel picks, per (vector, subspace), the
    entry minimizing exact squared L2 under the (l2, cid) total order,
    and ``_adc_topk`` scores every code with the fixed-order ADC chain
    (the r9 discipline).  Same scale shape as the md5 twin: codes are
    m small ints per vector at rest, the codebook and the collected
    queries ride in the kernel closures.

    The WHOLE path runs in the quantized domain: corpus AND query
    vectors go through the per-full-vector int8 quantization lifted
    x256 -- the same grid the codebook trains on.  Scale consistency
    is load-bearing: encoding raw floats (|x| ~ 1) against
    fixed-point centroids (|c| ~ 3e4) degenerates to
    pick-the-smallest-norm-entry and ADC recall collapses (measured
    0.007 vs 0.093 for the md5 twin); on one grid the trained
    codebook scores like a real PQ fit.  A query's quantization
    scale is a per-query positive constant, so it cannot change that
    query's ADC ranking."""
    rows = [
        {"cid": int(r["cid"]), "ce": list(r["ce"]) * m}
        for r in sorted(cent8.collect(), key=lambda r: int(r["cid"]))
    ]
    # both sides on the ×256 grid (_quantize_queries' (id, qv) columns)
    corpus256 = _quantize_queries(corpus, id_col, vec_col).select("query_id", "qv")
    codes = _encode_kernel(corpus256, rows, m, dim)
    q = _local_queries(
        _quantize_queries(queries, id_col, vec_col), "query_id", "qv", dim
    )
    return _adc_topk(q, codes, rows, k, m)


def _md5_codebook(corpus, id_col, vec_col, n):
    """The hash-sampled codebook every md5-restatable ANN twin shares:
    the ``n`` corpus vectors ranked first under ``(md5(str(id)), id)``
    — deterministic sampling both engines reproduce bit-for-bit."""
    return (
        corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("ce"),
            F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n)
        .drop("h")
    )


def _local_codebook(corpus, id_col, vec_col, n, cent=None):
    """Collect a codebook (``cent``, by default ``_md5_codebook``) ONCE
    to the driver and re-inject it as a single-batch Arrow local
    frame, so the encode kernel, the probe broadcast and the literal
    decode maps all read it driver-locally.  The collect runs one job
    (the codebook's TakeOrdered) when the caller's frame is built.
    Returns ``(frame, rows sorted by cid)``."""
    from ..io import local_frame

    if cent is None:
        cent = _md5_codebook(corpus, id_col, vec_col, n)
    rows = sorted(cent.collect(), key=lambda r: int(r["cid"]))
    return local_frame(corpus.sparkSession, rows, cent.schema), rows


def _codebook_cos(a, b):
    """JVM cosine; a zero-norm side gives NULL (``try_divide``: the
    value of non-ANSI ``/`` and of DuckDB's ``/``) under any ANSI mode."""
    return F.try_divide(
        _dot(F.col(a), F.col(b)), _norm(F.col(a)) * _norm(F.col(b))
    )


def _link_or_copy(src: str, dst: str) -> None:
    """Hardlink ``src`` to ``dst``; fall back to a byte copy when the
    two paths live on different filesystems (``EXDEV`` — object-store
    mounts, split tmpdirs; ADVICE r13 #1).  Used to carry IMMUTABLE
    index sidecar files (trained codebooks, untouched list partitions)
    across serving generations with zero Spark jobs."""
    import errno
    import os
    import shutil

    try:
        os.link(src, dst)
    except OSError as exc:
        if exc.errno != errno.EXDEV:
            raise
        shutil.copy2(src, dst)


def _lit_double_sql(v) -> str:
    """SQL text for an exact double literal: ``repr`` is the shortest
    decimal that round-trips (CPython guarantee) and Catalyst's parser
    is correctly rounded, so ``F.expr(_lit_double_sql(v))`` equals
    ``F.lit(float(v))`` bit-for-bit while costing a string concat
    instead of a py4j round trip.  Finite values only (the literal
    tables this serves — codebook slices — are finite by
    construction)."""
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal: {v!r}")
    return repr(f) + "D"


def _rank_topk(scored, score_col, k):
    """(score DESC, match_id ASC) top-k — the shared re-rank tail."""
    from pyspark.sql import Window

    wk = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", score_col, "rank")
    )


def _literal_vec_map(cb_rows, lo, hi):
    """``map(cid → ce[lo:hi])`` over the driver-held codebook rows as ONE
    parsed ``F.expr`` literal.  Building it from F.lit/F.array/
    F.create_map Columns costs one py4j round trip per call —
    ~n_clusters·sub per map, ~3 s of pure driver time per serve at the
    16×8 config (r14 measurement).  Parsing one string produces the
    IDENTICAL expression tree: repr() emits the shortest
    round-tripping decimal and Catalyst's double parser is correctly
    rounded, so every literal is bit-identical (float→double is exact
    too, so a decoded slice equals the codebook's own values)."""
    return F.expr(
        "map("
        + ", ".join(
            f"{int(r['cid'])}L, array("
            + ", ".join(_lit_double_sql(v) for v in r["ce"][lo:hi])
            + ")"
            for r in cb_rows
        )
        + ")"
    )


def _codebook_arrays(cb_rows):
    """Codebook rows sorted by cid → ``(cids int64, C float64 (n, dim))``
    — the closure form every codebook kernel ships (float → double is
    exact, so ``C`` holds the codebook's own values)."""
    import numpy as np

    cids = np.array([int(r["cid"]) for r in cb_rows], dtype=np.int64)
    C = np.array([[float(v) for v in r["ce"]] for r in cb_rows], dtype=np.float64)
    return cids, C


def _local_queries(queries, id_col, vec_col, dim, fn="ivfpq_score_codes"):
    """The query side collected to the driver as ``(query ids int64,
    (n, dim) float64 vectors)`` — the probe's and the score kernel's
    closure input.  A NULL or ragged vector raises a ``ValueError``
    naming ``fn`` (by default the score kernel) and ``dim``."""
    import numpy as np

    tbl = queries.select(
        F.col(id_col).cast("long").alias("query_id"),
        F.col(vec_col).alias("qvec"),
    ).toArrow()
    vecs = tbl.column("qvec").combine_chunks()
    _vector_check(dim, fn)(vecs)
    qids = np.asarray(tbl.column("query_id").to_numpy(), dtype=np.int64)
    Q = np.asarray(vecs.flatten(), dtype=np.float64).reshape(len(qids), dim)
    return qids, Q


def _probe_local(Q, cb_rows, nprobe):
    """Driver-side probe: each query's ``nprobe`` nearest coarse lists
    as a ``(n_queries, n_lists)`` bool mask over the cid-sorted
    codebook.  Cosine accumulates in the encode kernel's ascending-i
    fold order (bit-identical to the JVM ``_codebook_cos``), ranked
    under Spark's (cos DESC with NaN first, cid ASC) order.  A zero
    query's 0/0 row is all NaN and probes the ``nprobe`` smallest cids."""
    import numpy as np

    _cids, C = _codebook_arrays(cb_rows)
    nq, ncl = len(Q), len(C)
    dot = np.zeros((nq, ncl))
    nx = np.zeros(nq)
    nc = np.zeros(ncl)
    with np.errstate(all="ignore"):  # IEEE NaN/inf, as in the JVM
        for i in range(C.shape[1]):
            dot += Q[:, i, None] * C[None, :, i]
            nx += Q[:, i] * Q[:, i]
            nc += C[:, i] * C[:, i]
        cos = dot / (np.sqrt(nx)[:, None] * np.sqrt(nc)[None, :])
    nan = np.isnan(cos)
    pos = np.broadcast_to(np.arange(ncl), (nq, ncl))
    order = np.lexsort((pos, -np.where(nan, 0.0, cos), ~nan), axis=-1)
    probed = np.zeros((nq, ncl), dtype=bool)
    np.put_along_axis(probed, order[:, :nprobe], True, axis=1)
    return probed


def ivfpq_score_codes(codes, cb_rows, queries, k, m, probed=None, lead=False):
    """ADC score kernel — the scoring twin of ``ivfpq_encode_codes``:
    ONE narrow ``mapInArrow`` pass over ``(match_id, cid, c0..c{m-1})``
    codes with the codebook, the collected ``queries`` (``(ids,
    vectors)`` from ``_local_queries``) and each query's probed-list
    mask (``probed``; ``None`` = every list) in the closure.  Each
    Arrow batch emits its own top-``k`` per query under (adc DESC with
    NaN first, match_id ASC), self-matches skipped; ``_rank_topk``
    merges the partial lists (``_adc_topk``).

    ADC is the FIXED-ORDER chain ``[lead +] d_0 + … + d_{m−1}``, each
    ``d_s = 0.0 + q_i·c_i`` folded over ascending i (the JVM
    ``zip_with``/``aggregate`` order; never a grouped float SUM, whose
    accumulation order neither engine guarantees), so the DuckDB
    oracles reproduce every score bit-for-bit.  ``lead`` adds the
    residual twin's ``dot(q, coarse[cid])`` term, folded over the full
    vector the same way."""
    import numpy as np
    import pyarrow as pa

    cids, C = _codebook_arrays(cb_rows)
    qids, Q = queries
    nq, ncl, dim = len(qids), len(cids), C.shape[1]
    sub = dim // m
    mask = np.ones((nq, ncl), dtype=bool) if probed is None else probed
    # bound the (queries × rows) score matrices to ~1M doubles
    block = max(1, (1 << 20) // max(nq, 1))
    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("match_id", pa.int64()),
            pa.field("adc", pa.float64()),
        ]
    )

    def positions(batch, j):
        # cid values → codebook row positions (cids are sorted)
        col = batch.column(j).to_numpy(zero_copy_only=False).astype(np.int64)
        pos = np.minimum(np.searchsorted(cids, col), ncl - 1)
        if not (cids[pos] == col).all():
            name = batch.schema.names[j]
            raise ValueError(f"ivfpq_score_codes: {name} value(s) not in the codebook")
        return pos

    def topk(mids, cpos, codes_pos):
        adc = None
        if lead:
            L = np.zeros((nq, len(mids)))
            for i in range(dim):
                L += Q[:, i, None] * C[None, cpos, i]
            adc = L
        for s in range(m):
            base = s * sub
            d = np.zeros((nq, len(mids)))
            for i in range(sub):
                d += Q[:, base + i, None] * C[None, codes_pos[s], base + i]
            adc = d if adc is None else adc + d
        qi, j = np.nonzero(mask[:, cpos] & (qids[:, None] != mids[None, :]))
        a = adc[qi, j]
        mid = mids[j]
        nan = np.isnan(a)
        # qi-major, then (adc DESC with NaN first — Spark's NaN-greatest
        # order, −0.0 == 0.0 — then match_id ASC)
        order = np.lexsort((mid, -np.where(nan, 0.0, a), ~nan, qi))
        qi, mid, a = qi[order], mid[order], a[order]
        keep = np.arange(len(qi)) - np.searchsorted(qi, qi) < k
        return pa.RecordBatch.from_arrays(
            [pa.array(qids[qi[keep]]), pa.array(mid[keep]), pa.array(a[keep])],
            schema=out_schema,
        )

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0 or nq == 0:
                continue
            mids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            cpos = positions(batch, 1)
            codes_pos = [positions(batch, 2 + s) for s in range(m)]
            for lo in range(0, len(mids), block):
                hi = lo + block
                with np.errstate(all="ignore"):  # IEEE NaN/inf, as in the JVM
                    out = topk(mids[lo:hi], cpos[lo:hi], [p[lo:hi] for p in codes_pos])
                yield out

    return codes.select(
        "match_id", "cid", *[f"c{s}" for s in range(m)]
    ).mapInArrow(score, "query_id long, match_id long, adc double")


def _adc_topk(queries, codes, cb_rows, k, m, probed=None, lead=False):
    """Score → merge: the one scoring tail of the md5 PQ family
    (``pq_topk_md5``, ``ivfpq_topk_md5``, the residual twin and the
    persisted ``ivfpq_query_index``) — each batch's top-k from the
    ``ivfpq_score_codes`` kernel, merged by ``_rank_topk`` under
    (adc DESC, match_id ASC)."""
    return _rank_topk(
        ivfpq_score_codes(codes, cb_rows, queries, k, m, probed, lead), "adc", k
    )


def ivfpq_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ: probe ``nprobe`` inverted lists, then ADC-score ONLY
    the codes inside the probed lists — the composition of
    ``ivf_topk_md5`` (coarse quantizer + inverted lists) and
    ``pq_topk_md5`` (product-quantized codes + asymmetric distance),
    and the actual 100 TB ANN architecture: PQ-flat's ADC pass is
    linear in the corpus by design, IVF-PQ cuts it to
    ~nprobe/n_clusters of the corpus while codes keep the vectors
    RAM-resident (m small ints per vector).

    One hash-sampled codebook (the ``n_clusters`` corpus vectors
    ranked first under ``(md5(str(id)), id)``) serves as BOTH the
    coarse quantizer and the shared per-subspace codebook, so one
    ``ivfpq_encode_codes`` pass yields coarse assignment and all ``m``
    PQ codes.  Codes encode the RAW vector (PQ-flat within lists;
    residual encoding is the recall refinement, not a different plan
    shape).  Scoring is ``_adc_topk`` — the same driver-side probe and
    score kernel as the persisted ``ivfpq_query_index``, so both answer
    bit-identically."""
    cent, rows = _local_codebook(corpus, id_col, vec_col, n_clusters)
    codes = ivfpq_encode_codes(
        corpus, id_col, vec_col, n_clusters, m, dim, cent=cent
    )
    q = _local_queries(queries, id_col, vec_col, dim)
    return _adc_topk(q, codes, rows, k, m, probed=_probe_local(q[1], rows, nprobe))


def ivfpq_residual_topk_md5(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the recall refinement over
    ``ivfpq_topk_md5`` and what production IVF-PQ indexes default to:
    PQ codes quantize ``x − coarse_centroid(x)`` instead of ``x``, so
    the codebook only has to cover the (much tighter) within-cell
    residual distribution, and the reconstruction is
    ``x̂ = coarse_centroid + Σ_s code_s``.  ADC scoring becomes
    ``dot(q, coarse) + Σ_s dot(q_s, code_s)`` — one extra fixed-order
    term, same probed-list scan shape.

    Two kernel passes (the residual depends on the coarse choice):
    pass 1 assigns ``cid``; the residual ``x − coarse`` is computed
    JVM-side in doubles with ``coarse`` decoded from ``cid``; pass 2
    encodes the residual against the same codebook and carries the
    pass-1 ``cid`` through (the residual's own nearest centroid is
    never computed), so pass 1 runs once.  The score kernel adds the
    ``dot(q, coarse[cid])`` lead term.  All comparisons stay on pinned
    IEEE doubles under (metric, cid) total orders, so the DuckDB
    oracle restates them exactly."""
    cent, rows = _local_codebook(corpus, id_col, vec_col, n_clusters)
    coarse = _literal_vec_map(rows, 0, dim)
    res = (
        ivfpq_encode_codes(corpus, id_col, vec_col, n_clusters, m, dim, cent=cent)
        .select("match_id", "cid")
        .join(
            corpus.select(
                F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec")
            ),
            "match_id",
        )
        .select(
            "match_id",
            F.zip_with(
                "cvec",
                F.element_at(coarse, F.col("cid")),
                lambda x, c: x.cast("double") - c,
            ).alias("res"),
            "cid",
        )
    )
    codes = _encode_kernel(res, rows, m, dim, carry_cid=True)
    q = _local_queries(queries, id_col, vec_col, dim)
    return _adc_topk(
        q, codes, rows, k, m, probed=_probe_local(q[1], rows, nprobe), lead=True
    )


def _vector_check(dim, fn):
    """Per-batch guard for an Arrow kernel's vector column: reject NULL
    or ragged rows before the kernel reshapes them to ``(rows, dim)``
    (numpy's own reshape error names neither the function nor the
    expected width).  Returned as a nested function so the kernel
    closure ships it by value to the Python workers."""

    def check(vecs):
        import numpy as np

        if vecs.null_count:
            raise ValueError(
                f"{fn}: {vecs.null_count} NULL vector(s); expected dim={dim}"
            )
        lengths = np.diff(np.asarray(vecs.offsets))
        if (lengths != dim).any():
            bad = sorted(set(lengths.tolist()) - {dim})
            raise ValueError(
                f"{fn}: vector length(s) {bad}; expected dim={dim}"
            )

    return check


def ivfpq_encode_codes(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    m: int = 8,
    dim: int = 64,
    cent: DataFrame | None = None,
) -> DataFrame:
    """One corpus pass → INTEGER IVF-PQ codes: per vector the coarse
    list id plus ``m`` per-subspace codebook ids
    ``(match_id, cid, c0..c{m-1})`` — what an index stores (m small
    ints per vector, the 8×4-bit ≈ 4-byte compression that keeps
    100 TB of vectors RAM-resident) and the ONE encode of the md5 ANN
    family: ``ivf_topk_md5`` (coarse cid only), ``pq_topk_md5``,
    ``ivfpq_topk_md5`` and the residual twin (two passes) all call it,
    as do the index build, upsert and streaming paths.  Coarse
    assignment is the argmax cosine under (cos, −cid), each code the
    argmin subspace L2 under (l2, cid) — the total orders the DuckDB
    oracle family restates.

    ``cent`` injects an externally-trained codebook (the streaming
    ingest path encodes arriving batches against the OFFLINE codebook
    — the production split: codebooks train once, codes stream); by
    default the hash-sampled codebook derives from ``corpus``.

    Execution (r15, guide §4.2): ONE narrow ``mapInArrow`` pass with
    the collected codebook shipped in the closure — the previous
    broadcast-cross-join (a 16× row blowup) + per-vector SortAggregate
    (two sorts + one exchange of n_clusters·|corpus| rows) is replaced
    by a per-batch numpy kernel, bit-identical by IEEE order
    discipline: every double add/multiply runs in EXACTLY the fold
    order of the JVM expressions it replaces (sequential ``acc += x_i
    * c_i`` loops over ascending i — numpy elementwise ops are plain
    IEEE doubles, and +/−/×/÷/sqrt are correctly rounded on both
    sides), so cos and per-subspace L2 come out bit-for-bit and every
    argmin/argmax tie resolves identically (first occurrence over
    cid-ascending columns = the (key, cid) / (key, −cid) struct
    orders; NaN keys are mapped to +inf first, which reproduces
    Spark's NaN-greatest comparison — ``nanSafeCompareDoubles`` also
    treats −0.0 == 0.0, exactly numpy's ``==``).

    The codebook is collected when the frame is BUILT: with the
    default ``cent`` that runs one job (the md5 TakeOrdered); an
    injected Arrow local frame (``_local_codebook``) collects
    driver-locally.  Every vector must be a non-NULL array of exactly
    ``dim`` values — anything else raises a ``ValueError`` naming this
    function and ``dim``."""
    if cent is None:
        cent = _md5_codebook(corpus, id_col, vec_col, n_clusters)
    # control-plane collect: n_clusters rows
    rows = sorted(cent.collect(), key=lambda r: int(r["cid"]))
    return _encode_kernel(
        corpus.select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("cvec")
        ),
        rows,
        m,
        dim,
    )


def _encode_kernel(frame, rows, m, dim, carry_cid=False):
    """The ``ivfpq_encode_codes`` kernel over ``frame``'s
    ``(match_id, cvec)`` columns against cid-sorted codebook ``rows``.
    With ``carry_cid`` the frame's third column is emitted as ``cid``
    instead of the coarse assignment (the residual twin's pass 2 keeps
    its pass-1 list)."""
    import numpy as np
    import pyarrow as pa

    sub = dim // m
    cids, C = _codebook_arrays(rows)
    ncl = C.shape[0]
    # centroid norms, accumulated in the same ascending-i fold order
    # as _norm's aggregate (per-element adds are elementwise over the
    # centroid axis, so each centroid's accumulation IS the fold)
    nc = np.zeros(ncl)
    for i in range(dim):
        nc += C[:, i] * C[:, i]
    nc = np.sqrt(nc)

    out_schema = pa.schema(
        [pa.field("match_id", pa.int64()), pa.field("cid", pa.int64())]
        + [pa.field(f"c{s}", pa.int64()) for s in range(m)]
    )
    check = _vector_check(dim, "ivfpq_encode_codes")

    def encode(batches):
        for batch in batches:
            n_b = batch.num_rows
            if n_b == 0:
                # explicit-schema empty batch (the CLAUDE.md
                # zero-row-first-batch Arrow rule)
                yield pa.RecordBatch.from_pydict(
                    {f.name: [] for f in out_schema}, schema=out_schema
                )
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vecs = batch.column(1)
            check(vecs)
            X = np.asarray(vecs.flatten()).astype(np.float64).reshape(n_b, dim)
            if carry_cid:
                cid_out = batch.column(2).to_numpy(zero_copy_only=False)
            else:
                # cosine to every centroid: dot and norm accumulate over
                # ascending i exactly like the zip_with/aggregate folds
                dot = np.zeros((n_b, ncl))
                nx = np.zeros(n_b)
                for i in range(dim):
                    dot += X[:, i, None] * C[None, :, i]
                    nx += X[:, i] * X[:, i]
                # a zero vector's 0/0 is NaN exactly as in the JVM; the
                # NaN → +inf mapping below orders it
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dot / (np.sqrt(nx)[:, None] * nc[None, :])
                key = np.where(np.isnan(cos), np.inf, cos)
                cid_out = cids[key.argmax(axis=1)]
            out = {
                "match_id": ids.astype(np.int64),
                "cid": cid_out.astype(np.int64),
            }
            for s in range(m):
                base = s * sub
                l2 = np.zeros((n_b, ncl))
                for i in range(sub):
                    d = X[:, base + i, None] - C[None, :, base + i]
                    l2 += d * d
                keyl = np.where(np.isnan(l2), np.inf, l2)
                out[f"c{s}"] = cids[keyl.argmin(axis=1)]
            yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    cols = ", ".join(
        ["match_id long", "cid long"] + [f"c{s} long" for s in range(m)]
    )
    return frame.mapInArrow(encode, cols)


def ivfpq_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    m: int = 8,
    dim: int = 64,
) -> None:
    """BUILD-ONCE half of the IVF-PQ index lifecycle: materialize the
    codebook (``n_clusters`` rows) and the integer codes table to
    ``path`` — codes PARTITIONED BY the coarse list id, so a probed
    query prunes its scan to ``nprobe`` list directories at the
    parquet layer (the inverted-list file layout, not a full-index
    scan + filter).  The inline registry twins re-encode the corpus
    inside every query (encoding-dominated — BASELINE.md round-9 note:
    ~12.7 s of the 31.8 s IVF run at 128k vectors is the encode);
    persisting codes amortizes that across every subsequent query,
    which is the shape a 100 TB user actually runs."""
    # ONE corpus-wide TakeOrdered pass, collected to the control plane
    # (n_clusters rows) and re-injected as a single-batch Arrow local
    # frame (r14, guide §1/§2.4): the previous shape wrote the
    # codebook and READ IT BACK for the encode — a round trip whose
    # only purpose was value identity, which the Arrow frame gives
    # bit-for-bit without the extra read job.  The codebook write and
    # the codes write (disjoint dirs) then overlap (guide §2.6).
    from ..io import overlap_jobs

    cent_local, _rows = _local_codebook(corpus, id_col, vec_col, n_clusters)
    codes = ivfpq_encode_codes(
        corpus, id_col, vec_col, n_clusters, m, dim, cent=cent_local
    )
    # repartition("cid") first: a partitionBy write from N upstream
    # partitions fans out to N × |touched cids| files (round-12 probe:
    # 917 files / 50 s vs 64 files / 3.2 s at sf0.1); one file per
    # list bounds file count by n_clusters at any corpus size
    overlap_jobs(
        lambda: cent_local.coalesce(1)
        .write.mode("overwrite")
        .parquet(path + "/codebook"),
        lambda: codes.repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(path + "/codes"),
    )


def ivfpq_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """QUERY-MANY half of the IVF-PQ index lifecycle: top-k against an
    index persisted by ``ivfpq_build_index`` — NO corpus scan and no
    re-encode.  Two control-plane reads plus one pruned codes scan:

    1. the codebook (``n_clusters`` rows) and the query vectors
       collect to the driver, which probes each query's ``nprobe``
       nearest lists (``_probe_local`` — the inline twins' own probe);
    2. the probed list ids become a STATIC partition filter on the
       codes scan, so the parquet source lists only the probed ``cid=``
       directories (plan-visible PartitionFilters, ~nprobe/n_clusters
       of the index);
    3. codes score through ``_adc_topk`` — the inline twins' own tail
       (the ``ivfpq_score_codes`` kernel, fixed-order ADC chain, one
       merge), so the persisted index answers bit-identically to them
       and to the DuckDB oracle.

    The returned frame is lazy and holds no cached fragment.  At
    100 TB: the codes scan reads m+1 small ints per vector from
    nprobe/n_clusters of the files; everything corpus-sized stays
    columnar and pruned."""
    cb_rows = sorted(
        spark.read.parquet(path + "/codebook").collect(), key=lambda r: r["cid"]
    )
    q = _local_queries(queries, id_col, vec_col, dim)
    probed = _probe_local(q[1], cb_rows, nprobe)
    lists = [
        int(r["cid"]) for r, hit in zip(cb_rows, probed.any(axis=0)) if hit
    ]
    codes = (
        spark.read.parquet(path + "/codes")
        .filter(F.col("cid").isin(lists))
        .withColumn("cid", F.col("cid").cast("long"))
    )
    return _adc_topk(q, codes, cb_rows, k, m, probed=probed)


def kmeans_fixedpoint_int(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iter: int = 3,
    dim: int = 64,
    driver_max_vectors: int = 100_000,
    pre_scaled: bool = False,
) -> DataFrame:
    """Lloyd's KMeans with EXACT INTEGER state — the quality-path
    clustering machinery, made engine-restatable: vectors are the
    int8-quantized corpus (``quantize_embeddings``, the proven
    bit-reproducible path) lifted to the ×256 fixed-point grid;
    centroids live on the same integer grid, so ASSIGNMENT is a plain
    integer L2 argmin under the (distance, cid) total order (a
    sortable key — no rational cross-multiplication needed) and the
    UPDATE is the floor fixed-point mean ``floor(Σ q·256 / n)``.
    The floor always happens in numpy/CPython ``//`` (even on the
    distributed path the per-round collect is k rows of component
    sums — control-plane), so the negative-sum floor-vs-truncate
    hazard (Spark DIV truncates toward zero) never enters; the DuckDB
    replay spells floor explicitly as ``(s − pmod(s, n)) // n``.  An
    empty cluster keeps its previous centroid.  The result is a PURE FUNCTION of (corpus, k, n_iter) —
    identical across engines, partitionings and batch shapes, which
    float KMeans structurally is not (its mean is an order-dependent
    float sum); the 1/256 centroid resolution is the deliberate,
    negligible trade (quantized inputs are already on a 1/127 grid).

    Size-adaptive (the pagerank_int / dedup_clusters rule): at or
    under ``driver_max_vectors`` the loop is ``_kmeans_int_np`` over
    the collected quantized vectors, above it ``_kmeans_multi_arrow``
    with one subspace (one narrow Arrow partial-sum pass per round) —
    the same two loops the serving-grade trainer runs, bit-identical
    by integer determinism.

    Returns ``(cid, dim, c_fix)`` — one row per centroid component on
    the fixed-point grid (idx-column publication per the repo's
    scalar-columns rule).

    Magnitudes: |q·256| ≤ 127·256 = 32512 ⇒ per-dim squared diff ≤
    4.3e9, distance ≤ 2.8e11; component sums ≤ n·32512 — int64 holds
    exact state past 10¹⁴ vectors.

    ``pre_scaled=True`` takes ``vec_col`` as ALREADY-integer arrays on
    the fixed-point grid (e.g. per-full-vector-quantized subvector
    slices — the PQ training set, where re-quantizing each slice by
    its OWN max would destroy the cross-subspace scale and collapse
    downstream ADC recall: measured 0.007 vs 0.167)."""
    import numpy as np

    from ..io import local_frame

    if pre_scaled:
        q = corpus.select(
            F.col(id_col).alias("match_id"),
            F.transform(vec_col, lambda x: x.cast("long")).alias("q"),
        )
    else:
        q = quantize_embeddings(corpus, id_col, vec_col).select(
            F.col(id_col).alias("match_id"),
            F.transform("qvec", lambda x: x.cast("long") * 256).alias("q"),
        )
    # the size probe, the collect and every distributed round read
    # the quantize projection once
    q.persist()
    try:
        if q.limit(driver_max_vectors + 1).count() <= driver_max_vectors:
            tbl = q.toArrow()
            ids = np.asarray(tbl.column("match_id").to_numpy(), dtype=np.int64)
            X = np.asarray(
                tbl.column("q").combine_chunks().flatten(), dtype=np.int64
            ).reshape(len(ids), dim)
            cents = _kmeans_int_np(X, ids, k, n_iter)
        else:
            cents = _kmeans_multi_arrow(q, k, 1, dim, n_iter)[0]
    finally:
        q.unpersist()
    return local_frame(
        corpus.sparkSession,
        [(j, t, int(cents[j][t])) for j in range(len(cents)) for t in range(dim)],
        "cid long, dim long, c_fix long",
    )


def power_iteration_int(
    gram: DataFrame,
    dim: int = 64,
    n_iter: int = 8,
    unit: int = 1_000_000,
) -> DataFrame:
    """Dominant eigenvector of the EXACT integer Gram matrix by power
    iteration with EXACT INTEGER state — the ``pagerank_int`` posture
    applied to PCA's first component: every round is
    ``w = S·v`` (integer matvec) followed by L∞ normalization
    ``v' = floor(w·unit / max|w|)`` in floor semantics, so the result
    is a PURE FUNCTION of (S, n_iter) — identical across engines,
    partitionings and batch shapes, which float eigensolvers
    structurally cannot be (their reductions are order-dependent).

    Scale split: the corpus-linear work is the Gram accumulation
    (``gram_matrix_quantized`` — one Arrow pass, d²/2 integers per
    partition shuffled, hash-verified as ``ext_embed_gram``); the
    eigensolve is O(n_iter·d²) on a d×d matrix — control-plane
    arithmetic INDEPENDENT of corpus size (64×64 at 100 TB exactly as
    here), so it runs driver-side on the collected triangle like the
    codebook/merge-table fits.  CPython's arbitrary-precision ints
    make the intermediate products exact at any magnitude; the
    published components are in [−unit, unit].

    Takes the ``(i, j, s)`` upper-triangular frame
    ``gram_matrix_quantized`` returns; mirrors it to full symmetric
    before iterating."""
    tri = gram.collect()  # d(d+1)/2 rows — control-plane, corpus-free
    S = [[0] * dim for _ in range(dim)]
    for r in tri:
        S[r["i"]][r["j"]] = int(r["s"])
        S[r["j"]][r["i"]] = int(r["s"])
    v = [unit] * dim
    for _ in range(n_iter):
        w = [sum(S[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:  # zero matrix — stay at the start vector
            break
        v = [(x * unit) // m for x in w]  # Python // IS floor
    spark = gram.sparkSession
    from ..io import local_frame

    return local_frame(
        spark, [(i, int(v[i])) for i in range(dim)], "idx long, v_unit long"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: KMeans coarse quantizer over the
    corpus, queries probe their ``nprobe`` nearest centroids, exact
    cosine re-score within the probed inverted lists.

    The scale shape of FAISS-IVF on Spark: the corpus is partitioned by
    cluster id (at 100 TB: written bucketed by ``cluster``), a query
    touches ~``nprobe/n_clusters`` of it, and the only full pass is the
    one-off assignment.  The coarse quantizer trains on a bounded
    deterministic sample (``fit_sample`` vectors, FAISS-style — IVF
    training needs ~O(100) points per centroid, not the corpus): a
    KMeans ``maxIter=20`` fit on the full corpus would be ~20 complete
    passes over 100 TB before the first query runs, while the sample
    fit is constant-cost and each full-corpus vector is still assigned
    to its true nearest centroid in the single assignment pass.  Recall
    is tuned with ``nprobe``; ``nprobe = n_clusters`` degrades
    gracefully to exact brute force.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_sample = 100_000
    corpus_v = corpus.select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("cvec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    # deterministic bounded training set: hash-ranked take, not
    # .sample() (which needs a count to size the fraction) — one
    # narrow pass that short-circuits via TakeOrderedAndProject
    train = corpus_v.select("match_id", "features").orderBy(
        F.xxhash64("match_id", F.lit(seed))
    ).limit(fit_sample)
    km = KMeans(k=n_clusters, seed=seed, maxIter=20)
    model = km.fit(train.select("features"))
    assigned = model.transform(corpus_v).select(
        "match_id", "cvec", F.col(model.getPredictionCol()).alias("cluster")
    )

    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    spark = corpus.sparkSession
    # Arrow local frame (r14): the 16-row centroid table broadcasts
    # into the probe cross join — the pickled-rows path re-ran a
    # 32-partition Python scan per action over it
    from ..io import local_frame

    cent_df = local_frame(
        spark, centroids, "cluster int, centroid array<double>"
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # probe the nprobe nearest centroids per query (tiny cross join:
    # |queries| × n_clusters)
    from pyspark.sql import Window

    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent_df))
        .withColumn(
            "d2",
            F.aggregate(
                F.zip_with(
                    "qvec", "centroid", lambda x, c: (x.cast("double") - c) ** 2
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cluster"))
    probes = (
        qc.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qvec", "cluster")
    )

    assigned = assigned.withColumn("cnorm", _norm(F.col("cvec")))
    probes = probes.withColumn("qnorm", _norm(F.col("qvec")))
    scored = (
        probes.join(assigned, "cluster")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn(
            "cosine",
            _dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def embedding_near_dup_pairs_grid(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Distributed exact all-pairs cosine near-dup pairs (id_a < id_b,
    cosine ≥ threshold) via a block-pair grid — NO driver collect and
    NO full-corpus broadcast.

    Every vector is hash-assigned to one of ``n_blocks`` blocks; the
    grid of unordered block pairs (ba ≤ bb) is the unit of work.  A
    vector in block b is shuffled to the groups where b is either key
    (B+1 copies), each (ba, bb) group holds exactly blocks ba and bb
    (~2N/B vectors — the memory knob: pick B so two blocks fit an
    executor), and one BLAS matmul per group scores its cross block.
    Each unordered id pair lands in exactly one group — (block(a),
    block(b)) sorted — so no global dedup pass is needed.

    Total flops stay O(N²·d) (it is the exact semantic; ``srp_buckets``
    / ``minhash`` are the sub-quadratic approximate paths), but work is
    spread over B·(B+1)/2 independent tasks and shuffle volume is B·N
    rows.  The per-group kernel is one numpy matmul; cosines agree with
    a whole-corpus ``(A @ A.T) / outer(norms)`` to ~1 ulp (BLAS
    summation order varies with matrix shape), which 3-decimal rounding
    and thresholding absorb.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    # JVM range, not createDataFrame: a Python local relation plans as
    # Scan ExistingRDD — a Python-worker round trip on every execution
    grid = (
        spark.range(0, n_blocks * n_blocks, 1, 1)
        .select(
            (F.col("id") / n_blocks).cast("int").alias("ba"),
            (F.col("id") % n_blocks).cast("int").alias("bb"),
        )
        .filter(F.col("ba") <= F.col("bb"))
    )
    tagged = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # side 0 = the row acts as block ba of the pair, side 1 = block bb;
    # ba == bb groups only need one side (within-block pairs).
    lefts = tagged.join(F.broadcast(grid), tagged["blk"] == grid["ba"]).withColumn(
        "side", F.lit(0)
    )
    rights = (
        tagged.join(
            F.broadcast(grid),
            (tagged["blk"] == grid["bb"]) & (grid["ba"] != grid["bb"]),
        )
    ).withColumn("side", F.lit(1))
    both = lefts.unionByName(rights)

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_block_pair(key, pdf):
        ba, bb = key
        a = pdf[pdf["side"] == 0]
        amat = np.asarray(a["vec"].tolist(), dtype=np.float64)
        aids = a["vid"].to_numpy(dtype=np.int64)
        anorm = np.sqrt((amat * amat).sum(axis=1))
        if ba == bb:
            bmat, bids, bnorm = amat, aids, anorm
        else:
            b = pdf[pdf["side"] == 1]
            bmat = np.asarray(b["vec"].tolist(), dtype=np.float64)
            bids = b["vid"].to_numpy(dtype=np.int64)
            bnorm = np.sqrt((bmat * bmat).sum(axis=1))
        if len(amat) == 0 or len(bmat) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        cos = (amat @ bmat.T) / np.outer(anorm, bnorm)
        ai, bi = np.nonzero(cos >= threshold)
        ida, idb = aids[ai], bids[bi]
        keep = ida < idb  # one emission per unordered pair, a-orient
        lo, hi = ida[keep], idb[keep]
        vals = cos[ai, bi][keep]
        if ba != bb:
            # cross-block: also keep pairs where the bb-side id is the
            # smaller one (they never reappear in another group)
            rev = idb < ida
            lo = np.concatenate([lo, idb[rev]])
            hi = np.concatenate([hi, ida[rev]])
            vals = np.concatenate([vals, cos[ai, bi][rev]])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": vals})

    return both.groupBy("ba", "bb").applyInPandas(score_block_pair, out_schema)


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization (the int8 storage
    format of large ANN corpora): ``q_i = floor(x_i / max|x| * qmax +
    0.5)`` with ``qmax = 2^(bits-1) - 1``, plus the per-vector scale
    to dequantize (``x ≈ q * scale``).

    4× (fp32→int8) corpus shrink before a similarity pass; a narrow
    projection, no shuffle.  Every step is an IEEE-identical scalar op
    (abs/max/divide/multiply/floor — no summation), so the output is
    bit-reproducible and cross-engine exact: the DuckDB oracle hashes
    equal, no rounding-boundary caveats.
    """
    qmax = float((1 << (bits - 1)) - 1)
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        mx > 0,
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") / mx * qmax + F.lit(0.5)).cast(
                "int"
            ),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    scale = F.when(mx > 0, mx / qmax).otherwise(F.lit(0.0))
    return df.select(
        id_col,
        q.alias("qvec"),
        scale.cast("double").alias("scale"),
    )


def label_centroid_components(
    df: DataFrame, label_col: str, vec_col: str, scale_bits: int = 20
) -> DataFrame:
    """Per-label mean embedding (class centroids / mean-pooling) through
    exact integer moments, as one scalar row per ``(label, pos)``
    centroid component (``pos`` 0-based) — the cross-engine-comparable
    shape (hash/canonical tooling can sort scalar rows; it cannot hash
    arrays).

    Float sums are order-dependent, so a naive ``avg`` over a shuffled
    table is not reproducible (and never hash-matches another engine).
    Instead each component is scaled by 2**scale_bits — a power of two,
    so the float->double product is EXACT, no rounding boundary to
    disagree on — floored to int64, summed (associative: partial-agg
    order cannot change it), and divided back once at the end.  One
    posexplode + hash-agg; the component dimension fans out 64x before
    the shuffle, but rows are three longs wide, and at 100 TB the
    partial aggregation collapses them to (labels x dims) before the
    exchange."""
    scale = float(1 << scale_bits)
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "val"),
    )
    q = ex.groupBy("label", "pos").agg(
        F.sum(F.floor(F.col("val").cast("double") * scale)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    value = (F.col("s").cast("double") / (F.lit(scale) * F.col("c"))).alias("value")
    return q.select("label", F.col("pos").cast("int").alias("pos"), value)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip: int = 10,
    take: int = 5,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: per
    query, the documents ranked just BELOW the top-``skip`` — similar
    enough to be informative negatives, far enough to (heuristically)
    not be unlabeled positives.  The standard contrastive-training
    sampler (DPR/ANCE-style), expressed as a rank-band slice of the
    exact ranking; swap ``cosine_topk`` for ``lsh_topk``/``pq_topk``
    at corpus scale — the band logic is identical."""
    ranked = cosine_topk(
        corpus, queries, id_col, vec_col, k=skip + take
    )
    return (
        ranked.filter(F.col("rank") > skip)
        .select(
            "query_id",
            F.col("match_id").alias("negative_id"),
            "cosine",
            (F.col("rank") - skip).alias("neg_rank"),
        )
    )


def recall_at_k(
    truth: DataFrame,
    approx: DataFrame,
    k: int,
) -> DataFrame:
    """Distributed recall@k: per query, the fraction of the exact
    top-k (``truth``) recovered by an approximate run (``approx``) —
    the QA metric every ANN deployment tracks, as an engine operator
    rather than a driver-side script.  Inputs are ``(query_id,
    match_id, rank)`` runs; one left-semi-ish join + count per query,
    exact integer division published as micro-units.  Scale: both runs
    are Q·k rows — nothing corpus-sized.

    Both runs are reduced to DISTINCT (query, match) pairs first: a
    duplicated approx row would otherwise fan out the join and inflate
    both n_hit and n_truth (the ADVICE r03 finding)."""
    t = (
        truth.filter(F.col("rank") <= k)
        .select("query_id", "match_id")
        .dropDuplicates(["query_id", "match_id"])
    )
    a = (
        approx.filter(F.col("rank") <= k)
        .select("query_id", F.col("match_id").alias("amatch"))
        .dropDuplicates(["query_id", "amatch"])
    )
    hits = (
        t.join(
            a,
            (t["query_id"] == a["query_id"]) & (t["match_id"] == a["amatch"]),
            "left",
        )
        .select(t["query_id"], F.col("amatch").isNotNull().alias("hit"))
        .groupBy("query_id")
        .agg(
            F.sum(F.col("hit").cast("long")).alias("n_hit"),
            F.count(F.lit(1)).alias("n_truth"),
        )
    )
    return hits.select(
        "query_id",
        F.col("n_hit").cast("long").alias("n_hit"),
        F.col("n_truth").cast("long").alias("n_truth"),
        F.floor(F.col("n_hit") * 1000000 / F.col("n_truth"))
        .cast("long")
        .alias("recall_micro"),
    )


def rrf_fuse(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 3,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval runs — the standard
    hybrid-search combiner (Cormack et al.): ``score(d) = Σ_runs
    1/(c + rank_run(d))`` over the runs that retrieved ``d``, then
    re-rank.  Inputs are ``(query_id, match_id, rank)`` runs; ranks
    are integers, so the fused score is the same IEEE double in any
    engine — RRF is the rare ranking combiner that is exactly
    cross-engine reproducible (score-fusion of floats is not).

    One full-outer join on (query, doc) + a per-query top-k window
    over candidate rows only (|queries|·R per run) — nothing
    corpus-sized."""
    from pyspark.sql import Window

    fa = run_a.select(
        "query_id", "match_id",
        (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias("__sa"),
    )
    fb = run_b.select(
        "query_id", "match_id",
        (F.lit(1.0) / (F.lit(float(c)) + F.col("rank"))).alias("__sb"),
    )
    fused = fa.join(fb, ["query_id", "match_id"], "full").select(
        "query_id",
        "match_id",
        (
            F.coalesce(F.col("__sa"), F.lit(0.0))
            + F.coalesce(F.col("__sb"), F.lit(0.0))
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("match_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "rrf", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    seed: int = 42,
    fit_sample: int = 10_000,
    max_queries: int = 10_000,
) -> DataFrame:
    """Product-quantization ANN (the FAISS PQ/ADC scheme on Spark):
    approximate top-k nearest corpus vectors per query by asymmetric
    distance over ``m``-subspace codes.

    Scale shape, stage by stage:

    - **Train** — ``m`` sub-codebooks × ``ksub`` centroids, Lloyd
      k-means on a hash-ranked sample of ≤ ``fit_sample`` vectors
      collected to the driver.  Constant-cost by construction (same
      posture as ``ivf_topk``'s sample fit): the codebook is
      ``m·ksub·(dim/m)`` floats and the sample is capped — nothing
      corpus-sized moves, and at 100 TB the one full pass is encoding.
    - **Encode** — codebooks ship in the task closure (KBs); one BLAS
      distance-matrix + argmin per Arrow batch via ``mapInPandas``
      (never per-row Python).  Output is ``m`` uint8 codes per vector:
      a 32× shrink of a float32 64-dim corpus, which is the point —
      the residency format for web-scale ANN.
    - **Search** — per query an ADC lookup table (``m × ksub`` exact
      subspace distances, computed once), all query LUTs in the
      closure (``Q·m·ksub`` doubles, guarded by ``max_queries``);
      scoring is a numpy gather+sum per batch, and each batch emits
      only its per-batch top-k per query under the total order
      ``(adc_d2, match_id)`` — top-k of a union is the merge of
      per-part top-k under a total order, so the global window sees
      ``Q·k`` rows per batch, not ``Q·N`` pairs, and the result is
      partitioning-independent.

    Approximate by design (codebook quantization error) → rows-only
    correctness + planted/recall tests, like the LSH and IVF paths.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import types as T

    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    dsub = dim // m

    over = queries.limit(max_queries + 1).count()
    if over > max_queries:
        raise ValueError(
            f"pq_topk ships per-query ADC tables to every task; got > "
            f"{max_queries} query rows — batch the query set or raise "
            f"max_queries."
        )

    train = np.asarray(
        [
            r["v"]
            for r in corpus.select(
                F.col(vec_col).alias("v"),
                F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
            )
            .orderBy("__h")
            .limit(fit_sample)
            .collect()
        ],
        dtype=np.float64,
    )

    def _lloyd(x: "np.ndarray", kk: int, rng: "np.random.Generator") -> "np.ndarray":
        # deterministic Lloyd iterations; empty clusters re-seeded from
        # the farthest points so ksub centroids always survive
        cent = x[rng.choice(len(x), size=kk, replace=False)].copy()
        for _ in range(10):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            far = d2.min(axis=1).argsort()[::-1]
            spare = iter(far)
            for j in range(kk):
                mask = assign == j
                if mask.any():
                    cent[j] = x[mask].mean(axis=0)
                else:
                    cent[j] = x[next(spare)]
        return cent

    codebooks = np.stack(
        [
            _lloyd(
                train[:, j * dsub : (j + 1) * dsub],
                ksub,
                np.random.default_rng(seed * 1000 + j),
            )
            for j in range(m)
        ]
    )  # (m, ksub, dsub)

    enc_schema = T.StructType(
        [
            T.StructField("match_id", T.LongType()),
            T.StructField("code", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            vs = np.asarray(list(pdf["v"]), dtype=np.float64)
            codes = np.empty((len(vs), m), dtype=np.int32)
            for j in range(m):
                sub = vs[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"match_id": pdf["id"].to_numpy(), "code": list(codes)}
            )

    encoded = (
        corpus.select(
            F.col(id_col).alias("id").cast("long"), F.col(vec_col).alias("v")
        )
        .mapInPandas(encode, enc_schema)
    )

    qrows = queries.select(
        F.col(id_col).alias("qid").cast("long"), F.col(vec_col).alias("v")
    ).collect()
    qids = np.asarray([r["qid"] for r in qrows], dtype=np.int64)
    qvecs = np.asarray([r["v"] for r in qrows], dtype=np.float64)
    # ADC tables: exact distance from each query subvector to every
    # centroid — (Q, m, ksub)
    luts = np.stack(
        [
            ((qvecs[:, j * dsub : (j + 1) * dsub][:, None, :]
              - codebooks[j][None, :, :]) ** 2).sum(axis=2)
            for j in range(m)
        ],
        axis=1,
    )

    score_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("match_id", T.LongType()),
            T.StructField("adc_d2", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            ids = pdf["match_id"].to_numpy()
            codes = np.asarray(list(pdf["code"]), dtype=np.int64)  # (B, m)
            out_q, out_id, out_d = [], [], []
            for qi in range(len(qids)):
                # gather+sum: d2[b] = Σ_j LUT[qi, j, codes[b, j]]
                d2 = luts[qi, np.arange(m)[None, :], codes].sum(axis=1)
                mask = ids != qids[qi]  # self-match excluded
                cid, cd2 = ids[mask], d2[mask]
                top = np.lexsort((cid, cd2))[:k]  # total order (d2, id)
                out_q.append(np.full(len(top), qids[qi]))
                out_id.append(cid[top])
                out_d.append(cd2[top])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "match_id": np.concatenate(out_id),
                    "adc_d2": np.concatenate(out_d),
                }
            )

    candidates = encoded.mapInPandas(score, score_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("match_id").asc()
    )
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "adc_d2", "rank")
    )


def pca_project(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Distributed PCA projection of an embedding column to ``k``
    components — the whitening / dimensionality-reduction step of
    retrieval and clustering pipelines.

    Scale shape (the treeAggregate pattern): each Arrow batch reduces
    to a (count, sum-vector, X^T X) partial — d + d² doubles, INDEPENDENT
    of row count — so the driver combines |partitions| tiny partials,
    never rows.  The d×d covariance eigensolve is O(d³) on the driver
    (microseconds for embedding-sized d), components broadcast back,
    and the projection is one BLAS matmul per batch.  Nothing
    corpus-sized ever leaves the executors.

    Deterministic: eigenvectors get a sign convention (largest-|coord|
    component positive), so output is stable across runs/partitionings
    up to float summation order.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    part_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("xtx", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        for pdf in batches:
            m = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if len(m) == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "s": [m.sum(axis=0).tolist()],
                    "xtx": [(m.T @ m).ravel().tolist()],
                }
            )

    rows = corpus.select(vec_col).mapInPandas(partials, part_schema).collect()
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    xtx = np.sum([np.asarray(r["xtx"]).reshape(dim, dim) for r in rows], axis=0)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order]  # (dim, k)
    # sign convention: largest-|coordinate| entry of each component > 0
    flip = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(comps.shape[1])])
    flip[flip == 0] = 1.0
    comps = comps * flip

    spark = corpus.sparkSession
    b_mean = spark.sparkContext.broadcast(mean)
    b_comps = spark.sparkContext.broadcast(comps)

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("pca", T.ArrayType(T.DoubleType())),
        ]
    )

    def project(batches):
        mu, w = b_mean.value, b_comps.value
        for pdf in batches:
            m = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            if len(m) == 0:
                continue
            proj = (m - mu) @ w
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].to_numpy(), "pca": list(proj)}
            )

    return corpus.select(id_col, vec_col).mapInPandas(project, out_schema)


def ndcg_discount_micros(k: int) -> list[tuple[int, int]]:
    """Pinned integer NDCG discount table: ``(rank, round(1e6 /
    log2(rank+1)))`` for ranks 1..k.  Computed once in Python and
    embedded as LITERALS on both engines, so the metric never depends
    on either engine's ``log`` implementation."""
    import math

    return [(r, int(round(1_000_000 / math.log2(r + 1)))) for r in range(1, k + 1)]


def ndcg_at_k(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Distributed NDCG@k of an approximate retrieval run against the
    exact ranking — the graded-relevance companion to ``recall_at_k``.

    Relevance of a predicted item is derived from the exact run:
    ``rel = k + 1 - truth_rank`` for items inside the exact top-k,
    else 0.  The log2 position discounts come from
    ``ndcg_discount_micros`` as pinned integer literals (a literal
    array, looked up by rank), so DCG and IDCG are exact BIGINT dot
    products; the single float division at the end is the same IEEE
    op on both engines.

    Scale: both runs are Q·k rows; ONE full-outer join + ONE grouped
    sum computes both totals — nothing corpus-sized, and each
    ranking's upstream executes exactly once (r14)."""
    # duplicated (query, match) pairs reduce to their BEST (min) rank —
    # dropDuplicates would keep an arbitrary rank per pair and make
    # DCG/IDCG run-dependent (the recall_at_k r03 lesson, plus ranks)
    t = (
        truth.filter(F.col("rank") <= k)
        .groupBy("query_id", "match_id")
        .agg(F.min("rank").alias("t_rank"))
    )
    a = (
        approx.filter(F.col("rank") <= k)
        .groupBy("query_id", "match_id")
        .agg(F.min("rank").alias("a_rank"))
    )
    # ONE full-outer join + ONE aggregate (r14, guide §2.4): the
    # previous shape consumed ``t`` twice on different keys (the DCG
    # pair join and the per-query IDCG aggregate), so the truth
    # ranking's whole upstream — a corpus cross join + top-k window —
    # executed twice (no exchange reuse across different keys).  DCG
    # and IDCG are integer sums over exactly the same addends as
    # before (per-row rel·disc products, 0 where a side is absent), so
    # the totals are bit-identical; the position discounts move from a
    # broadcast dim join to a literal-array lookup (same pinned
    # integers).  Queries outside the exact top-k table (no t row)
    # never produced an IDCG row before — the has_t filter keeps that.
    disc_arr = F.array(
        *[F.lit(int(mu)).cast("long") for _, mu in ndcg_discount_micros(k)]
    )
    j = a.join(t, ["query_id", "match_id"], "full_outer")
    rel = F.coalesce(F.lit(k + 1) - F.col("t_rank"), F.lit(0)).cast("long")
    dcg_term = F.when(
        F.col("a_rank").isNotNull(),
        rel * F.element_at(disc_arr, F.col("a_rank")),
    ).otherwise(F.lit(0).cast("long"))
    idcg_term = F.when(
        F.col("t_rank").isNotNull(),
        (F.lit(k + 1) - F.col("t_rank")).cast("long")
        * F.element_at(disc_arr, F.col("t_rank")),
    ).otherwise(F.lit(0).cast("long"))
    g = j.groupBy("query_id").agg(
        F.sum(dcg_term).alias("dcg_micro"),
        F.sum(idcg_term).alias("idcg_micro"),
        F.max(F.col("t_rank").isNotNull().cast("int")).alias("has_t"),
    )
    return (
        g.filter(F.col("has_t") == 1)
        .select(
            "query_id",
            F.col("dcg_micro").cast("long").alias("dcg_micro"),
            F.col("idcg_micro").cast("long").alias("idcg_micro"),
            (
                F.col("dcg_micro").cast("double")
                / F.col("idcg_micro").cast("double")
            ).alias("ndcg"),
        )
    )


def mrr_at_k(truth: DataFrame, approx: DataFrame, k: int = 10) -> DataFrame:
    """Mean-reciprocal-rank retrieval QA (the trio's third member with
    ``recall_at_k`` and ``ndcg_at_k``): per query, the rank of the
    FIRST truth item recovered by the approximate run, published as
    pinned integer micro reciprocals (``round(1e6/rank)`` literals —
    no float rank math reaches a compared value).  Queries with no hit
    publish ``(0, 0)``.  Both runs are Q·k rows; ONE left join + a min
    per query, each ranking's upstream executed exactly once (r14) —
    nothing corpus-sized."""
    # ONE left join + ONE aggregate (r14, guide §2.4): the previous
    # shape consumed the truth table twice — once in the hit join and
    # once for the per-query dim — so the exact ranking's upstream (a
    # corpus cross join + top-k window) executed twice.  A left join
    # from truth keeps every truth pair (so every truth query survives
    # the aggregate — the old ``q`` dim, for free) and ``min`` ignores
    # nulls, so first_hit_rank is the same inner-join minimum.  The
    # reciprocal table moves from a broadcast dim join to a literal
    # integer array lookup — identical pinned values.
    t = truth.select("query_id", "match_id").distinct()
    a = approx.filter(F.col("rank") <= k).select("query_id", "match_id", "rank")
    rr_arr = F.array(
        *[
            F.lit(int(round(1_000_000 / r))).cast("long")
            for r in range(1, k + 1)
        ]
    )
    g = (
        t.join(a, ["query_id", "match_id"], "left")
        .groupBy("query_id")
        .agg(F.min("rank").cast("int").alias("first_hit_rank"))
    )
    # explicit null guard: element_at(literal_array, NULL) is NOT a
    # reliable NULL on this Spark build (observed returning the last
    # element under constant folding) — never feed it a nullable index
    return g.select(
        "query_id",
        F.coalesce("first_hit_rank", F.lit(0)).cast("int").alias("first_hit_rank"),
        F.when(
            F.col("first_hit_rank").isNotNull(),
            F.element_at(rr_arr, F.col("first_hit_rank")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rr_micro"),
    )


def knn_graph(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 2,
    dim: int = 64,
    seed: int = 42,
    scheme: str = "uniform",
) -> DataFrame:
    """Approximate k-NN GRAPH over the corpus (every vector gets its k
    nearest neighbors) — the backbone of embedding-based clustering,
    semantic dedup and diversity sampling — built sub-quadratically:

    1. ``srp_buckets`` assigns each vector to one cosine-LSH bucket
       per table (L tables buy recall);
    2. candidate edges are generated ONLY within (table, bucket)
       groups — a bucket-keyed self-equi-join, never all-pairs;
    3. candidates are deduped across tables on (a, b) BEFORE scoring
       (ids only — vectors join back after the distinct, so no pair is
       scored or carried twice);
    4. exact cosine re-scoring, then a per-source top-k window under
       the total order (cos desc, neighbor id) makes the graph
       deterministic and partitioning-independent.

    Output: (id, neighbor_id, rank, cos_milli).  Approximate by
    design (bucket-local recall) → rows-only; recall-vs-exact is
    pinned by pytest at small SF.
    """
    from pyspark.sql import Window

    # (no persist barrier here: the bucket table feeds both sides of
    # the candidate self-join, but both sides shuffle on the same
    # (table, bucket) key, so Spark plans a ReusedExchange for the
    # second side — the SRP ArrowEvalPython pass executes ONCE at
    # runtime.  An explicit persist was A/B-measured at parity (r14:
    # 4.27 s vs 4.35 s warm) and only adds cache-pollution risk.)
    b = srp_buckets(
        corpus.select(id_col, vec_col),
        id_col=id_col,
        vec_col=vec_col,
        n_planes=n_planes,
        dim=dim,
        seed=seed,
        n_tables=n_tables,
        scheme=scheme,
    ).select(F.col(id_col).alias("a"), "table", "bucket")
    pairs = (
        b.alias("x")
        .join(
            b.alias("y").withColumnRenamed("a", "b"),
            ["table", "bucket"],
        )
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # norms are per-vector: hoist them into the projections so the
    # O(candidate-pairs) hot loop folds ONE array (the dot product),
    # not three — same trick as cosine_topk, same bit-identical result
    va = corpus.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    vb = corpus.select(
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    scored = (
        pairs.join(va, "a")
        .join(vb, "b")
        .select(
            "a",
            "b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
                "cos"
            ),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("cos").desc(), F.col("b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("a").alias(id_col),
            F.col("b").alias("neighbor_id"),
            F.col("rank").cast("int").alias("rank"),
            F.round(F.col("cos") * 1000).cast("long").alias("cos_milli"),
        )
    )


def exact_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    unit: int = 1_000_000,
) -> DataFrame:
    """Exact one-vs-rest ROC-AUC per label value — the Mann-Whitney U
    statistic computed distributively over PER-SCORE COUNTS (never the
    O(pos·neg) pair join): two prefix-sum windows (all rows, per
    class) give the below-score negative mass, ties contribute ½ via
    the 2·pairs+ties numerator, and the result is exact integer
    ``unit``-ths (no float division).  The windows run over distinct
    scores — bounded — so a classifier eval is one pass at any corpus
    size.  Returns (label, npos, nneg, auc_micro).
    """
    from pyspark.sql import Window

    d = df.select(
        F.col(label_col).alias("lang"), F.col(score_col).cast("long").alias("score")
    )
    w_all = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    sc = (
        d.groupBy("score")
        .agg(F.count(F.lit(1)).alias("n_s"))
        .withColumn(
            "cum_all_below",
            F.coalesce(F.sum("n_s").over(w_all), F.lit(0)).cast("long"),
        )
    )
    w_lang = (
        Window.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ls = (
        d.groupBy("lang", "score")
        .agg(F.count(F.lit(1)).alias("npos_s"))
        .withColumn(
            "cumpos_below",
            F.coalesce(F.sum("npos_s").over(w_lang), F.lit(0)).cast("long"),
        )
    )
    agg = (
        ls.join(sc, "score")
        .groupBy("lang")
        .agg(
            F.sum(F.col("npos_s") * (F.col("cum_all_below") - F.col("cumpos_below")))
            .cast("long")
            .alias("pairs_won"),
            F.sum(F.col("npos_s") * (F.col("n_s") - F.col("npos_s")))
            .cast("long")
            .alias("ties"),
            F.sum("npos_s").cast("long").alias("npos"),
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        agg.join(F.broadcast(tot))
        .select(
            F.col("lang").alias(label_col),
            "npos",
            (F.col("n") - F.col("npos")).cast("long").alias("nneg"),
            F.expr(
                f"CAST((2 * pairs_won + ties) * {unit}"
                " DIV (2 * npos * (n - npos)) AS BIGINT)"
            ).alias("auc_micro"),
        )
        .orderBy(label_col)
    )


def spearman_rho(
    df: "DataFrame", id_col: str, col_a: str, col_b: str
) -> "DataFrame":
    """Exact Spearman rank correlation between two per-row metrics,
    ties -> average ranks, published in integer micro-units via the
    d² formula: ρ = 1 − 6·Σd² / (n(n²−1)).

    Integer discipline: average ranks live as DOUBLED ranks
    (2·avg = 2·cum_below + cnt + 1 — always an integer), and
    Σ(2·Δrank)² is ACCUMULATED AND PUBLISHED in DECIMAL(38,0): the sum
    is bounded by 4n³, which exceeds int64 past n ≈ 1.3M rows, where a
    BIGINT accumulator would wrap silently on Spark while DuckDB's
    HUGEINT path errors instead (ADVICE r5).  ρ_micro is one exact
    floor-divide on DECIMAL(38,0)/HUGEINT — no float ranks anywhere,
    identical in any engine and under any partitioning.

    Scale shape: ranks come from DISTINCT-VALUE tables (count +
    running count per value), not a global row sort — the windows run
    over the value domain, which for quantized metrics is bounded
    regardless of corpus size; the join-back is a bounded-dimension
    equi-join.  The tie-correction-factor variant of Spearman is
    deliberately omitted: the d²-over-average-ranks form is the
    documented contract.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(col_a).cast("long").alias("__a"),
        F.col(col_b).cast("long").alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())

    def ranks2(col: str, out: str) -> "DataFrame":
        cnt = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        w = (
            Window.orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return cnt.select(
            col,
            (
                2 * F.coalesce(F.sum("__c").over(w), F.lit(0))
                + F.col("__c")
                + 1
            )
            .cast("long")
            .alias(out),
        )

    ra = ranks2("__a", "__r2a")
    rb = ranks2("__b", "__r2b")
    joined = base.join(ra, "__a").join(rb, "__b")
    d2 = (F.col("__r2a") - F.col("__r2b")).cast("decimal(38,0)")
    agg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d2 * d2).cast("decimal(38,0)").alias("sum_d2_x4"),
    )
    # n(n²−1) likewise in decimal so the denominator can't wrap either.
    # sum_d2_x4 is PUBLISHED as its digit string: the value is exact
    # either way, but pandas-level canonicalizers (the driver's) hash
    # Spark Decimal objects differently from DuckDB decimals even when
    # bit-identical (the r6 hash-mismatch on this very query) — digit
    # strings are representation-proof.
    return agg.select(
        "n",
        F.col("sum_d2_x4").cast("string").alias("sum_d2_x4"),
        F.expr(
            "CAST(1000000 - CAST(1500000 AS DECIMAL(38,0)) * sum_d2_x4"
            " DIV (CAST(n AS DECIMAL(38,0)) * n * n"
            " - CAST(n AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("rho_micro"),
    )


def gram_matrix_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """EXACT upper-triangular Gram matrix ``S_ij = Σ_v q_i(v)·q_j(v)``
    of the int8-quantized corpus — the second-moment statistic behind
    covariance/PCA/whitening, computed with integer state so the
    result is associative and engine-identical (float Gram sums are
    order-dependent and can never hash-match another engine; the
    quantization itself is the bit-reproducible ``quantize_embeddings``
    path).

    Scale shape: one Arrow pass computes a PER-PARTITION partial Gram
    with a single int64 BLAS matmul (``Qᵀ·Q`` — d²/2 accumulators per
    partition, NOT d² rows per vector), then the shuffle carries only
    ``n_partitions × d(d+1)/2`` tiny rows into the final sum — at
    100 TB the exchange is the d×d triangle per partition regardless
    of corpus size.  Bounds: |q| ≤ 127 ⇒ each product ≤ 16129, so
    int64 holds exact sums past 5·10¹⁴ vectors.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    q = quantize_embeddings(df, id_col, vec_col, bits).select("qvec")

    def partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = None
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["qvec"].tolist(), dtype=np.int64)
            G = Q.T @ Q if G is None else G + Q.T @ Q
        if G is not None:
            iu = np.triu_indices(G.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int64"),
                    "j": iu[1].astype("int64"),
                    "s": G[iu].astype("int64"),
                }
            )

    partial = q.mapInPandas(partial_gram, "i long, j long, s long")
    return (
        partial.groupBy("i", "j")
        .agg(F.sum("s").cast("long").alias("s"))
        .orderBy("i", "j")
    )


def _kmeans_int_np(vecs, ids, k: int, n_iter: int = 3):
    """Driver-side fixed-point Lloyd's on numpy int64 — the one driver
    loop of the integer KMeans (``kmeans_fixedpoint_int`` at or under
    its size cap, and the serving-grade trainer below, which fits
    1 + m codebooks from ONE collected corpus instead of m + 1 Spark
    round-trips).  Init = the k vectors ranked first under
    ``(md5(str(id)), id)``; assignment argmin under (distance, cid)
    (``np.argmin``'s first-minimum rule); update = floor mean (int64
    ``//`` floors like CPython); an empty cluster keeps its centroid.
    Distances use the ‖x‖²−2x·c+‖c‖² int64-matmul expansion (exact —
    max term ≈ dim·32512² ≈ 6.8e10; the n×k matrix is the only temp)."""
    import hashlib

    import numpy as np

    h = np.array(
        [hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids]
    )
    order = np.lexsort((np.asarray(ids), h))
    cents = vecs[order[:k]].copy()
    x2 = (vecs * vecs).sum(axis=1)
    for _ in range(n_iter):
        c2 = (cents * cents).sum(axis=1)
        d = x2[:, None] - 2 * (vecs @ cents.T) + c2[None, :]
        assign = d.argmin(axis=1)
        for j in range(k):
            mask = assign == j
            nj = int(mask.sum())
            if nj > 0:
                cents[j] = vecs[mask].sum(axis=0) // nj
    return cents


def _l2_int(a, b):
    """Exact integer squared L2 between two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _dot_int(a, b):
    """Exact integer dot between two array<long> columns, fixed order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, c: x * c),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _train_refined_codebooks(
    spark,
    q256,
    n_clusters: int,
    ksub: int,
    m: int,
    sub: int,
    dim: int,
    n_iter: int,
    driver_max_vectors: int,
):
    """TRAIN stage of the serving-grade path, shared by the inline
    query (``ivfpq_refine_topk``) and the index build
    (``ivfpq_refined_build_index``): coarse quantizer + m per-subspace
    PQ codebooks, all via the certified fixed-point integer KMeans
    over ``q256``'s ``(match_id, q)``.  Size-adaptive (the
    dedup_clusters / pagerank_int rule): at or under
    ``driver_max_vectors`` all 1+m fits run on ONE collected copy of
    the quantized corpus via ``_kmeans_int_np``; above it the coarse
    fit and the fused m-subspace fit are ``_kmeans_multi_arrow``
    loops.  Both paths are bit-identical by integer determinism.
    Returns the numpy codebooks and the two control-plane codebook
    frames (n_clusters rows; m·ksub rows).

    Do NOT raise ``driver_max_vectors`` past its ~100k design point:
    numpy int64 matmuls have no BLAS path, so the collected fit
    degrades super-linearly (128k vectors: 501 s collected vs 103 s
    distributed — BASELINE.md round-12 probe 6c); the distributed
    Arrow path exists precisely for that regime."""
    import numpy as np

    n_vec = q256.limit(driver_max_vectors + 1).count()
    if n_vec <= driver_max_vectors:
        rows = q256.select("match_id", "q").collect()
        ids = np.array([int(r["match_id"]) for r in rows], dtype=np.int64)
        vecs = np.array([[int(v) for v in r["q"]] for r in rows],
                        dtype=np.int64)
        coarse_np = _kmeans_int_np(vecs, ids, n_clusters, n_iter)
        books_np = [
            _kmeans_int_np(
                np.ascontiguousarray(vecs[:, s * sub:(s + 1) * sub]),
                ids, ksub, n_iter,
            )
            for s in range(m)
        ]
    else:
        coarse_np = _kmeans_multi_arrow(q256, n_clusters, 1, dim, n_iter)[0]
        # all m subspace fits fused into one Arrow pass per round —
        # bit-identical to m separate single-subspace fits
        # (pytest-pinned), 3 jobs instead of 3·m
        books_np = _kmeans_multi_arrow(q256, ksub, m, sub, n_iter)

    # single-batch Arrow local frames (io.local_frame): these two are
    # parquet-WRITTEN by every build — through the pickled-rows path
    # the write alone cost 5-7 s each (32 Python-RDD partitions);
    # Arrow-backed they execute JVM-side (r14: 12.5 s train stage →
    # the fits' ~0.6 s plus one quantize pass)
    from ..io import local_frame

    coarse_df = local_frame(
        spark,
        [(j, [int(v) for v in coarse_np[j]]) for j in range(n_clusters)],
        "cid long, cvec array<long>",
    )
    books_df = local_frame(
        spark,
        [
            (s, c, [int(v) for v in books_np[s][c]])
            for s in range(m)
            for c in range(ksub)
        ],
        "s long, code long, ce array<long>",
    )
    return coarse_np, [b for b in books_np], coarse_df, books_df


def _kmeans_multi_arrow(q256, ksub: int, m: int, sub: int, n_iter: int):
    """The one distributed loop of the integer KMeans: ALL m
    per-subspace codebooks over ``q256``'s ``(match_id, q)`` trained
    with ONE narrow Arrow pass per Lloyd round (``m=1, sub=dim`` is
    the full-vector fit of ``kmeans_fixedpoint_int`` above its size
    cap and of the serving-grade coarse quantizer).  Each batch
    assigns every vector's m slices against the closure-shipped
    codebook stack (m·ksub·sub int64s ≈ 130 KB) and emits
    per-(subspace, cluster) PARTIAL component sums; one
    m·ksub·sub-row hash aggregate folds them and the floor mean runs
    driver-side.  Bit-identical to ``_kmeans_int_np`` on each slice —
    same md5-ranked init (the slices of the same first-ksub vectors),
    same integer argmin tie-break, and int64 partial sums fold
    associatively — but 3 jobs instead of 3·m (the 128k-vector probe
    measured the per-job scheduling floor dominating the split
    formulation)."""
    import numpy as np
    import pyarrow as pa

    init_rows = (
        q256.select(
            "match_id",
            "q",
            F.md5(F.col("match_id").cast("string").cast("binary")).alias(
                "h"
            ),
        )
        .orderBy("h", "match_id")
        .limit(ksub)
        .collect()
    )
    init_vecs = np.array(
        [[int(v) for v in r["q"]] for r in init_rows], dtype=np.int64
    )
    books = [
        np.ascontiguousarray(init_vecs[:, s * sub:(s + 1) * sub]).copy()
        for s in range(m)
    ]
    dim = m * sub
    part_schema = pa.schema(
        [
            pa.field("s", pa.int64()),
            pa.field("cid", pa.int64()),
            pa.field("d", pa.int64()),
            pa.field("ps", pa.int64()),
            pa.field("n", pa.int64()),
        ]
    )
    for _ in range(n_iter):
        B = np.stack(books)  # m × ksub × sub
        b2 = (B * B).sum(axis=2)  # m × ksub

        def partials(batches, B=B, b2=b2):
            for batch in batches:
                n_b = batch.num_rows
                if n_b == 0:
                    yield pa.RecordBatch.from_pydict(
                        {f.name: [] for f in part_schema},
                        schema=part_schema,
                    )
                    continue
                X = np.asarray(
                    batch.column("q").flatten(), dtype=np.int64
                ).reshape(n_b, dim)
                out_s, out_c, out_d, out_ps, out_n = [], [], [], [], []
                for s in range(m):
                    Xs = np.ascontiguousarray(X[:, s * sub:(s + 1) * sub])
                    xs2 = (Xs * Xs).sum(axis=1)
                    dist = (
                        xs2[:, None] - 2 * (Xs @ B[s].T) + b2[s][None, :]
                    )
                    a = dist.argmin(axis=1)
                    sums = np.zeros((B.shape[1], sub), dtype=np.int64)
                    np.add.at(sums, a, Xs)
                    cnt = np.bincount(a, minlength=B.shape[1]).astype(
                        np.int64
                    )
                    nz = np.nonzero(cnt)[0]
                    out_s.append(np.full(len(nz) * sub, s, dtype=np.int64))
                    out_c.append(np.repeat(nz, sub))
                    out_d.append(
                        np.tile(np.arange(sub, dtype=np.int64), len(nz))
                    )
                    out_ps.append(sums[nz].reshape(-1))
                    out_n.append(np.repeat(cnt[nz], sub))
                yield pa.RecordBatch.from_pydict(
                    {
                        "s": np.concatenate(out_s),
                        "cid": np.concatenate(out_c),
                        "d": np.concatenate(out_d),
                        "ps": np.concatenate(out_ps),
                        "n": np.concatenate(out_n),
                    },
                    schema=part_schema,
                )

        upd = (
            q256.select("q")
            .mapInArrow(
                partials, "s long, cid long, d long, ps long, n long"
            )
            .groupBy("s", "cid", "d")
            .agg(
                F.sum("ps").cast("long").alias("ps"),
                F.sum("n").cast("long").alias("n"),
            )
        )
        acc: dict = {}
        for r in upd.collect():
            key = (int(r["s"]), int(r["cid"]))
            if key not in acc:
                acc[key] = ([0] * sub, 0)
            acc[key][0][int(r["d"])] = int(r["ps"])
            acc[key] = (acc[key][0], int(r["n"]))
        for s in range(m):
            nb = books[s].copy()
            for c in range(ksub):
                hit = acc.get((s, c))
                if hit is not None and hit[1] > 0:
                    for t in range(sub):
                        nb[c, t] = hit[0][t] // hit[1]
            books[s] = nb
    return books


def _encode_refined_wide(q256, coarse_np, books_np, m: int, sub: int):
    """ENCODE stage of the trained (int8 ×256-grid) path — its one
    encode kernel, shared by the inline query, the index build and the
    upsert epochs: ONE narrow Arrow pass over the quantized corpus —
    per batch, the coarse assignment and all m PQ codes come from exact
    int64 numpy matmuls against the closure-shipped codebooks (the
    FAISS-style encode kernel; ~160 KB of codebooks per worker, no
    join, no shuffle).  ``np.argmin``'s first-minimum rule IS the
    (distance, cid)/(distance, code) tie-break, and every term is exact
    int64 (max ≈ dim·32512² ≈ 6.8e10), so the output is bit-identical
    to the broadcast-join formulation it replaced — the DuckDB oracle
    replay certifies exactly that.

    Emits the wide epoch-store record ``(match_id, cid, codes
    array<long>[m], q, scale)`` with ``q`` and ``scale`` passed through
    untouched; ``_long_codes`` derives the long-form inverted-list
    record ``(match_id, cid, s, code)`` from it.  NULL or ragged ``q``
    rows raise a ``ValueError`` naming this function and ``dim``."""
    import numpy as np
    import pyarrow as pa

    C = np.ascontiguousarray(coarse_np)
    B = [np.ascontiguousarray(b) for b in books_np]
    c2 = (C * C).sum(axis=1)
    b2 = [(b * b).sum(axis=1) for b in B]
    dim = C.shape[1]

    out_schema = pa.schema(
        [
            pa.field("match_id", pa.int64()),
            pa.field("cid", pa.int64()),
            pa.field("codes", pa.list_(pa.int64())),
            pa.field("q", pa.list_(pa.int64())),
            pa.field("scale", pa.float64()),
        ]
    )
    check = _vector_check(dim, "_encode_refined_wide")

    def encode(batches):
        for batch in batches:
            n_b = batch.num_rows
            if n_b == 0:
                yield pa.RecordBatch.from_pydict(
                    {f.name: [] for f in out_schema}, schema=out_schema
                )
                continue
            check(batch.column("q"))
            X = np.asarray(
                batch.column("q").flatten(), dtype=np.int64
            ).reshape(n_b, dim)
            x2 = (X * X).sum(axis=1)
            dc = x2[:, None] - 2 * (X @ C.T) + c2[None, :]
            cid = dc.argmin(axis=1).astype(np.int64)
            codes = np.empty((n_b, m), dtype=np.int64)
            for s in range(m):
                Xs = np.ascontiguousarray(X[:, s * sub:(s + 1) * sub])
                xs2 = (Xs * Xs).sum(axis=1)
                ds = xs2[:, None] - 2 * (Xs @ B[s].T) + b2[s][None, :]
                codes[:, s] = ds.argmin(axis=1)
            codes_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n_b + 1) * m, m, dtype=np.int32)
                ),
                pa.array(codes.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("match_id").cast(pa.int64()),
                    pa.array(cid),
                    codes_arr,
                    batch.column("q").cast(pa.list_(pa.int64())),
                    batch.column("scale").cast(pa.float64()),
                ],
                schema=out_schema,
            )

    return q256.select("match_id", "q", "scale").mapInArrow(
        encode,
        "match_id long, cid long, codes array<long>, "
        "q array<long>, scale double",
    )


def _long_codes(wide):
    """The long-form inverted-list record ``(match_id, cid, s, code)``
    — one row per (vector, subspace) — from ``_encode_refined_wide``'s
    wide record."""
    return wide.select(
        "match_id", "cid", F.posexplode("codes").alias("s", "code")
    ).withColumn("s", F.col("s").cast("long"))


def _quantize_queries(queries, id_col, vec_col):
    return quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.transform("qvec", lambda x: x.cast("long") * 256).alias("qv"),
        F.col("scale").alias("qscale"),
    )


def _probe_refined(qq, coarse_df, nprobe: int):
    """PROBE stage: each query's nprobe nearest coarse lists under the
    integer (L2, cid) total order."""
    from pyspark.sql import Window

    wp = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("cid").asc()
    )
    return (
        qq.crossJoin(F.broadcast(coarse_df))
        .withColumn("d", _l2_int(F.col("qv"), F.col("cvec")))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "cid")
    )


def _serve_refined(
    qq,
    coarse_df,
    books_df,
    codes_cid,
    vecs_df,
    k: int,
    nprobe: int,
    shortlist: int,
    m: int,
    sub: int,
    probes=None,
):
    """ADC + REFINE serving tail, shared by the inline query and the
    persisted-index query: probe (unless a pre-computed ``probes``
    frame is injected — the index path computes it early to derive the
    static partition filter), per-query integer ADC lookup tables,
    shortlist by exact int64 ADC sum, then the exact-int8 refine
    re-rank.  ``codes_cid`` is (match_id, cid, s, code); ``vecs_df``
    is (match_id, q, scale) — the inline path passes the quantized
    corpus, the index path its pruned parquet scans."""
    from pyspark.sql import Window

    if probes is None:
        probes = _probe_refined(qq, coarse_df, nprobe)
    lut = (
        qq.select(
            "query_id",
            F.posexplode(
                F.array(*[F.slice("qv", s * sub + 1, sub) for s in range(m)])
            ).alias("s", "qs"),
        )
        .join(F.broadcast(books_df), "s")
        .select(
            "query_id", "s", "code",
            _dot_int(F.col("qs"), F.col("ce")).alias("dq"),
        )
    )
    cand = (
        probes.join(codes_cid, "cid")
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", "s", "code")
    )
    adc = (
        cand.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "match_id")
        .agg(F.sum("dq").cast("long").alias("adc"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("match_id").asc()
    )
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .drop("rn")
    )
    ref = (
        short.join(vecs_df, "match_id")
        .join(F.broadcast(qq), "query_id")
        .withColumn("dotint", _dot_int(F.col("q"), F.col("qv")))
        .withColumn("r", F.col("dotint").cast("double") * F.col("scale"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("r").desc(), F.col("match_id").asc()
    )
    return (
        ref.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "match_id",
            "rank",
            "adc",
            F.floor(
                F.col("r") * F.col("qscale") / F.lit(65536.0) * F.lit(1e6)
            ).cast("long").alias("refine_micro"),
        )
    )


def ivfpq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_clusters: int = 64,
    ksub: int = 256,
    m: int = 16,
    nprobe: int = 16,
    shortlist: int = 50,
    n_iter: int = 3,
    dim: int = 64,
    driver_max_vectors: int = 100_000,
) -> DataFrame:
    """SERVING-GRADE trained IVF-PQ with an exact-int8 refine stage —
    the architecture a production ANN service actually runs (VERDICT
    r10 #2: demonstrate the quality path at realistic codebook sizes,
    coarse k=64 + per-SUBSPACE k=256, not the degenerate shared-8
    certification configs):

    1. TRAIN: coarse quantizer (``n_clusters`` centroids over the full
       fixed-point vectors) and ``m`` PER-SUBSPACE PQ codebooks
       (``ksub`` centroids over each dim/m slice), all via the
       certified integer KMeans — every codebook a pure function of
       the corpus, bit-identical across engines.  One quantization
       grid end-to-end (per-FULL-vector ×256 — the round-10 rule).
    2. ENCODE: one narrow Arrow pass (exact-int64 numpy matmuls
       against closure-shipped codebooks — no join, no shuffle) →
       coarse list id + m 1-byte codes per vector (what keeps 100 TB
       RAM-resident).
    3. PROBE: each query scans its ``nprobe`` nearest coarse lists
       under the integer (L2, cid) order — candidates ≈
       nprobe/n_clusters of the corpus.
    4. ADC: per-query lookup table (m·ksub integer dots), candidate
       score = Σ_s LUT[s, code_s] — an EXACT int64 sum, so no float
       accumulation order exists to diverge.
    5. REFINE: the ADC ``shortlist`` re-ranks by the exact int8 dot
       (full-dim integer dot × the candidate's dequant scale — one
       IEEE multiply, deterministic).  This stage is what lifts
       recall@3 from the PQ ceiling (~0.4–0.7 on this corpus) to
       ≥0.8 — BASELINE.md round-11 probe 2: 0.86 at the default
       config, 0.97 at nprobe=32 — touching only ``shortlist`` full
       vectors per query.

    Stages live in ``_train_refined_codebooks`` /
    ``_encode_refined_wide`` / ``_serve_refined``, verbatim-shared with
    the persisted-index lifecycle (``ivfpq_refined_build_index`` /
    ``ivfpq_refined_query_index``) so the split cannot change a score.

    Returns (query_id, match_id, rank, adc, refine_micro): ``adc`` the
    exact integer ADC score, ``refine_micro`` the floored-micro
    approximate cosine from the refine stage (monotone with the rank
    key within a query)."""
    sub = dim // m
    spark = corpus.sparkSession

    q256 = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col(id_col).alias("match_id"),
        F.transform("qvec", lambda x: x.cast("long") * 256).alias("q"),
        F.col("scale"),
    )
    # persist barrier BEFORE any slice/explode over the HOF-built
    # array (the CLAUDE.md Generate-re-evaluation rule) and before the
    # multi-consumer fan-out (assignment, codes, refine join all read
    # it); unpersisted after the eager materialization at the end
    q256.persist()

    coarse_np, books_np, coarse_df, books_df = _train_refined_codebooks(
        spark, q256, n_clusters, ksub, m, sub, dim, n_iter, driver_max_vectors,
    )
    codes_cid = _long_codes(
        _encode_refined_wide(q256, coarse_np, books_np, m, sub)
    )
    qq = _quantize_queries(queries, id_col, vec_col)
    qq.persist()
    out = _serve_refined(
        qq, coarse_df, books_df, codes_cid, q256,
        k, nprobe, shortlist, m, sub,
    )
    out = out.localCheckpoint(eager=True)
    q256.unpersist()
    qq.unpersist()
    return out


def ivfpq_refined_build_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    ksub: int = 256,
    m: int = 16,
    n_iter: int = 3,
    dim: int = 64,
    driver_max_vectors: int = 100_000,
) -> None:
    """BUILD-ONCE half of the serving-grade TRAINED index lifecycle:
    train the realistic-config codebooks (coarse k=64 + per-subspace
    k=256 — ``_train_refined_codebooks``), encode the corpus
    (``_encode_refined_wide``), and persist FOUR tables under ``path``:

    - ``coarse``  — the n_clusters coarse centroids (control-plane);
    - ``books``   — the m·ksub subspace codebook entries;
    - ``codes``   — (match_id, s, code) PARTITIONED BY the coarse list
      id, the inverted-list layout a probed query prunes at the
      parquet layer;
    - ``vectors`` — (match_id, q int8×256-grid, scale) partitioned the
      SAME way, so the refine stage's full-vector reads prune to the
      probed lists too (the int8 store that rides along in real ANN
      deployments — 4× smaller than fp32).

    At 100 TB: train is 1+m control-plane fits over one corpus
    collect/aggregate; encode is one broadcast pass; the writes move
    m+1 small ints + dim int8s per vector, once."""
    stages, state = ivfpq_refined_build_stages(
        corpus, path, id_col, vec_col,
        n_clusters=n_clusters, ksub=ksub, m=m, n_iter=n_iter, dim=dim,
        driver_max_vectors=driver_max_vectors,
        # composed production build: let the codes WRITE trigger the
        # encode compute (fused), instead of the per-stage-attribution
        # eager count that costs one extra cached scan (ADVICE r11)
        eager_encode=False,
    )
    try:
        for _name, fn in stages:
            fn()
    finally:
        # the write stage unpersists on success; this covers a failure
        # part-way through any stage (unpersisting twice is a no-op)
        for key in ("wide", "q256"):
            frame = state.get(key)
            if frame is not None:
                frame.unpersist()


def ivfpq_refined_build_stages(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 64,
    ksub: int = 256,
    m: int = 16,
    n_iter: int = 3,
    dim: int = 64,
    driver_max_vectors: int = 100_000,
    eager_encode: bool = True,
):
    """``ivfpq_refined_build_index`` split into its three stages —
    ``(name, thunk)`` pairs run in order (the compaction
    ``_index_compact_stages`` discipline, VERDICT r10 #8): composing
    them verbatim IS the build, and bench.py times each stage
    separately so a regression in ONE stage (a slow codebook fit, an
    encode-kernel fallback, a write amplification) is attributable
    instead of drowned in the whole-flow number.

    - ``train``  — quantize to the shared ×256 grid (persisted: feeds
      training, encode, and the vectors write), fit coarse +
      per-subspace codebooks, write the two control-plane tables;
    - ``encode`` — the one narrow mapInArrow pass producing all codes;
      with ``eager_encode`` (bench attribution) it is materialized
      into the cache here so this stage's wall IS the encode cost;
      the composed production build passes ``eager_encode=False`` so
      the codes write fuses compute+write with no extra cached scan
      (ADVICE r11);
    - ``write``  — the two cid-partitioned writes (codes + int8
      vectors), then unpersist."""
    sub = dim // m
    spark = corpus.sparkSession
    state: dict = {}

    def train():
        q256 = quantize_embeddings(corpus, id_col, vec_col).select(
            F.col(id_col).alias("match_id"),
            F.transform("qvec", lambda x: x.cast("long") * 256).alias("q"),
            F.col("scale"),
        )
        q256.persist()
        state["q256"] = q256
        coarse_np, books_np, coarse_df, books_df = _train_refined_codebooks(
            spark, q256, n_clusters, ksub, m, sub, dim, n_iter, driver_max_vectors,
        )
        state["coarse_np"], state["books_np"] = coarse_np, books_np
        coarse_df.coalesce(1).write.mode("overwrite").parquet(
            path + "/coarse"
        )
        books_df.coalesce(1).write.mode("overwrite").parquet(path + "/books")

    def encode():
        wide = _encode_refined_wide(
            state["q256"], state["coarse_np"], state["books_np"], m, sub
        )
        # persist: the Arrow encode pass feeds BOTH the codes write and
        # the vectors write (q and scale ride in the wide record) —
        # without the barrier it would run twice
        wide.persist()
        if eager_encode:
            wide.count()
        state["wide"] = wide

    def write():
        # repartition("cid") first: a partitionBy write from N cached
        # partitions creates N × |touched cids| files (round-12 probe:
        # 917 files / 50 s vs 64 files / 3.2 s); one file per list
        # bounds file count by n_clusters at any corpus size.
        # The codes and vectors writes land in disjoint dirs and read
        # only the persisted record (concurrent computation of a cached
        # block deduplicates via the BlockManager's block locks), so
        # they overlap from a driver thread pool (guide §2.6).
        from ..io import overlap_jobs

        try:
            overlap_jobs(
                lambda: _long_codes(state["wide"])
                .repartition("cid")
                .write.mode("overwrite")
                .partitionBy("cid")
                .parquet(path + "/codes"),
                lambda: state["wide"]
                .select("match_id", "q", "scale", "cid")
                .repartition("cid")
                .write.mode("overwrite")
                .partitionBy("cid")
                .parquet(path + "/vectors"),
            )
        finally:
            state["wide"].unpersist()
            state["q256"].unpersist()

    return [("train", train), ("encode", encode), ("write", write)], state


def ivfpq_refined_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 16,
    shortlist: int = 50,
    m: int = 16,
    dim: int = 64,
    eager: bool = True,
) -> DataFrame:
    """QUERY-MANY half of the trained-index lifecycle: top-k from an
    index persisted by ``ivfpq_refined_build_index`` — NO corpus scan,
    NO re-encode, NO re-train.  The probe stage runs against the tiny
    ``coarse`` table, the probed list ids become a STATIC partition
    filter on BOTH the ``codes`` scan (ADC stage) and the ``vectors``
    scan (refine stage), so every corpus-sized read is pruned to
    nprobe/n_clusters of the list directories (plan-asserted).  The
    serving tail is ``_serve_refined`` verbatim — the lifecycle split
    cannot change a score, and the oracle is the inline twin's SQL."""
    sub = dim // m
    coarse_df = spark.read.parquet(path + "/coarse")
    books_df = spark.read.parquet(path + "/books")
    qq = _quantize_queries(queries, id_col, vec_col)
    qq.persist()
    probes = _probe_refined(qq, coarse_df, nprobe).persist()
    probed = sorted(
        {int(r["cid"]) for r in probes.select("cid").distinct().collect()}
    )
    codes_cid = (
        spark.read.parquet(path + "/codes")
        .filter(F.col("cid").isin(probed))
        .withColumn("cid", F.col("cid").cast("long"))
    )
    vecs_df = (
        spark.read.parquet(path + "/vectors")
        .filter(F.col("cid").isin(probed))
        .select("match_id", "q", "scale")
    )
    out = _serve_refined(
        qq, coarse_df, books_df, codes_cid, vecs_df,
        k, nprobe, shortlist, m, sub, probes=probes,
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        probes.unpersist()
        qq.unpersist()
    return out


def load_refined_codebooks(spark, path: str, m: int):
    """Load the persisted trained codebooks of a
    ``ivfpq_refined_build_index`` index back into the numpy form the
    encode kernel ships in its closure — the handle every
    ingest-time lifecycle verb (upsert, re-encode, drift check) needs:
    codebooks train OFFLINE, once; upserts must encode against the
    SAME codebooks or the served scores drift from the index.
    Control-plane read: n_clusters·dim + m·ksub·sub int64s (~160 KB at
    the serving config) — never corpus-sized."""
    import numpy as np

    crows = sorted(
        spark.read.parquet(path + "/coarse").collect(),
        key=lambda r: int(r["cid"]),
    )
    coarse_np = np.array([list(r["cvec"]) for r in crows], dtype=np.int64)
    by_s: dict = {}
    for r in spark.read.parquet(path + "/books").collect():
        by_s.setdefault(int(r["s"]), []).append(r)
    books_np = [
        np.array(
            [list(r["ce"]) for r in sorted(by_s[s], key=lambda r: int(r["code"]))],
            dtype=np.int64,
        )
        for s in range(m)
    ]
    return coarse_np, books_np


def ivfpq_refined_encode_epoch(
    corpus: DataFrame,
    coarse_np,
    books_np,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode ONE ingest epoch for the trained-index upsert story:
    quantize on the shared ×256 grid (the round-10 one-grid rule) and
    run the certified encode kernel against the OFFLINE codebooks,
    emitting the wide epoch-store record directly — one row per vector
    ``(match_id, cid, codes array<long>[m], q, scale, alive=1)``,
    whose supersedence is a single ``max_by(payload, epoch)`` per id.
    r15 (guide §2.4): ``_encode_refined_wide`` produces the record in
    the SAME Arrow pass (codes ordered by subspace), replacing the
    long-form pivot (one exchange + two ObjectHashAggregates) and the
    join back to ``q256`` (a broadcast join plus a SECOND full
    corpus scan+quantize — the join's q256 subtree re-executed).  At
    100 TB an upsert epoch ships m+1 small ints + dim int8s per
    CHANGED vector only — the index files already on disk are never
    rewritten until compaction."""
    sub = dim // m
    q256 = quantize_embeddings(corpus, id_col, vec_col).select(
        F.col(id_col).alias("match_id"),
        F.transform("qvec", lambda x: x.cast("long") * 256).alias("q"),
        F.col("scale"),
    )
    return _encode_refined_wide(q256, coarse_np, books_np, m, sub).select(
        "match_id", "cid", "codes", "q", "scale",
        F.lit(1).cast("int").alias("alive"),
    )


def ivfpq_refined_tombstones(
    deletes: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """DELETE epoch records: one ``alive = 0`` tombstone per id, no
    vector, no codes — the append-only delete a production index uses
    (supersede-at-read drops the id; compaction reclaims the space)."""
    return deletes.select(
        F.col(id_col).alias("match_id"),
        F.lit(-1).cast("long").alias("cid"),
        F.lit(None).cast("array<long>").alias("codes"),
        F.lit(None).cast("array<long>").alias("q"),
        F.lit(None).cast("double").alias("scale"),
        F.lit(0).cast("int").alias("alive"),
    )


def ivfpq_refined_apply_epochs(spark, ingest_path: str) -> DataFrame:
    """SUPERSEDE-AT-READ over an epoch store written as
    ``{ingest_path}/epoch=i`` partitions: latest epoch wins per id
    (one ``max_by(struct, epoch)`` hash aggregate — map-side
    combinable, one shuffle on match_id), tombstoned ids drop out.
    Returns the LIVE wide records ``(match_id, cid, codes, q,
    scale)`` — the input to compaction and the logical truth the
    clean-rebuild oracle must match."""
    payload = F.struct("cid", "codes", "q", "scale", "alive")
    return (
        spark.read.parquet(ingest_path)
        .groupBy("match_id")
        .agg(F.max_by(payload, F.col("epoch")).alias("st"))
        .select("match_id", "st.*")
        .filter(F.col("alive") == 1)
        .drop("alive")
    )


def _resolve_salt_rows(salt_rows: int | None) -> int | None:
    """Resolve the hot-list threshold: explicit parameter wins, else
    the ``WDS_LIST_SALT_ROWS`` env knob, else off (None).

    The threshold counts rows per list at LIVE-VECTOR granularity (one
    row per live vector) for both stores: the compaction flows size one
    hot-cid set from the live wide records and salt the codes store's
    write with it too, although that store holds m rows per vector.  A
    value tuned against per-list codes-store row counts therefore marks
    lists hot at an m× higher effective threshold."""
    import os as _os

    if salt_rows is not None:
        return salt_rows
    env = _os.environ.get("WDS_LIST_SALT_ROWS")
    return int(env) if env else None


def _salted_cid_repartition(
    df: DataFrame,
    salt_rows: int | None = None,
    salt_k: int = 8,
    id_col: str = "match_id",
    hot: list | None = None,
) -> DataFrame:
    """Write-side shuffle partitioning for a cid-partitioned store
    write — the HOT-LIST mitigation BASELINE.md round-13 probe 1
    documents (VERDICT r13 #4).  Default (``salt_rows`` None and the
    ``WDS_LIST_SALT_ROWS`` env unset) is the round-12 fanout rule
    unchanged: ``repartition("cid")``, one write task → one file per
    list, file count bounded by n_clusters.  With a threshold, a count
    aggregate finds the lists whose row count exceeds it — NOTE this
    sizing pass re-executes ``df``'s plan unless the caller persisted
    it (or passes ``hot`` precomputed, see below), so knob-on callers
    should persist the input or share one hot-cid set across their
    store writes (ADVICE r14 #1) — and ONLY those lists' rows are
    hash-spread over ``salt_k`` shuffle keys (``pmod(xxhash64(id),
    k)``): the hot list's write splits into up to ``salt_k`` parallel
    tasks/files while every cold list keeps exactly one.  Row values
    are untouched and the serve paths glob the ``cid=N`` partition
    directory, so reads — and every oracle hash — are unchanged; only
    the straggler write task and the hot list's file count move.  The
    threshold stays an env/parameter knob (guide §9): a 100 TB
    deployment sets it to its straggler budget (rows per task at
    target file size); the local bench keeps it off so measurements
    stay comparable round-over-round.

    ``hot``: precomputed hot-cid list — when not None it is used
    verbatim (empty ⇒ plain repartition) and no sizing pass runs,
    letting one count job serve several store writes.  Either way the
    threshold is rows per list at live-vector granularity (see
    ``_resolve_salt_rows``): the compaction flows pass one ``hot`` set,
    sized from live vectors, to both the vectors and the codes write,
    and the standalone callers pass one-row-per-vector records."""
    salt_rows = _resolve_salt_rows(salt_rows)
    if not salt_rows and hot is None:
        return df.repartition("cid")
    if hot is None:
        hot = [
            r["cid"]
            for r in df.groupBy("cid")
            .count()
            .filter(F.col("count") > salt_rows)
            .collect()
        ]
    if not hot:
        return df.repartition("cid")
    salt = F.when(
        F.col("cid").isin(hot),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_k)),
    ).otherwise(F.lit(0))
    # explicit numPartitions: a bare repartition(cols) is
    # AQE-coalescible, and at compaction row sizes AQE merges the
    # salted shuffle back into one task — which silently re-creates
    # the straggler the salt exists to split.  A user-specified count
    # is exempt from coalescing, so the hot list's salt_k keys keep
    # distinct write tasks.
    try:
        n_part = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        n_part = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_part, F.col("cid"), salt)


def ivfpq_refined_compact_epochs(
    spark,
    index_path: str,
    live: DataFrame,
    serving_path: str,
    salt_rows: int | None = None,
    salt_k: int = 8,
) -> None:
    """COMPACTION of a superseded epoch view back into the pruned
    serving layout ``ivfpq_refined_query_index`` reads: codes exploded
    long-form and the int8 vector store BOTH partitioned by the coarse
    list id (shadowed + dead rows gone from disk, static partition
    pruning restored), codebooks copied verbatim from the trained
    index (compaction never retrains).  Moves m+1 small ints + dim
    int8s per LIVE vector, once — the amortized cost that keeps the
    epoch store from growing unboundedly.

    Both writes ``repartition("cid")`` first: a partitionBy write from
    N upstream partitions fans out to N × |touched cids| files — the
    round-12 probe measured 917 files / 50 s vs 64 files / 3.2 s at
    sf0.1.  Hash-distributing whole cids over the shuffle keeps one
    file per list per store and bounds file count by n_clusters at
    any corpus size."""
    # codebooks are IMMUTABLE sidecars (compaction never retrains):
    # carry them over as hardlinks — zero Spark jobs, byte-identical
    # files (the r13 delta-compaction precedent; copy2 fallback across
    # filesystems).  The previous shape spent two read+rewrite Spark
    # jobs whose only purpose was value identity.
    import os as _os
    import shutil as _shutil

    for tbl in ("coarse", "books"):
        nd = f"{serving_path}/{tbl}"
        _shutil.rmtree(nd, ignore_errors=True)
        _os.makedirs(nd, exist_ok=True)
        for f in _os.listdir(f"{index_path}/{tbl}"):
            if f.endswith(".parquet"):
                _link_or_copy(
                    _os.path.join(index_path, tbl, f),
                    _os.path.join(nd, f),
                )
    live = live.persist()
    try:
        # the two store writes are independent (disjoint output dirs,
        # both read the persisted live view — concurrent cached-block
        # computation dedups via block locks): overlap them so the
        # vectors write back-fills the codes write's tail (guide §2.6)
        from ..io import overlap_jobs

        # ADVICE r14 #1: when the salt knob is on, size the hot-cid
        # set ONCE from the persisted live view (one count job, which
        # also materializes the cache the writes reuse) and share it
        # across both store writes — the per-write sizing pass would
        # otherwise run two separate count jobs.  The threshold is
        # rows-per-list at LIVE-VECTOR granularity (codes rows are a
        # constant m× that, so the hot set is the same lists).
        hot: list | None = None
        if _resolve_salt_rows(salt_rows):
            hot = [
                r["cid"]
                for r in live.groupBy("cid")
                .count()
                .filter(F.col("count") > _resolve_salt_rows(salt_rows))
                .collect()
            ]
        codes_long = live.select(
            "match_id",
            F.posexplode("codes").alias("s", "code"),
            "cid",
        ).select(
            "match_id", F.col("s").cast("long").alias("s"), "code", "cid"
        )
        vectors = live.select("match_id", "q", "scale", "cid")
        overlap_jobs(
            lambda: _salted_cid_repartition(
                codes_long, salt_rows, salt_k, hot=hot
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(serving_path + "/codes"),
            lambda: _salted_cid_repartition(
                vectors, salt_rows, salt_k, hot=hot
            )
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(serving_path + "/vectors"),
        )
    finally:
        live.unpersist()


# ---------------------------------------------------------------------
# Generation manifest — the serve-during-retrain pointer (round 13)
# ---------------------------------------------------------------------

#: schema of one generation-manifest record: a tiny append-only control
#: row.  ``state_epoch`` is the manifest's own logical clock — the
#: LATEST state row per generation wins (max_by), so a flip is ONE
#: atomic-append of new state rows, never an in-place rewrite.
_GENERATION_MANIFEST_SCHEMA = (
    "generation long, path string, state_epoch long, active int"
)


def index_generation_append(
    spark, manifest_path: str, rows: list
) -> None:
    """Append generation-state rows ``(generation, path, state_epoch,
    active)`` to the index's generation manifest.  The manifest is the
    POINTER a serving fleet reads: retrain builds generation N+1 into
    its own directory while N keeps serving, then ONE append flips the
    pointer (N+1 active, N retired).  Control-plane: a handful of rows
    per lifecycle event, coalesced to one file — never corpus-sized."""
    from ..io import local_frame

    local_frame(
        spark,
        [
            (int(g), str(p), int(e), int(a))
            for (g, p, e, a) in rows
        ],
        _GENERATION_MANIFEST_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(manifest_path)


def index_generation_states(spark, manifest_path: str) -> DataFrame:
    """Resolve the CURRENT state of every generation: latest
    ``state_epoch`` row wins per generation (one ``max_by(struct,
    state_epoch)`` over a control-plane table).

    Appends are expected to use strictly increasing ``state_epoch``
    per generation; if two rows ever tie, the ordering key's second
    component makes the winner DETERMINISTIC (active=1 outranks
    active=0) instead of arbitrary (ADVICE r13 #4)."""
    return (
        spark.read.parquet(manifest_path)
        .groupBy("generation")
        .agg(
            F.max_by(
                F.struct("path", "active"),
                F.struct("state_epoch", "active"),
            ).alias("st")
        )
        .select("generation", F.col("st.path").alias("path"),
                F.col("st.active").alias("active"))
    )


def index_generation_active(spark, manifest_path: str):
    """THE pointer read: the highest active generation ``(generation,
    path)``.  Every query-path consumer resolves through this — after
    a flip, queries land on the new generation with no coordination
    beyond the manifest append."""
    rows = (
        index_generation_states(spark, manifest_path)
        .filter(F.col("active") == 1)
        .orderBy(F.col("generation").desc())
        .limit(1)
        .collect()
    )
    if not rows:
        raise ValueError(f"no active generation in {manifest_path}")
    return int(rows[0]["generation"]), str(rows[0]["path"])


def ivfpq_refined_compact_delta(
    spark,
    prev_serving: str,
    epochs_path: str,
    new_serving: str,
    salt_rows: int | None = None,
    salt_k: int = 8,
) -> list:
    """DELTA compaction: merge an epoch store into a PREVIOUSLY
    compacted serving layout rewriting ONLY the coarse lists the
    epochs touch — the untouched lists' files carry over as hardlinks
    (a metadata move; on an object store, a manifest pointer).  Full
    compaction moves every live vector once per cycle; at 100 TB with
    a sparse change stream that is the dominant recurring cost — delta
    bounds each cycle by |touched lists|, not index size.

    Touched = the NEW list of every epoch row (where the upsert
    lands) ∪ the PREVIOUS list of every epoch id (where it came from
    — an upsert can move a vector between lists, and a tombstone's
    list must shed it).  Supersedence specializes to an ANTI-JOIN:
    every epoch row outranks the epoch −1 baseline by construction,
    so a previous record survives iff its id appears in NO epoch, and
    only the epochs themselves need the ``max_by`` — the previous
    store is never regrouped, never aggregated, and its codes move
    long-form as-is.  Returns the sorted touched-cid list (probe/
    bench surface).

    Both stores stay cid-partitioned with one file per rewritten list
    (the round-12 fanout rule); partition pruning is unchanged."""
    import glob
    import os

    eps = spark.read.parquet(epochs_path)
    prev_vec = spark.read.parquet(prev_serving + "/vectors")
    ep_ids = eps.select("match_id").distinct().persist()
    touched = sorted(
        {
            int(r["cid"])
            for r in eps.select("cid").filter(F.col("cid") >= 0)
            .distinct().collect()
        }
        | {
            int(r["cid"])
            for r in prev_vec.join(F.broadcast(ep_ids), "match_id")
            .select("cid").distinct().collect()
        }
    )

    # winners among the epochs only (tiny): latest epoch per id, dead
    # rows out — the baseline never wins against any epoch
    payload = F.struct("cid", "codes", "q", "scale", "alive")
    winners = (
        eps.groupBy("match_id")
        .agg(F.max_by(payload, F.col("epoch")).alias("st"))
        .select("match_id", "st.*")
        .filter(F.col("alive") == 1)
        .drop("alive")
        .persist()
    )
    try:
        # previous records in the touched lists survive iff untouched
        # by any epoch — pruned scans + a broadcast anti-join, no
        # aggregation over the store
        prev_v_keep = prev_vec.filter(F.col("cid").isin(touched)).join(
            F.broadcast(ep_ids), "match_id", "left_anti"
        )
        prev_c_keep = (
            spark.read.parquet(prev_serving + "/codes")
            .filter(F.col("cid").isin(touched))
            .join(F.broadcast(ep_ids), "match_id", "left_anti")
        )
        new_v = prev_v_keep.select(
            "match_id", "q", "scale", F.col("cid").cast("long").alias("cid")
        ).unionByName(
            winners.select(
                "match_id", "q", "scale",
                F.col("cid").cast("long").alias("cid"),
            )
        )
        new_c = prev_c_keep.select(
            "match_id", F.col("s").cast("long").alias("s"), "code",
            F.col("cid").cast("long").alias("cid"),
        ).unionByName(
            winners.select(
                "match_id",
                F.posexplode("codes").alias("s", "code"),
                "cid",
            ).select(
                "match_id", F.col("s").cast("long").alias("s"), "code",
                F.col("cid").cast("long").alias("cid"),
            )
        )
        # ADVICE r13 #2: an EMPTY epoch store means touched == [] — the
        # pruned writes would then emit zero-partition parquet dirs
        # (unreadable: schema inference has nothing to read) even
        # though every list carries over.  Skip the writes; the
        # hardlink loop below (tset empty) carries EVERY list.
        if touched:
            # hot-list salt knob (salt_rows/salt_k params with the
            # env WDS_LIST_SALT_ROWS fallback, default off — ADVICE
            # r14 #3 API parity with compact_epochs): a hot touched
            # list's rewrite splits across salt_k tasks instead of
            # one.  ADVICE r14 #1: new_v/new_c are unpersisted
            # anti-join+union plans, so when the knob is on, persist
            # new_v and size the hot-cid set ONCE from it (live-vector
            # granularity, same semantics as compact_epochs; codes
            # rows are a constant m× that) instead of letting each
            # write's sizing pass recompute its input in full.
            hot: list | None = None
            if _resolve_salt_rows(salt_rows):
                new_v = new_v.persist()
                hot = [
                    r["cid"]
                    for r in new_v.groupBy("cid")
                    .count()
                    .filter(
                        F.col("count") > _resolve_salt_rows(salt_rows)
                    )
                    .collect()
                ]
            try:
                _salted_cid_repartition(
                    new_c, salt_rows, salt_k, hot=hot
                ).write.mode("overwrite").partitionBy("cid").parquet(
                    new_serving + "/codes"
                )
                _salted_cid_repartition(
                    new_v, salt_rows, salt_k, hot=hot
                ).write.mode("overwrite").partitionBy("cid").parquet(
                    new_serving + "/vectors"
                )
            finally:
                if hot is not None:
                    new_v.unpersist()
    finally:
        winners.unpersist()
        ep_ids.unpersist()

    # control plane: codebooks carry over as hardlinks too (immutable
    # files — compaction never retrains; zero Spark jobs spent).
    # _link_or_copy falls back to copy2 across filesystems (EXDEV —
    # ADVICE r13 #1).
    for tbl in ("coarse", "books"):
        nd = f"{new_serving}/{tbl}"
        os.makedirs(nd, exist_ok=True)
        for f in os.listdir(f"{prev_serving}/{tbl}"):
            if f.endswith(".parquet"):
                _link_or_copy(
                    os.path.join(prev_serving, tbl, f),
                    os.path.join(nd, f),
                )
    tset = set(touched)
    for store in ("codes", "vectors"):
        for d in glob.glob(f"{prev_serving}/{store}/cid=*"):
            cid = int(os.path.basename(d).split("=", 1)[1])
            if cid in tset:
                continue
            nd = f"{new_serving}/{store}/cid={cid}"
            os.makedirs(nd, exist_ok=True)
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    _link_or_copy(os.path.join(d, f), os.path.join(nd, f))
    return touched


def index_vacuum(paths: list) -> int:
    """VACUUM superseded index artifacts — compacted-away epoch
    stores, retired serving generations: delete each path tree and
    return how many existed.  Hardlink-safe BY CONSTRUCTION: delta
    compaction carries untouched lists into the new serving store as
    hardlinks, and unlinking one name of a multiply-linked file only
    drops its refcount — the new store's files survive vacuuming the
    old one untouched (pinned by test_vacuum_is_hardlink_safe).  At
    100 TB this is the retention loop that keeps the epoch store from
    growing unboundedly once compaction has folded it in."""
    import os
    import shutil

    n = 0
    for p in paths:
        if os.path.exists(p):
            shutil.rmtree(p)
            n += 1
    return n
