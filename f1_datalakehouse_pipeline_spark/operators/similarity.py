"""Similarity search over embedding columns (array<float>).

Every function a registry query uses here is a native Column expression or
a DataFrame plan: no Python UDF, and every floating-point step is a
fixed-order fold, so the DuckDB oracle reproduces those queries bit for
bit. pq_encode alone runs numpy over Arrow batches: it is the independent
reference that tests compare pq_encode_native against.

- cosine columns built from native higher-order functions (zip_with +
  aggregate): JVM-side, strictly sequential fold → bit-deterministic.
- brute_force_topk: the exact baseline — broadcast the (small) query set,
  score every (query, candidate) pair map-side, take per-query top-k with a
  row_number window. No shuffle except the final per-query top-k.
- lsh_bucketed_topk: random-hyperplane signs bucket the vectors; only
  same-bucket pairs are scored, so the bucket join replaces the cartesian
  scoring; recall is tunable via the number of planes.
- sq8_*: scalar 8-bit quantization (min/max per dimension, dequantized
  scoring).
- pq_* / ivfpq_residual_native: product quantization with a pinned
  codebook — map-only encode, ADC top-k, and residual-encoded IVFADC with
  coarse-list probing.

The fold is also the FASTEST native form, not just the cleanest (measured
r6, Spark 4.1, 2M rows × 64-dim): aggregate(zip_with(...)) 0.71 s vs a
dim-unrolled element_at chain 6.09 s, getItem 5.07 s; against a literal
array 0.52 s vs literal-unrolled 4.12 s. Spark's vectorized HOF evaluation
walks the UnsafeArrayData once; per-element getter expressions re-enter the
codegen call path per term. Do NOT "optimize" these into flat expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over array<double> (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def score_barrier(score: Column) -> Column:
    """Wrap a pair score so the optimizer cannot push a filter on it into a
    join condition (guide §4.4's non-determinism technique).

    A post-join filter like ``cosine >= t`` on an inequality/cross join is
    otherwise folded into the join CONDITION, where it is evaluated for
    every candidate COMBINATION — before cheap conjuncts like
    ``id_a < id_b`` prune anything — and with BroadcastNestedLoopJoin that
    predicate is not whole-stage-compiled (r12, measured: the all-pairs
    neardup query spent its whole wall there). The wrapper is
    ``shuffle(array(score))[0]``: a permutation of ONE element is the
    identity, so the VALUE is bit-identical, but ``shuffle`` is marked
    non-deterministic, which stops PushPredicateThroughJoin from moving
    the expensive score into the join while leaving the cheap key
    conjuncts behind. (A ``when(rand(seed) >= -1, score)`` guard does NOT
    survive: Spark 4's optimizer proves the comparison always-true from
    rand's value range and elides the CASE, un-marking the expression.)
    Deterministic under task retry — shuffle's seed is fixed at plan build
    and its per-row draw is a pure function of partition and position —
    and the single-element array is allocation-trivial next to any real
    pair score."""
    return F.shuffle(F.array(score)).getItem(0)


def _as_double(a: Column) -> Column:
    return a.cast("array<double>")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query. Output: (query_id, neighbor_id, cosine, rnk).

    The query set is broadcast (it is small by construction); candidate rows
    stream map-side, so the only shuffle is the per-query top-k window.

    Norms are precomputed per ROW before the join (r11): the pair score is
    ``dot/(norm_q * norm_c)`` with each norm evaluated once per input row
    instead of once per PAIR — identical IEEE expression tree (same
    sequential folds, same divide), ~3x fewer per-pair FLOPs.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
            norm(_as_double(F.col(vec_col))).alias("_nq"),
        )
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        norm(_as_double(F.col(vec_col))).alias("_nc"),
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("_nq") * F.col("_nc"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def hyperplane_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bucket id from fixed random hyperplanes (deterministic constants)."""
    code: Column = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        code = code + F.when(dot(vec, p) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return code


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: score only candidates in the query's sign bucket.
    Per-row norm precompute before the bucket join (r11) — see
    :func:`brute_force_topk`; bit-identical scores."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        norm(_as_double(F.col(vec_col))).alias("_nq"),
    ).withColumn("bucket", hyperplane_bucket(F.col("qv"), planes))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        norm(_as_double(F.col(vec_col))).alias("_nc"),
    ).withColumn("bucket", hyperplane_bucket(F.col("cv"), planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("_nq") * F.col("_nc"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


# ---------------------------------------------------------------------------
# Quantized vector search: SQ8 (scalar) and PQ (product quantization)
# ---------------------------------------------------------------------------
#
# The 100 TB embedding problem is a MEMORY problem before it is a compute
# problem: 64-dim float32 vectors are 256 B/row, so a 1e11-vector corpus is
# ~25 TB of raw vectors — too big to keep hot. Quantization is the standard
# answer (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# IEEE TPAMI 2011):
#   - SQ8: per-dimension uniform 8-bit codes → 4× smaller, trivially
#     SQL-expressible, distance on dequantized values.
#   - PQ:  m subspaces × 8-bit codeword each → 64-dim float32 collapses to
#     m bytes (m=8 → 32× smaller); queries stay full-precision and score
#     candidates via ADC (asymmetric distance computation) — a per-query
#     lookup table of m×n_codes partial distances, so a candidate costs m
#     table adds instead of a dim-length dot product.
# Both quantizers here are native expressions whose arithmetic is a
# strictly sequential fold, bit-reproducible in the DuckDB oracle. The PQ
# codebook is pinned to the first n_codes rows (pq_codebook_pinned), so the
# oracle derives the identical codebook from the table itself.


def sq8_minmax(
    embeddings: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus in ONE scan: 2·dim
    map-combinable aggregates, no posexplode shuffle of N·dim rows. The
    collect is bounded at 2·dim doubles (the quantizer params a 100 TB run
    broadcasts anyway). For dim ≳ 1k switch to posexplode+groupBy(pos) —
    the expression count, not the data, becomes the limit."""
    if dim is None:
        dim = int(embeddings.select(F.size(vec_col)).first()[0])
    v = _as_double(F.col(vec_col))
    aggs = [F.min(F.element_at(v, i + 1)).alias(f"mn{i}") for i in range(dim)]
    aggs += [F.max(F.element_at(v, i + 1)).alias(f"mx{i}") for i in range(dim)]
    row = embeddings.agg(*aggs).first()
    return (
        [float(row[f"mn{i}"]) for i in range(dim)],
        [float(row[f"mx{i}"]) for i in range(dim)],
    )


def sq8_dequantize(vec: Column, mins: list[float], maxs: list[float]) -> Column:
    """Quantize to the 8-bit grid and immediately dequantize (double array).

    code  = round((x - mn) / (mx - mn) * 255), clamped to [0, 255]
    deq   = mn + code / 255 * (mx - mn)
    Constant dimensions (mx == mn) dequantize to mn exactly. The whole
    expression is a zip_with chain (vectorized HOF evaluation — see module
    header: do NOT unroll into element_at chains), and every FP step has a
    fixed order, so the DuckDB oracle reproduces it bit-for-bit. A stored
    index would persist the uint8 codes (4× smaller than float32) and keep
    (mins, maxs) as broadcast metadata; scoring dequantizes on the fly."""
    mn_arr = F.array(*[F.lit(float(v)) for v in mins])
    mx_arr = F.array(*[F.lit(float(v)) for v in maxs])
    paired = F.zip_with(
        _as_double(vec), mn_arr, lambda x, m: F.struct(x.alias("x"), m.alias("m"))
    )
    def deq(s: Column, mx: Column) -> Column:
        x, mn = s["x"], s["m"]
        rng = mx - mn
        code = F.least(
            F.greatest(F.round((x - mn) / rng * F.lit(255.0), 0), F.lit(0.0)),
            F.lit(255.0),
        )
        return F.when(mx == mn, mn).otherwise(mn + code / F.lit(255.0) * rng)
    return F.zip_with(paired, mx_arr, deq)


def sq8_quantized_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    mins: list[float],
    maxs: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """brute_force_topk over the SQ8-dequantized corpus AND queries — the
    memory-quantized twin of the exact scorer. Same join/window shape:
    broadcast query side, map-side scoring, one per-query top-k window."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        sq8_dequantize(F.col(vec_col), mins, maxs).alias("qv"),
        norm(sq8_dequantize(F.col(vec_col), mins, maxs)).alias("_nq"),
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        sq8_dequantize(F.col(vec_col), mins, maxs).alias("cv"),
        norm(sq8_dequantize(F.col(vec_col), mins, maxs)).alias("_nc"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("_nq") * F.col("_nc"))).alias("cosine_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_q").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (deterministic, oracle-matching)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin(dists: Column) -> Column:
    """0-based index of the smallest element; ties pick the lowest index
    (array_position finds the first exact min). Every nearest-codeword and
    nearest-centroid assignment here goes through this one rule."""
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_codebook_pinned(
    embeddings: DataFrame,
    n_codes: int = 16,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic PQ codebook: codeword c of subspace s is the s-th
    subvector of the c-th embedding (id < n_codes) — a bounded collect,
    chosen so the DuckDB oracle can derive the identical codebook from the
    table itself. Returns
    codebooks[s][c] = list[dsub floats]."""
    rows = (
        embeddings.filter(F.col(id_col) < n_codes)
        .orderBy(id_col)
        .select(_as_double(F.col(vec_col)).alias("v"))
        .collect()
    )
    dim = len(rows[0]["v"])
    _check_pq_dims(dim, m)
    dsub = dim // m
    return [
        [[float(x) for x in r["v"][s * dsub : (s + 1) * dsub]] for r in rows]
        for s in range(m)
    ]


def _check_pq_dims(dim: int, m: int) -> None:
    """PQ requires dim % m == 0: a silent floor would drop the trailing
    dim % m dimensions from every code and every ADC distance (two vectors
    differing only there would become indistinguishable). FAISS raises on
    d % M != 0 for the same reason."""
    if dim % m != 0:
        raise ValueError(
            f"PQ subspaces must tile the vector exactly: dim={dim} % m={m} "
            f"= {dim % m} trailing dimensions would be silently dropped"
        )


def pq_encode_native(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encode in native expressions: per subspace, the argmin-L2
    codeword (ties → lowest code id, :func:`_argmin`).
    Output (id, codes array<int>) — the m-byte row a 100 TB index persists.
    One scan, zero shuffles, zero Python; the codebook rides along as a
    one-row broadcast relation (m·n_codes·dsub doubles)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # r11 fold (VERDICT r9 item 6 / r10 item 3): the codebook rides as DATA
    # in a 1-row broadcast relation instead of m*n_codes*dsub literals folded
    # into the expression tree — identical fixed-order arithmetic, a fraction
    # of the whole-stage-codegen constant (A/B on branch af38189: the
    # sim_pq_adc_topk median roughly halves).
    consts = F.broadcast(
        embeddings.sparkSession.createDataFrame(
            [(codebooks,)], "cb array<array<array<double>>>"
        )
    )
    v = _as_double(F.col(vec_col))
    codes = []
    for s in range(m):
        sub = F.slice(v, s * dsub + 1, dsub)
        dists = F.transform(F.col("cb")[s], lambda cw: _l2sq(sub, cw))
        codes.append(_argmin(dists))
    return embeddings.crossJoin(consts).select(
        F.col(id_col).alias("neighbor_id"), F.array(*codes).alias("codes")
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized PQ encode, kept as the independent reference that
    tests/test_pq.py compares :func:`pq_encode_native` against: one
    (batch × n_codes) argmin matmul per subspace per Arrow batch. Output
    (id, codes array<smallint>). Ties pick the lowest code id (numpy
    argmin). Caveat vs pq_encode_native: distances here use the expanded
    form (−2x·c + ‖c‖², one BLAS call) whose rounding differs from the exact
    fold, so a pair of codewords EXACTLY equidistant from x in true L2 can
    break the other way — code parity with the native tier is exact on
    real-valued data (asserted on the test corpus) but not guaranteed on
    constructed ties; the native tier is the oracle-matching one."""
    import numpy as np
    import pandas as pd

    cent = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(cent)
    dsub = cent[0].shape[1]
    out_schema = "neighbor_id long, codes array<smallint>"

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            xmat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if xmat.shape[1] != m * dsub:
                raise ValueError(
                    f"vector dim {xmat.shape[1]} != m*dsub = {m}*{dsub} "
                    "of the codebook — trailing dimensions would be dropped"
                )
            codes = np.empty((len(pdf), m), dtype=np.int16)
            for s in range(m):
                xs = xmat[:, s * dsub : (s + 1) * dsub]
                # ||x-c||^2 = ||x||^2 - 2x·c + ||c||^2; ||x||^2 constant per row
                d = -2.0 * (xs @ cent[s].T) + (cent[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(encode, schema=out_schema)


def pq_adc_topk_native(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """ADC top-k over PQ codes, native-expression tier: the full-precision
    query meets each candidate only through its m code ids — distance is a
    left-fold sum over subspaces of L2²(query_sub, codeword[code_s]), every
    add in fixed order (oracle-reproducible). Candidates stream map-side
    against the broadcast query set; the only shuffle is the top-k window."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # Codebook as broadcast DATA, not expression-tree literals — see
    # pq_encode_native above for the rationale/measurement.
    consts = F.broadcast(
        encoded.sparkSession.createDataFrame(
            [(codebooks,)], "cb array<array<array<double>>>"
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    per_sub = []
    for s in range(m):
        qsub = F.slice(F.col("qv"), s * dsub + 1, dsub)
        cw = F.element_at(F.col("cb")[s], F.col("codes")[s] + 1)
        per_sub.append(_l2sq(qsub, cw))
    adc = F.aggregate(F.array(*per_sub), F.lit(0.0), lambda acc, x: acc + x)
    scored = (
        encoded.crossJoin(consts)
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def ivfpq_residual_native(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Canonical residual-encoded IVFADC (Jégou et al. TPAMI 2011 §III) as
    pure native expressions, every FP step a fixed-order fold so a SQL
    oracle reproduces the hash exactly:

    - build: list_id = argmin fixed-order L2²(x, centroid_l) (ties → lowest
      list id, :func:`_argmin`; nearest-centroid in the SAME
      metric ADC scores in — the property residual encoding's recall win
      rests on), codes[s] = argmin-L2 codeword of the RESIDUAL subvector
      (x − centroid[list])[s] — one map-only scan, zero Python, zero
      shuffles;
    - serve: each query ranks lists by the same L2² (one posexplode + one
      tiny window — no driver-side argsort), keeps n_probe, and scores the
      probed candidates through Σ_s L2²((q − centroid[list])_sub_s,
      codeword[code_s]) — the per-(query, probed-list) LUT fold. The only
      data shuffle is the final per-query top-k window."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # r11 fold (VERDICT r9 item 6 / r10 addendum): centroids AND codebooks
    # ride as DATA in a 1-row broadcast relation instead of
    # (n_lists·dim + m·n_codes·dsub) literals folded into the expression
    # tree — identical fixed-order arithmetic (transform preserves element
    # order; _l2sq is the same fixed fold), a fraction of the
    # whole-stage-codegen constant. Same shape as the pq_encode_native /
    # pq_adc_topk_native fold above.
    spark = embeddings.sparkSession
    consts = F.broadcast(
        spark.createDataFrame(
            [(centroids, codebooks)],
            "cent array<array<double>>, cb array<array<array<double>>>",
        )
    )
    cent_arr = F.col("cent")

    def assign_and_residual(v: Column) -> tuple[Column, Column]:
        dists = F.transform(cent_arr, lambda c: _l2sq(v, c))
        list_id = _argmin(dists)
        res = F.zip_with(v, F.element_at(cent_arr, list_id + 1), lambda x, c: x - c)
        return list_id, res

    # ---- build: (neighbor_id, list_id, codes) --------------------------
    v = _as_double(F.col(vec_col))
    list_id, res = assign_and_residual(v)
    enc = embeddings.crossJoin(consts).select(
        F.col(id_col).alias("neighbor_id"),
        list_id.alias("list_id"),
        res.alias("res"),
        "cb",
    )
    codes = []
    for s in range(m):
        sub = F.slice(F.col("res"), s * dsub + 1, dsub)
        dists = F.transform(F.col("cb")[s], lambda cw: _l2sq(sub, cw))
        codes.append(_argmin(dists))
    index = enc.select("neighbor_id", "list_id", F.array(*codes).alias("codes"))

    # ---- probes: top-n_probe lists per query, fully declarative --------
    qv = _as_double(F.col(vec_col))
    qdists = F.transform(cent_arr, lambda c: _l2sq(qv, c))
    q = queries.crossJoin(consts).select(
        F.col(id_col).alias("query_id"), qv.alias("qv"), qdists.alias("dists")
    )
    exploded = q.select(
        "query_id", "qv", F.posexplode("dists").alias("list_id", "dist")
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("list_id").asc()
    )
    probes = (
        exploded.withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= n_probe)
        .select("query_id", F.col("list_id").cast("int").alias("list_id"), "qv")
    )

    # ---- ADC over probed candidates ------------------------------------
    qres = F.zip_with(
        F.col("qv"), F.element_at(cent_arr, F.col("list_id") + 1), lambda x, c: x - c
    )
    cand = index.crossJoin(consts).join(F.broadcast(probes), "list_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).withColumn("qres", qres)
    per_sub = []
    for s in range(m):
        qsub = F.slice(F.col("qres"), s * dsub + 1, dsub)
        cw = F.element_at(F.col("cb")[s], F.col("codes")[s] + 1)
        per_sub.append(_l2sq(qsub, cw))
    adc = F.aggregate(F.array(*per_sub), F.lit(0.0), lambda acc, x: acc + x)
    scored = cand.select("query_id", "neighbor_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )
