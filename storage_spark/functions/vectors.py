"""Vector store operators — distance expressions, top-k query, segment scan,
k-NN join, and an LSH-bucketed ANN path for scale.

Reference: the pgvector adapter (src/storage/protocols/vector/adapter/
pgvector/index.ts): cosine ``<=>`` / L2 ``<->`` distance selection
(:325-334, :760-785), metadata filter integration (:740-804), hash-segmented
parallel listing ``mod(abs(hashtext(key)), n) = i`` (:860-865), HNSW +
ef_search tuning (:458-475, :666-672).

Spark stance: exact distributed top-k is the default (better recall than
HNSW, embarrassingly parallel — Catalyst lowers orderBy+limit to
TakeOrderedAndProject, so each partition keeps only k candidates). The LSH
bucket join is the 100-TB path: candidates meet only within matching
hyperplane-sign buckets, turning the O(N·Q) scan into a bucketed equi-join.

Numeric determinism: distances fold the array strictly left-to-right in
double precision (``F.aggregate``), so the same input yields bit-identical
doubles regardless of partitioning — aggregation order never varies.
No Python UDFs; everything is codegen'd higher-order functions.
"""

from __future__ import annotations

import pandas as pd  # module-level: resolves pandas_udf type hints

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _lit_array(values) -> Column:
    """A double-array literal Column built as ONE parsed SQL expression
    instead of per-element ``F.lit`` calls. ``F.array(*[F.lit(x) …])``
    pays one py4j round trip per element — at dim 768 a single plane
    costs ~0.5 s of DRIVER time just to construct, and a fat-dim LSH
    query plan (planes × probes) measured 4-5 s of pure DataFrame
    BUILD before any job ran (r12). The expr form is one call (~360×
    faster measured) and bit-exact: ``repr(float)`` is the shortest
    round-trip decimal, which Java's Double.parseDouble maps back to
    the identical double. Non-finite values fall back to the per-element
    path (SQL literals can't spell NaN/Inf)."""
    import math

    vals = [float(v) for v in values]
    if all(math.isfinite(v) for v in vals):
        return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double precision (order-deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_distance(a: Column, b: Column) -> Column:
    """pgvector ``<=>`` (pgvector/index.ts:325-334)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def l2_distance(a: Column, b: Column) -> Column:
    """pgvector ``<->``: sqrt of left-folded squared-difference sum."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_distance_arrow(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Arrow-vectorized cosine distance for pair-heavy stages: Spark's
    higher-order ``aggregate`` is interpreted per element (~100x slower
    than native per pair at 64 dims), so candidate-pair stages burning
    millions of distance evaluations move the arithmetic into one
    pandas_udf batch. Bitwise-compatible with the expression path:
    ``np.add.accumulate`` folds strictly left-to-right in double, exactly
    like ``F.aggregate`` — verified against the HOF path in tests."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dist(va: pd.Series, vb: pd.Series, sa: pd.Series, sb: pd.Series) -> pd.Series:
        import numpy as np

        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        # left-fold sum (ufunc.accumulate is sequential) == F.aggregate
        dots = np.add.accumulate(A * B, axis=1)[:, -1]
        return pd.Series(1.0 - dots / (sa.to_numpy() * sb.to_numpy()))

    return _dist(a, b, na, nb)


def cosine_distance_full_arrow(a: Column, b: Column) -> Column:
    """Arrow twin of ``cosine_distance`` with the norms computed INLINE
    (the rerank-stage shape, where no precomputed norm columns exist).
    Bitwise-identical by the same argument as ``cosine_distance_arrow``:
    every fold is ``np.add.accumulate`` (strict left-to-right double
    accumulation, the order of the expression path's ``F.aggregate``),
    and *, /, −, sqrt are correctly-rounded IEEE ops in both engines —
    verified against the HOF path in tests."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dist(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        dots = np.add.accumulate(A * B, axis=1)[:, -1]
        na = np.sqrt(np.add.accumulate(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.add.accumulate(B * B, axis=1)[:, -1])
        return pd.Series(1.0 - dots / (na * nb))

    return _dist(a, b)


def l2_distance_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized L2 — same bitwise contract as cosine_distance_arrow
    (sequential left-fold of (x-y)^2, then sqrt)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dist(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        A = np.stack(va.to_numpy()).astype(np.float64)
        B = np.stack(vb.to_numpy()).astype(np.float64)
        d = A - B
        return pd.Series(np.sqrt(np.add.accumulate(d * d, axis=1)[:, -1]))

    return _dist(a, b)


def _metric_distance(
    metric: str, a: Column, b: Column, arrow: bool = False
) -> Column:
    if metric == "cosine":
        return cosine_distance_full_arrow(a, b) if arrow else cosine_distance(a, b)
    if metric in ("euclidean", "l2"):
        return l2_distance_arrow(a, b) if arrow else l2_distance(a, b)
    raise ValueError(f"unknown distance metric: {metric}")


#: dimension at or above which the BOUNDED rerank stage's distance math
#: auto-routes to the Arrow (vectorized numpy) path when the caller
#: leaves ``arrow=None``. The expression path interprets the
#: zip_with/aggregate fold PER ELEMENT; the Arrow twins are
#: bitwise-identical (strict left folds — tested), so routing never
#: changes results, only the engine executing the arithmetic. Applied
#: ONLY where candidate volume is bounded (refine_factor·k rows per
#: query — ``_exact_rerank``): r12 measured the dim-768 jl rerank at
#: 7.3 s expression vs 5.0 s Arrow, while the UNBOUNDED pre-top-k rank
#: stage at the same dim LOST with Arrow (7.6 → 8.8 s — vector bytes
#: across the Python boundary dominate) and dim-64 stages lose the
#: batch-transfer trade everywhere (NOTES_r4 §6, re-confirmed r12).
#: 256 splits the measured regimes.
ARROW_AUTO_DIM = 256


def _arrow_auto(arrow: bool | None, dim: int) -> bool:
    """Resolve an ``arrow=None`` (auto) flag by dimension — see
    ``ARROW_AUTO_DIM``. Explicit True/False always wins."""
    return (dim >= ARROW_AUTO_DIM) if arrow is None else bool(arrow)


def _pair_distance(
    metric: str, a: Column, b: Column, na: Column, nb: Column, arrow: bool
) -> Column:
    """Per-candidate-pair distance with norms precomputed per ROW (cosine's
    denominators never recompute per pair); ``arrow=True`` routes the
    arithmetic through the bitwise-identical vectorized path."""
    if metric == "cosine":
        if arrow:
            return cosine_distance_arrow(a, b, na, nb)
        return F.lit(1.0) - dot(a, b) / (na * nb)
    if metric in ("euclidean", "l2"):
        return l2_distance_arrow(a, b) if arrow else l2_distance(a, b)
    raise ValueError(f"unknown distance metric: {metric}")


def query_vectors(
    vectors: DataFrame,
    query_vec: list[float],
    top_k: int,
    metric: str = "cosine",
    vector_col: str = "embedding",
    key_col: str = "key",
    filter_ast: dict | None = None,
    metadata_col: str | None = None,
    non_filterable: set[str] | None = None,
    return_distance: bool = True,
) -> DataFrame:
    """QueryVectors (pgvector/index.ts:740-804): optional metadata filter →
    distance → ORDER BY distance LIMIT top_k (ties broken by key for a total
    order). Exact scan — the Spark analogue of the adapter's exact-scan
    fallback (:678-682), parallelized per partition."""
    df = vectors
    if filter_ast is not None:
        from storage_spark.functions.jsonmeta import compile_filter

        df = df.filter(
            compile_filter(filter_ast, metadata_col or "metadata", non_filterable)
        )
    q = _lit_array(query_vec)
    df = df.withColumn("distance", _metric_distance(metric, F.col(vector_col), q))
    df = df.orderBy(F.col("distance").asc(), F.col(key_col).asc()).limit(top_k)
    if not return_distance:
        df = df.drop("distance")
    return df


def list_vectors(
    vectors: DataFrame,
    segment_count: int = 1,
    segment_index: int = 0,
    key_col: str = "key",
    next_key: str | None = None,
    max_results: int | None = None,
    segment_expr: Column | None = None,
) -> DataFrame:
    """ListVectors with hash-segmented parallel scan + keyset pagination
    (pgvector/index.ts:860-865: ``mod(abs(hashtext(key)), n) = i``).

    ``segment_expr`` defaults to xxhash64 of the key — any deterministic
    int expression works; segments are disjoint and covering. In Spark the
    deeper point is that *partitions already are the segments*; this
    operator exists for protocol parity.
    """
    df = vectors
    if segment_count > 1:
        seg = segment_expr if segment_expr is not None else F.xxhash64(F.col(key_col))
        df = df.filter(F.pmod(F.abs(seg), F.lit(segment_count)) == segment_index)
    if next_key is not None:
        df = df.filter(F.col(key_col) > next_key)
    df = df.orderBy(key_col)
    if max_results is not None:
        df = df.limit(max_results)
    return df


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    arrow: bool = False,
) -> DataFrame:
    """Top-k neighbors for every query row — broadcast the (small) query
    side, window-rank per query. This is the brute-force baseline for
    similarity search / embedding near-dup; the LSH path below replaces the
    crossJoin with a bucketed equi-join at scale. Norms are precomputed per
    row (never per pair); ``arrow=True`` moves the per-pair arithmetic into
    the bitwise-identical vectorized path."""
    c = corpus.withColumn("_cn", norm(F.col(corpus_vec)))
    q = queries.withColumn("_qn", norm(F.col(query_vec)))
    joined = c.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col(query_key) != F.col(corpus_key))
    joined = joined.withColumn(
        "distance",
        _pair_distance(
            metric, F.col(corpus_vec), F.col(query_vec),
            F.col("_cn"), F.col("_qn"), arrow,
        ),
    )
    w = Window.partitionBy(query_key).orderBy(
        F.col("distance").asc(), F.col(corpus_key).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, corpus_key, "distance", "rank")
    )


# ----------------------------------------------------------------------
# LSH (random-hyperplane signatures) — the scale path for ANN
# ----------------------------------------------------------------------


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 pseudo-random hyperplanes (no RNG state needed —
    reproducible across engines and runs). Signs come from one md5 per
    (seed, plane, coordinate): the previous linear-congruence pattern
    made ADJACENT PLANES nearly identical (pairwise cosine 0.69-1.0,
    some exactly 1.0), which collapsed LSH signatures into two
    mega-buckets holding ~60% of a uniform corpus — candidate "pruning"
    that kept 64% of all pairs. Hash-derived signs are independent:
    measured pairwise plane cosine now ~N(0, 1/dim)."""
    import hashlib

    out = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()
            row.append(1.0 if h[0] & 1 else -1.0)
        out.append(row)
    return out


def jl_dim_for(n_docs: int, eps: float = 0.25, max_dim: int = 512) -> int:
    """Johnson-Lindenstrauss target dimension for ``n_docs`` points at
    relative distance distortion ``eps``: the standard bound
    ``k >= 4 ln n / (eps^2/2 - eps^3/3)`` (the form NumPy/sklearn's
    ``johnson_lindenstrauss_min_dim`` uses), capped at ``max_dim``
    (past which projecting buys nothing over the original). Same
    size-from-the-corpus discipline as ``sig_bits_for`` /
    ``semantic_cells_for`` — the JL guarantee depends on ln(n), so an
    out_dim tuned on a sample silently loses its distortion bound on
    the full corpus (though only logarithmically, unlike the square-law
    dedup cliffs). For top-k retrieval the bound is conservative: the
    rerank composition (candidates in projected space, exact rerank on
    originals) tolerates much smaller out_dim — see
    ``project_embeddings``'s measured recall notes."""
    import math

    if not 0 < eps < 1:
        raise ValueError(f"eps must be in (0, 1) (got {eps})")
    k = 4.0 * math.log(max(2, n_docs)) / (eps ** 2 / 2.0 - eps ** 3 / 3.0)
    return min(max_dim, max(1, math.ceil(k)))


def project_embeddings(
    df: DataFrame,
    out_dim: int,
    dim: int,
    vector_col: str = "embedding",
    out_col: str = "projected",
    seed: int = 42,
    arrow: bool = False,
) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (Achlioptas 2003): project
    each vector to ``out_dim`` coordinates via the deterministic ±1
    hyperplane matrix scaled by ``1/sqrt(out_dim)`` — pairwise L2
    distances are preserved within the JL distortion bound, so the
    projected space is a drop-in input for the ANN / embedding-dedup
    operators at ``dim/out_dim``-fold less distance math and storage.
    This is the 100 TB lever for fat embeddings: project 768 -> 64
    ONCE (map-only, fused into the scan), build the LSH/IVF index on
    the projection, exact-rerank survivors against the originals.

    Determinism contract: signs come from the md5 ``hyperplanes``
    generator and the scale is a Python-computed double literal, so the
    projection replays bit-for-bit in any engine (same left-folded dot
    as every distance here). A row whose vector length != ``dim`` fails
    LOUDLY via a lazily-fused assert (zip_with would otherwise null-pad
    and silently zero the tail). All other columns pass through.

    ``arrow=True`` is the throughput path for fat inputs: one
    Arrow-batched pandas UDF whose per-plane dot is
    ``np.add.accumulate`` over the products — the SAME strict
    left-to-right double accumulation as the expression fold (the
    ``pq_adc_scores_arrow`` pattern), so the two paths are
    BITWISE-identical (tested) and the SQL oracle replay holds for
    either. The expression path evaluates out_dim x dim interpreted
    fold steps per row (~3.5M element-ops/s/32 cores measured at dim
    768 — 59 s for 4k rows x 64 coords); the Arrow path runs the same
    arithmetic vectorized (~50x). At 10^9 x 768 the expression encode
    is days, the Arrow encode is hours: default stays expression (zero
    Python dependency in the plan), switch on ``arrow`` for fat
    corpora.
    """
    import math

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1 (got {out_dim})")
    planes = hyperplanes(dim, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    if arrow:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        planes_np = np.array(planes, dtype=np.float64)  # (out_dim, dim)

        @pandas_udf("array<double>")
        def _proj(v: pd.Series) -> pd.Series:
            out = []
            for vec_row in v:
                a = np.asarray(vec_row, dtype=np.float64)
                if a.shape[0] != dim:
                    raise ValueError(
                        f"project_embeddings: vector length != dim={dim}"
                    )
                prod = planes_np * a[None, :]  # (out_dim, dim) products
                # strict left fold per plane: 0.0 + p0 + p1 + ... ==
                # accumulate's last column (0 + x is exact in IEEE)
                acc = np.add.accumulate(prod, axis=1)[:, -1]
                out.append(acc * scale)
            return pd.Series(out)

        return df.withColumn(out_col, _proj(F.col(vector_col)))
    vec = F.col(vector_col)
    coords = [
        dot(vec, _lit_array(p)) * F.lit(scale)
        for p in planes
    ]
    proj = F.array(*coords)
    # fuse the dim guard INTO the projection expression (a dropped side
    # column would be pruned away and never evaluate)
    proj = F.when(
        F.assert_true(
            F.size(vec) == dim,
            F.lit(f"project_embeddings: vector length != dim={dim}"),
        ).isNull(),
        proj,
    )
    return df.withColumn(out_col, proj)


def mean_pool_embeddings(
    chunks: DataFrame,
    group_col: str = "doc_id",
    vector_col: str = "embedding",
    order_col: str = "chunk_id",
    dim: int = 64,
    weight_col: str | None = None,
    normalize: bool = False,
    fanout: int | None = None,
) -> DataFrame:
    """Pool many vectors per group into one mean vector — the chunk→doc
    (or doc→class-centroid) aggregation every embedding pipeline needs:
    embed bounded chunks, pool to a document vector for retrieval /
    dedup / clustering. ``weight_col`` makes it a weighted mean (e.g.
    token counts, so long chunks dominate proportionally);
    ``normalize=True`` L2-normalizes the result (the usual form before
    cosine retrieval).

    Determinism contract: floating-point addition is not associative,
    so a plain ``avg`` would vary with partition merge order. Pooling
    here is an ORDERED left fold — chunk vectors are collected sorted by
    ``(order_col, vector)`` per group and summed elementwise in that
    order — bit-for-bit reproducible across runs, cluster layouts, and
    engines. The cost of that contract: per-group vectors pass through
    one ``collect_list`` (fine for chunks-per-doc in the hundreds).

    ``fanout=N`` is the scale path for groups too large for one row
    buffer (a class centroid over millions of members): chunks bucket
    by a deterministic hash of ``order_col`` into N partials, each an
    ordered fold; the partial SUMS (vector sum + weight sum — means
    would not compose) then fold in bucket order and divide once. The
    weighted mean decomposes EXACTLY this way, so the result differs
    from the flat path only in float addition grouping (low-order
    bits); it is still bit-stable across runs and layouts for a fixed
    N. Per-bucket rows are ~group/N — pick N so that fits a buffer.

    Scale shape: ONE map-side-combinable shuffle on ``group_col``
    (two with ``fanout``, the first keyed (group, bucket)); no
    posexplode row blow-up, no per-dimension shuffle. Returns
    ``(group_col, n_chunks, pooled)``.
    """
    zero = _lit_array([0.0] * dim)
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    item = F.struct(
        F.col(order_col).alias("o"),
        F.col(vector_col).alias("v"),
        w.alias("w"),
    )
    # fused dim guard (zip_with would silently null-pad a short vector)
    item = F.when(
        F.assert_true(
            F.size(F.col(vector_col)) == dim,
            F.lit(f"mean_pool_embeddings: vector length != dim={dim}"),
        ).isNull(),
        item,
    )
    vsum_of = lambda items: F.aggregate(  # noqa: E731 — shared fold shape
        items,
        zero,
        lambda acc, it: F.zip_with(
            acc, it["v"], lambda a, x: a + x.cast("double") * it["w"]
        ),
    )
    if fanout is not None and fanout > 1:
        bucket = F.pmod(
            F.xxhash64(F.col(order_col).cast("string")), F.lit(int(fanout))
        )
        parts = (
            chunks.withColumn("_bkt", bucket)
            .groupBy(group_col, "_bkt")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.array_sort(F.collect_list(item)).alias("_items"),
            )
            .select(
                group_col,
                "_bkt",
                "_n",
                vsum_of(F.col("_items")).alias("_vs"),
                F.aggregate(
                    F.col("_items"), F.lit(0.0), lambda acc, it: acc + it["w"]
                ).alias("_ws"),
            )
        )
        pooled = parts.groupBy(group_col).agg(
            F.sum("_n").alias("n_chunks"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_bkt").alias("b"),
                        F.col("_vs").alias("vs"),
                        F.col("_ws").alias("ws"),
                    )
                )
            ).alias("_p"),
        )
        acc_sum = F.aggregate(
            F.col("_p"),
            zero,
            lambda acc, it: F.zip_with(acc, it["vs"], lambda a, x: a + x),
        )
        wsum = F.aggregate(
            F.col("_p"), F.lit(0.0), lambda acc, it: acc + it["ws"]
        )
    else:
        pooled = chunks.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.array_sort(F.collect_list(item)).alias("_items"),
        )
        acc_sum = vsum_of(F.col("_items"))
        wsum = F.aggregate(
            F.col("_items"), F.lit(0.0), lambda acc, it: acc + it["w"]
        )
    # fail-loud guards, same posture as the dim assert: a zero weight
    # sum (all-zero weight_col) or a zero-norm pooled vector under
    # normalize would otherwise emit silent NULL/NaN components that
    # poison downstream cosine math
    wsum = F.when(
        F.assert_true(
            wsum != 0.0,
            F.lit("mean_pool_embeddings: group weight sum is zero"),
        ).isNull(),
        wsum,
    )
    vec = F.zip_with(acc_sum, zero, lambda s, _: s / wsum)
    if normalize:
        nrm = norm(vec)
        nrm = F.when(
            F.assert_true(
                nrm != 0.0,
                F.lit("mean_pool_embeddings: normalize=True on a "
                      "zero-norm pooled vector"),
            ).isNull(),
            nrm,
        )
        vec = F.zip_with(vec, zero, lambda x, _: x / nrm)
    return pooled.select(group_col, "n_chunks", vec.alias("pooled"))


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-sign signature: one bit per hyperplane (dot-product sign),
    packed into a string bucket id."""
    bits = [
        F.when(dot(vec, _lit_array(p)) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in planes
    ]
    return F.concat(*bits)


def lsh_signature_arrow(vec: Column, planes: list[list[float]]) -> Column:
    """Arrow twin of ``lsh_signature`` — identical signature STRINGS:
    the per-plane dot is ``np.add.accumulate``'s strict left fold (the
    expression fold's order) and the bit is the same ``>= 0`` sign test
    on the identical double, so every bucket id matches bit-for-bit
    (pinned in tests). The point at fat dimensions is the PLAN, not the
    arithmetic: the expression form embeds n_planes × dim literal
    doubles in the tree, and r12 measured a dim-768 query plan spending
    4-5 s of driver time just being constructed and analyzed; this form
    carries the planes as a closure and the tree is one Python node."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.array(planes, dtype=np.float64)  # (n_planes, dim)

    @pandas_udf("string")
    def _sig(v: pd.Series) -> pd.Series:
        import numpy as np

        V = np.stack(v.to_numpy()).astype(np.float64)  # (n, dim)
        # one plane at a time (ADVICE r12): the vectorized-over-planes
        # form materialized TWO (batch, n_planes, dim) float64 arrays —
        # ~1.5 GB each at Arrow's 10k-row default batch, dim 768,
        # 24 planes, an executor OOM risk. Per plane only (batch, dim)
        # intermediates exist (~60 MB); the accumulate stays the same
        # strict left fold over dim, so every double (and every bucket
        # bit) is unchanged — pinned by the Arrow parity tests.
        cols = []
        for p in range(P.shape[0]):
            dots = np.add.accumulate(V * P[p][None, :], axis=1)[:, -1]
            cols.append(np.where(dots >= 0, "1", "0"))
        bits = np.stack(cols, axis=1)
        return pd.Series(["".join(row) for row in bits])

    return _sig(vec)


def _sig_fn(dim: int, arrow: bool | None = None):
    """Signature builder for this dimension: the Arrow twin at/above
    ``ARROW_AUTO_DIM`` (plan-size relief — see lsh_signature_arrow),
    the pure expression below it. Same strings either way.

    ``arrow`` overrides the dim-auto routing (ADVICE r12): ``False``
    forces the pure-JVM expression — the escape hatch for environments
    without pandas/pyarrow executor deps, at the cost of the fat-dim
    plan-size pathology the Arrow twin exists to avoid; ``True`` forces
    Arrow; ``None`` (default) keeps the dim rule."""
    return (
        lsh_signature_arrow if _arrow_auto(arrow, dim) else lsh_signature
    )


def _first_n_by_key(
    corpus: DataFrame, n: int, key_col: str, vector_col: str
) -> DataFrame:
    """The distributed corpus pass behind ``ivf_centroids``: lowers to
    TakeOrderedAndProject (each partition keeps a local top-n, the driver
    merges n rows) — never a global sort or single-partition Window."""
    return (
        corpus.select(F.col(key_col).alias("_k"), F.col(vector_col).alias("centroid"))
        .orderBy("_k")
        .limit(n)
    )


def ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    key_col: str = "key",
    vector_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the first ``n_cells`` vectors in key
    order act as centroids (k-means would refine them; determinism matters
    more here and the IVF *mechanics* are identical).

    Scale shape: the corpus pass is ``orderBy(key).limit(n_cells)`` —
    TakeOrderedAndProject, distributed — and only the resulting ``n_cells``
    rows are materialized driver-side to stamp cell ids 0..n-1. That
    materialization is the same n_cells-row footprint ``broadcast(centroids)``
    pays anyway in ivf_assign / ivf_search; the former implementation's
    no-partition Window pulled the WHOLE corpus through one task.
    """
    spark = corpus.sparkSession
    rows = _first_n_by_key(corpus, n_cells, key_col, vector_col).collect()
    rows.sort(key=lambda r: r["_k"])  # collect order is plan-dependent; pin it
    schema = corpus.select(F.col(vector_col).alias("centroid")).schema
    from pyspark.sql.types import IntegerType, StructField, StructType

    out_schema = StructType(
        [StructField("cell", IntegerType(), False), schema.fields[0]]
    )
    return spark.createDataFrame(
        [(i, r["centroid"]) for i, r in enumerate(rows)], out_schema
    )


def _training_sample(df: DataFrame, order: list[Column], n: int) -> DataFrame:
    """The first ``n`` rows of ``df`` in ``order``, spread over the
    session's cores and pinned, because every Lloyd round re-reads them.
    A sort + limit leaves the rows in ONE partition, which would run each
    round's assignment over the sample as a single task."""
    return (
        df.orderBy(*order)
        .limit(n)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )


def ivf_centroids_kmeans(
    corpus: DataFrame,
    n_cells: int,
    iterations: int = 2,
    metric: str = "cosine",
    key_col: str = "key",
    vector_col: str = "embedding",
    train_sample_per_cell: int | None = 256,
) -> DataFrame:
    """Lloyd-refined coarse quantizer: start from the deterministic
    first-n centroids, then ``iterations`` rounds of assign → elementwise
    mean. Each round is fully distributed — posexplode to (cell, pos, val),
    partial-aggregated avg per dimension, re-assembled per cell (two
    shuffles per round, rows×dim exploded once). Empty cells keep their
    previous centroid. Balanced cells cut IVF probe cost: with random
    first-n seeds a hot cell can hold most of the corpus; a few Lloyd
    rounds spread it (recall per probe rises accordingly).

    Training is SAMPLED by default (the standard quantizer practice —
    ~256 training vectors per centroid suffice): each Lloyd round costs
    ``|train| x n_cells`` distance evals, so refining on the full corpus
    is ``iterations x n / (256 x n_cells)`` times more work for
    centroids of the same quality — at 10^9 vectors and sqrt(n) cells
    that is a ~100x overpay. The sample is a deterministic hash-order
    take (one TakeOrdered pass, no full shuffle, stable across runs and
    engines); corpora at or below the sample size train on the whole
    set (``train_sample_per_cell=None`` forces full-corpus training with
    the corpus's own partitioning — same centroids up to float-sum
    order). The FINAL corpus-wide cell assignment —
    one ``n x n_cells`` pass, the irreducible IVF build cost — is the
    caller's ``ivf_assign``, unchanged."""
    cents = ivf_centroids(corpus, n_cells, key_col, vector_col)
    train = corpus
    if iterations > 0 and train_sample_per_cell is not None:
        train = _training_sample(
            corpus,
            [F.xxhash64(F.col(key_col))],
            n_cells * train_sample_per_cell,
        )
    for _ in range(iterations):
        assigned = ivf_assign(train, cents, metric, key_col, vector_col)
        dim_means = (
            assigned.select("cell", F.posexplode(F.col(vector_col)).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.avg("val").alias("m"))
        )
        refined = (
            dim_means.groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"].cast("float"),
                ).alias("centroid")
            )
        )
        # empty cells (no assigned members) keep their previous centroid
        cents = (
            cents.select("cell", F.col("centroid").alias("_prev"))
            .join(refined, "cell", "left")
            .select(
                "cell",
                F.coalesce(F.col("centroid"), F.col("_prev")).alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    metric: str = "cosine",
    key_col: str = "key",
    vector_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its nearest centroid cell: broadcast
    the centroid table, then a ``min_by`` aggregation per key — the
    argmin ties break to the LOWEST cell id (struct ordering on
    (distance, cell)), identical to the window-min plan this replaces.
    The aggregation form matters at scale (r7): the broadcast crossJoin
    materializes n x n_cells rows each carrying the full embedding, and
    a per-key WINDOW would shuffle ALL of them (n x n_cells x dim bytes);
    the aggregation partial-combines map-side — every key's n_cells
    candidate rows sit in ONE input partition, so the shuffle carries n
    rows, n_cells-fold less."""
    d = _metric_distance(metric, F.col(vector_col), F.col("centroid"))
    return (
        corpus.crossJoin(F.broadcast(centroids))
        .withColumn("_cd", d)
        .groupBy(key_col)
        .agg(
            F.first(vector_col).alias(vector_col),
            F.min_by("cell", F.struct(F.col("_cd"), F.col("cell"))).alias("cell"),
        )
        .select(key_col, vector_col, "cell")
    )


def ivf_search(
    queries: DataFrame,
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    k: int,
    n_probe: int = 2,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """IVF ANN: rank centroids per query, probe only the ``n_probe``
    nearest cells, exact-rank within the probed subset.

    The at-scale property: the corpus is pre-partitioned by ``cell``, so a
    query touches n_probe/n_cells of the data — an equi-join on ``cell``
    replaces the full scan, and recall is tuned by ``n_probe``. The probed
    candidate distances precompute norms per row; ``arrow=True`` uses the
    vectorized kernel for the candidate stage.
    """
    qd = _metric_distance(metric, F.col(query_vec), F.col("centroid"))
    wq = Window.partitionBy(query_key).orderBy(F.col("_qd").asc(), F.col("cell").asc())
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_qd", qd)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select(query_key, query_vec, "cell")
        .withColumn("_qn", norm(F.col(query_vec)))
    )
    joined = probes.join(
        assigned_corpus.withColumn("_cn", norm(F.col(corpus_vec))), "cell"
    )
    joined = joined.filter(F.col(query_key) != F.col(corpus_key)).withColumn(
        "distance",
        _pair_distance(
            metric, F.col(corpus_vec), F.col(query_vec),
            F.col("_cn"), F.col("_qn"), arrow,
        ),
    )
    w = Window.partitionBy(query_key).orderBy(
        F.col("distance").asc(), F.col(corpus_key).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, corpus_key, "distance", "rank")
    )


def _flip_bit(sig: Column, i: int, n_planes: int) -> Column:
    """Signature with bit ``i`` (0-based) flipped — string surgery on the
    packed bit signature, stays a Column expression."""
    flipped = F.when(
        F.substring(sig, i + 1, 1) == "1", F.lit("0")
    ).otherwise(F.lit("1"))
    parts = []
    if i > 0:
        parts.append(F.substring(sig, 1, i))
    parts.append(flipped)
    if i < n_planes - 1:
        parts.append(F.substring(sig, i + 2, n_planes - i - 1))
    return F.concat(*parts)


def probe_signatures(sig: Column, n_planes: int, radius: int = 1) -> Column:
    """Multi-probe signature set (Lv et al., Multi-Probe LSH, VLDB'07):
    the exact bucket plus every bucket within Hamming distance ``radius``
    (radius <= 2 supported — beyond that multi-table repetition is the
    better recall lever). A vector near a hyperplane lands on either side
    nondeterministically; probing the neighbor buckets recovers those
    split pairs without growing the corpus-side shuffle at all — only the
    (tiny) query side explodes."""
    if radius not in (1, 2):
        raise ValueError(f"radius must be 1 or 2, got {radius}")
    sigs = [sig]
    for i in range(n_planes):
        sigs.append(_flip_bit(sig, i, n_planes))
    if radius == 2:
        for i in range(n_planes):
            fi = _flip_bit(sig, i, n_planes)
            for j in range(i + 1, n_planes):
                sigs.append(_flip_bit(fi, j, n_planes))
    return F.array(*sigs)


def lsh_ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    n_planes: int | None = None,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool | None = None,
    probe_radius: int = 0,
    n_tables: int | None = None,
    n_corpus: int | None = None,
) -> DataFrame:
    """ANN via hyperplane-bucket equi-join: candidates share a bucket
    signature, then exact distance + window rank within candidates.

    At 100 TB this is the plan that survives: the corpus is scanned once,
    bucketed (shuffle on signature), and each bucket joins only its own
    queries — no all-pairs crossJoin. Three recall levers, composable:

    - ``n_planes``: fewer planes → bigger buckets → higher recall.
    - ``probe_radius`` (multi-probe, Lv et al. VLDB'07): each QUERY also
      probes every bucket within Hamming distance r of its signature —
      the query side explodes ×(1+n_planes[+C(n_planes,2)]), the
      corpus-side shuffle is unchanged. The cheap first lever.
    - ``n_tables`` (classic multi-table LSH): L independent plane sets;
      candidates match in ANY table. Recall 1-(1-p^b)^L; the corpus side
      explodes ×L, so spend probe_radius first, tables second.

    The corpus side (``lsh_corpus_postings``) is a pure function of the
    corpus + (dim, n_planes, n_tables) — persist it once with
    ``sources.annindex.build_ann_index`` and repeated queries skip the
    corpus encode entirely (the pgvector analogue: the index IS a table).

    Geometry is CORPUS-SIZED by default (r7, the same discipline as the
    persistent index): ``n_planes=None`` derives via
    ``annindex.lsh_planes_for(n_corpus)`` — ``n_corpus`` given, or one
    column-pruned EAGER count of the corpus (pass ``n_corpus`` when the
    corpus is an expensive plan); ``n_tables=None`` derives via
    ``lsh_tables_for``. The static 8-plane default this replaces put
    2^-8 of the corpus in every bucket — ~4M candidates per query at
    10^9 vectors. An explicit ``n_planes`` >2x under the rule warns
    when ``n_corpus`` is known.
    """
    from storage_spark.sources.annindex import lsh_planes_for, lsh_tables_for

    if n_planes is None:
        if n_corpus is None:
            n_corpus = corpus.count()
        n_planes = lsh_planes_for(n_corpus)
    elif n_corpus is not None and lsh_planes_for(n_corpus) > 2 * n_planes:
        import warnings

        warnings.warn(
            f"n_planes={n_planes} is >2x under the sizing rule for "
            f"n_corpus={n_corpus} (rule: {lsh_planes_for(n_corpus)}); "
            "buckets will blow up — see annindex.lsh_planes_for",
            stacklevel=2,
        )
    if n_tables is None:
        n_tables = lsh_tables_for(n_planes)
    c = lsh_corpus_postings(
        corpus, dim, n_planes, n_tables, corpus_vec=corpus_vec
    )
    return _lsh_rank_against_postings(
        c, queries, k, dim, n_planes,
        metric=metric, query_key=query_key, query_vec=query_vec,
        corpus_key=corpus_key, corpus_vec=corpus_vec,
        arrow=arrow, probe_radius=probe_radius, n_tables=n_tables,
    )


def lsh_corpus_postings(
    corpus: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 1,
    corpus_vec: str = "embedding",
    store_vectors: bool = True,
    corpus_key: str = "key",
    sig_arrow: bool | None = None,
) -> DataFrame:
    """The persistable LSH posting table: corpus rows exploded to one row
    per (table, row) with the table-prefixed bucket signature ``_sig``
    and the precomputed norm ``_cn``. ``lsh_ann_join`` builds this
    inline; ``sources.annindex`` stores it so queries probe without
    re-encoding. Carrying the vector in the posting row duplicates it
    ×n_tables — the standard multi-table space trade; it buys a
    join-free probe. ``store_vectors=False`` emits KEYS-ONLY posting
    rows (key, _cn, _sig — the norm is one float, kept so ranking never
    recomputes it): ×n_tables duplication of an 8-byte key instead of
    the embedding, for fat embeddings where posting-row storage
    dominates; ranking then pays one extra equi-join against the
    vectors table (``_lsh_rank_against_postings(corpus_vectors=...)``).

    ``sig_arrow`` (ADVICE r12): signature encoding at dim ≥
    ARROW_AUTO_DIM defaults to the Arrow twin (a pandas/pyarrow
    executor dependency); pass ``sig_arrow=False`` to force the
    pure-JVM expression path, ``True`` to force Arrow at any dim."""
    c = corpus.withColumn("_cn", norm(F.col(corpus_vec)))
    c_sigs = []
    for tbl in range(max(1, n_tables)):
        planes = hyperplanes(dim, n_planes, seed=42 + 1_000_003 * tbl)
        sig_c = _sig_fn(dim, sig_arrow)(F.col(corpus_vec), planes)
        c_sigs.append(F.concat(F.lit(f"{tbl}:"), sig_c))
    c = c.withColumn("_sig", F.explode(F.array(*c_sigs)))
    if not store_vectors:
        c = c.select(corpus_key, "_cn", "_sig")
    return c


def _lsh_rank_against_postings(
    c: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    n_planes: int,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool | None = None,
    probe_radius: int = 0,
    n_tables: int = 1,
    corpus_vectors: DataFrame | None = None,
    sig_arrow: bool | None = None,
) -> DataFrame:
    """Query side of the LSH join, against an (inline or persisted)
    posting table: expand each query to its probed buckets, equi-join on
    signature, dedupe candidate identities, exact-rank. A KEYS-ONLY
    posting table (``lsh_corpus_postings(store_vectors=False)``) needs
    ``corpus_vectors`` — a (corpus_key, corpus_vec) table joined once
    per DEDUPED candidate, after the bucket join shrank the row set.
    ``arrow=None`` resolves to False here: this is the PRE-top-k stage,
    whose candidate volume is unbounded, so routing it through Arrow
    ships every candidate's vectors across the Python boundary — r12
    measured the dim-768 keys-only rank stage at 8.8 s Arrow vs 7.6 s
    expression (transfer dominates), while the BOUNDED rerank stage
    (refine_factor·k rows, ``_exact_rerank``) wins 7.3 → 5.0 s with
    Arrow. Explicit ``arrow=True`` still opts in."""
    arrow = bool(arrow)
    probes = max(1, n_tables)
    q = queries.withColumn("_qn", norm(F.col(query_vec)))
    # materialize each table's BASE signature as its own column and build
    # the probe set by flipping bits of the column REFERENCE (r13, guide
    # §7.3): probe_signatures duplicates its input expression ~3-4× per
    # flipped bit, so inlining the signature expression (n_planes × dim
    # literal dots) exploded the tree to n_planes × dim × probes × ~4
    # nodes — fat_jl_index_query measured ~5 s of pure driver plan
    # build/analysis on a 64×6-literal signature duplicated 28×.
    # CollapseProject keeps the alias boundary (the reference is neither
    # cheap nor single-use), so the signature is computed once per row
    # and the flips are string surgery over it — plan AND runtime win.
    base_cols = []
    for tbl in range(probes):
        planes = hyperplanes(dim, n_planes, seed=42 + 1_000_003 * tbl)
        q = q.withColumn(
            f"_sb{tbl}", _sig_fn(dim, sig_arrow)(F.col(query_vec), planes)
        )
        base_cols.append(f"_sb{tbl}")
    q_sigs = []
    for tbl in range(probes):
        base = F.col(f"_sb{tbl}")
        if probe_radius > 0:
            q_sigs.append(
                F.transform(
                    probe_signatures(base, n_planes, probe_radius),
                    lambda s: F.concat(F.lit(f"{tbl}:"), s),
                )
            )
        else:
            q_sigs.append(F.array(F.concat(F.lit(f"{tbl}:"), base)))
    q = q.withColumn("_sig", F.explode(F.flatten(F.array(*q_sigs)))).drop(
        *base_cols
    )
    have_vec = corpus_vec in c.columns
    if not have_vec and corpus_vectors is None:
        raise ValueError(
            "keys-only posting table (no vector column) needs "
            "corpus_vectors to rank against"
        )
    joined = c.join(q, "_sig").filter(F.col(query_key) != F.col(corpus_key))
    if probes > 1 or probe_radius > 0:
        # a (query, corpus) pair can meet in several probed buckets /
        # tables — dedupe candidate IDENTITIES before the distance math;
        # single-probe single-table mode skips the extra shuffle
        joined = joined.select(
            query_key, query_vec, "_qn", corpus_key, "_cn",
            *([corpus_vec] if have_vec else []),
        ).dropDuplicates([query_key, corpus_key])
    if not have_vec:
        joined = joined.join(
            corpus_vectors.select(corpus_key, corpus_vec), corpus_key
        )
    joined = joined.withColumn(
        "distance",
        _pair_distance(
            metric, F.col(corpus_vec), F.col(query_vec),
            F.col("_cn"), F.col("_qn"), arrow,
        ),
    )
    w = Window.partitionBy(query_key).orderBy(
        F.col("distance").asc(), F.col(corpus_key).asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, corpus_key, "distance", "rank")
    )


# ----------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale path for ANN
# ----------------------------------------------------------------------
# At 100 TB the corpus embeddings themselves stop fitting anywhere useful
# (10^9 × 64 float32 = 256 GB; real deployments are 10^10 × 768+). PQ
# stores each vector as m small codes (m bytes at k<=256) — a 32x-256x
# compression — and answers top-k via asymmetric distance computation
# (ADC): per query, a tiny m×k lookup table of exact subspace distances,
# summed per corpus code word. Jégou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011 (public).


def pq_codebooks(
    dim: int, m: int, k: int = 16, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic data-independent codebooks: ``m`` subspaces × ``k``
    centroids × ``dim//m`` coordinates, every value an exact dyadic
    rational in [-1, 1) derived from one md5 per (seed, subspace,
    centroid, coordinate) — independent across all axes (the correlated-
    generator lesson from the hyperplane defect, NOTES_r4), reproducible
    in any engine, and float-exact as a SQL literal so the DuckDB oracle
    replays encoding bit-for-bit. ``pq_codebooks_kmeans`` refines these
    on data for recall; the mechanics are identical."""
    import hashlib

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    out = []
    for s in range(m):
        book = []
        for j in range(k):
            row = []
            for i in range(ds):
                h = hashlib.md5(f"pq:{seed}:{s}:{j}:{i}".encode()).digest()
                row.append(h[0] / 128.0 - 1.0)  # dyadic: exact in f32/f64
            book.append(row)
        out.append(book)
    return out


def _l2sq(a: Column, b: Column) -> Column:
    """Left-folded squared-L2 between two arrays (no sqrt — PQ ranks on
    squared distance; monotone, and skipping sqrt keeps the fold exact)."""
    return F.aggregate(
        F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _lit_vec(row: list[float]) -> Column:
    return _lit_array(row)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    key_col: str = "key",
    vector_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector to its per-subspace nearest-centroid codes:
    ``(key, codes array<int>)``. Ties break to the lowest code
    (array_position finds the FIRST minimum). Pure Column expressions —
    encoding is a map-only scan (the plan-sweep no-Python guarantee
    holds), and the output is the m-byte-per-vector table you keep."""
    return corpus.select(
        F.col(key_col).alias("key"),
        _pq_code_exprs(F.col(vector_col), codebooks).alias("codes"),
    )


def _pq_code_exprs(
    vec: Column, codebooks: list[list[list[float]]]
) -> Column:
    """The codes-array expression shared by pq_encode and the k-means
    refiner (which must compute codes INLINE on the training scan — a
    separate encode joined back by a generated id would not line up)."""
    m = len(codebooks)
    k = len(codebooks[0])
    ds = len(codebooks[0][0])
    codes = []
    for s in range(m):
        sub = F.slice(vec, s * ds + 1, ds)
        dists = F.array(*[_l2sq(sub, _lit_vec(codebooks[s][j])) for j in range(k)])
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k_top: int,
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    exclude_self: bool = True,
    arrow: bool = False,
) -> DataFrame:
    """Asymmetric-distance top-k: the query keeps full precision, the
    corpus is its codes. Per (query, code word) the score is the
    s-ordered left-folded sum of exact subspace distances — equivalent to
    looking up the classic m×k ADC table, expressed as Column math so the
    whole ranking is a broadcast join + one per-query window, no Python
    and NO decompression of the corpus. Returns
    ``(q_key, key, score, rank)``; score is squared-L2 in quantized
    space. ``arrow=True`` routes scoring through the bitwise-identical
    vectorized numpy gather (pq_adc_scores_arrow) — the right choice
    once pair volume makes interpreted HOFs the bottleneck."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    qv = F.col(query_vec)
    if arrow:
        score = pq_adc_scores_arrow(qv, F.col("codes"), codebooks)
    else:
        terms = []
        for s in range(m):
            book = F.array(*[_lit_vec(row) for row in codebooks[s]])
            centroid = F.element_at(
                book, F.element_at(F.col("codes"), s + 1) + 1
            )
            terms.append(_l2sq(F.slice(qv, s * ds + 1, ds), centroid))
        score = F.aggregate(
            F.array(*terms), F.lit(0.0), lambda acc, v: acc + v
        )
    joined = codes.crossJoin(F.broadcast(queries))
    if exclude_self:
        joined = joined.filter(F.col(query_key) != F.col("key"))
    joined = joined.withColumn("score", score)
    w = Window.partitionBy(query_key).orderBy(
        F.col("score").asc(), F.col("key").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select(query_key, "key", "score", "rank")
    )


def pq_codebooks_kmeans(
    corpus: DataFrame,
    m: int,
    k: int = 16,
    iterations: int = 2,
    seed: int = 42,
    vector_col: str = "embedding",
    dim: int | None = None,
    train_sample_per_code: int | None = 256,
) -> list[list[list[float]]]:
    """Lloyd-refine the deterministic codebooks on data — the recall
    lever (random codebooks waste centroids where the data isn't). One
    distributed job per round refines ALL subspaces at once: encode with
    the current books, explode to (s, code, pos, val), partial-aggregated
    means, collect the m×k refined centroids (bounded driver transfer —
    the same m×k rows any PQ implementation must hold). Empty code cells
    keep their previous centroid.

    Training is SAMPLED by default, same rule as ``ivf_centroids_kmeans``
    (~256 training vectors per centroid): every subspace has ``k`` code
    cells and all subspaces train on the same rows, so the sample is
    ``k x train_sample_per_code`` vectors taken in deterministic hash
    order (ties broken by the vector itself — a total order on the
    multiset, so the sample is stable across runs without needing a key
    column). Each Lloyd round costs ``|train| x m x k`` subspace distance
    evals plus an ``|train| x dim`` explode, so full-corpus refinement
    overpays by ``n / (k x 256)`` for codebooks of the same quality —
    ~250x at 10^6 vectors with k=16. Corpora at or below the sample size
    train on the whole set; ``train_sample_per_code=None`` restores
    full-corpus training with the corpus's own partitioning (same books
    up to float-sum order). The corpus-wide ``pq_encode`` pass — the
    irreducible cost — is the caller's, unchanged.

    Pass ``dim`` explicitly to skip the one-row probe job (same escape
    ``embedding_near_dup_pairs`` grew for its lazy dim guard); the probe
    stays as the convenience fallback."""
    if dim is None:
        first = corpus.select(F.col(vector_col).alias("e")).first()
        dim = len(first["e"])
    ds = dim // m
    books = pq_codebooks(dim, m, k, seed)
    train = corpus
    if iterations > 0 and train_sample_per_code is not None:
        train = _training_sample(
            corpus.select(F.col(vector_col)),
            [F.xxhash64(F.col(vector_col)), F.col(vector_col)],
            k * train_sample_per_code,
        )
    for _ in range(iterations):
        src = train.select(
            F.col(vector_col).alias("e"),
            _pq_code_exprs(F.col(vector_col), books).alias("codes"),
        )
        exploded = src.select(
            F.posexplode(F.col("e")).alias("pos", "val"),
            F.col("codes"),
        ).select(
            (F.col("pos") / ds).cast("int").alias("s"),
            F.pmod(F.col("pos"), F.lit(ds)).alias("sub_pos"),
            F.element_at(F.col("codes"), (F.col("pos") / ds).cast("int") + 1).alias("code"),
            "val",
        )
        means = (
            exploded.groupBy("s", "code", "sub_pos")
            .agg(F.avg("val").alias("mv"))
            .groupBy("s", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub_pos", "mv"))),
                    lambda t: t["mv"],
                ).alias("centroid")
            )
            .collect()
        )
        refined = [[list(row) for row in book] for book in books]
        for r in means:
            refined[r["s"]][r["code"]] = [float(v) for v in r["centroid"]]
        books = refined
    return books


def pq_search_rerank(
    queries: DataFrame,
    codes: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    k: int,
    refine_factor: int = 10,
    metric: str = "l2",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """Two-stage PQ search, the production shape (FAISS's IVFPQ+refine):
    ADC over the compressed codes selects ``refine_factor * k``
    candidates per query, then ONLY those rows fetch their full-precision
    vectors (semi-join on the candidate ids) for exact re-ranking. On a
    distance-concentrated corpus raw ADC ordering is noisy — the wide
    candidate set + exact rerank recovers the recall (measured: 0.03 raw
    → ~1.0 at refine 20x, NOTES_r4) while still scanning only codes.

    At 100 TB: stage 1 touches m bytes/vector (the only full-corpus
    pass), stage 2 touches refine_factor*k full vectors PER QUERY — the
    IO the compression bought stays bought."""
    cands = pq_adc_topk(
        queries, codes, codebooks, k * refine_factor,
        query_key=query_key, query_vec=query_vec, arrow=arrow,
    ).select(query_key, corpus_key)
    return _exact_rerank(
        cands, queries, corpus, k, metric,
        query_key, query_vec, corpus_key, corpus_vec,
    )


def _exact_rerank(
    cands: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str,
    query_key: str,
    query_vec: str,
    corpus_key: str,
    corpus_vec: str,
    arrow: bool = False,
) -> DataFrame:
    """The shared refine stage of every two-stage search (PQ / SQ /
    IVFPQ / IVFSQ): fetch ONLY the candidate rows' full-precision
    vectors (equi-join on the candidate ids), broadcast the query
    vectors back in, exact-rank to the final k. Returns
    ``(q_key, key, distance, rank)`` with full-precision distances.
    ``arrow=True`` routes the distance arithmetic through the
    bitwise-identical vectorized twins (fat-dim reranks — the caller
    resolves the flag from the FULL vector dimension)."""
    # The candidate table is NARROW (two id columns) but every row fans
    # out to two full-dimension vectors plus the distance eval after the
    # joins — AQE's byte-based coalescing sees ~40 B/row and collapses
    # the upstream rank shuffle to one partition, serializing the whole
    # rerank in a single task (measured 2.4-3.4 s of fat_jl_index_query's
    # 4.5 s wall). At fat dim (arrow=True, the per-row-expensive case)
    # spread the candidates with an EXPLICIT partition count
    # (user-specified counts are exempt from AQE coalescing), derived
    # from the cluster, hashed on both ids for an even spread; the final
    # top-k exchange only carries (q_key, key, distance) so the extra
    # narrow shuffle is noise. Thin-dim reranks keep the coalesced shape
    # (per-row math is cheap; the extra exchange measured as a net loss).
    if arrow:
        sc = cands.sparkSession.sparkContext
        cands = cands.repartition(
            max(sc.defaultParallelism, 1), F.col(query_key), F.col(corpus_key)
        )
    enriched = cands.join(
        corpus.select(
            F.col(corpus_key), F.col(corpus_vec).alias("_cv")
        ),
        corpus_key,
    ).join(
        F.broadcast(
            queries.select(F.col(query_key), F.col(query_vec).alias("_qv"))
        ),
        query_key,
    )
    dist = _metric_distance(metric, F.col("_cv"), F.col("_qv"), arrow=arrow)
    w = Window.partitionBy(query_key).orderBy(
        F.col("distance").asc(), F.col(corpus_key).asc()
    )
    return (
        enriched.withColumn("distance", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_key, corpus_key, "distance", "rank")
    )


def pq_adc_scores_arrow(
    qv: Column, codes: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Arrow-vectorized ADC scoring — the classic PQ fast path: one
    numpy gather of each row's selected centroids, squared-difference
    folds along the subspace axis, then along s. Bitwise-identical to
    the expression path (every fold is ``np.add.accumulate`` — strict
    left-to-right double accumulation, the same order as the per-term
    ``F.aggregate`` and the s-ordered outer fold); verified in tests.
    Use when the (query x corpus-codes) pair volume makes the
    interpreted higher-order functions the bottleneck."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    books = np.array(codebooks, dtype=np.float64)  # (m, k, ds)

    @pandas_udf("double")
    def _score(q: pd.Series, c: pd.Series) -> pd.Series:
        import numpy as np

        Q = np.stack(q.to_numpy()).astype(np.float64)
        C = np.stack(c.to_numpy()).astype(np.int64)
        n, (m, _k, ds) = Q.shape[0], books.shape
        qs = Q.reshape(n, m, ds)
        cents = books[np.arange(m)[None, :], C]  # (n, m, ds)
        d = qs - cents
        terms = np.add.accumulate(d * d, axis=2)[:, :, -1]
        return pd.Series(np.add.accumulate(terms, axis=1)[:, -1])

    return _score(qv, codes)


def ivf_residuals(
    assigned_corpus: DataFrame,
    centroids: DataFrame,
    key_col: str = "key",
    vector_col: str = "embedding",
) -> DataFrame:
    """Per-row residual against the assigned cell's centroid:
    ``(key, cell, residual)`` with ``residual = v - centroid[cell]`` as
    exact doubles. This is the encode-side half of FAISS's default
    ``by_residual`` IVFPQ: residuals concentrate near zero (the coarse
    quantizer has already absorbed the between-cell variance), so a PQ
    codebook of the same (m, k) budget spends its centroids on the fine
    structure instead of re-describing cell locations — higher ADC
    fidelity at identical code bytes. Train the codebooks ON the
    residual frame (``pq_codebooks_kmeans(res, m=8,
    vector_col="residual")``) and encode with
    ``pq_encode(res, books, vector_col="residual")``.

    Map-only: one broadcast join on ``cell`` + a ``zip_with``
    subtraction — no shuffle of the corpus."""
    return assigned_corpus.join(F.broadcast(centroids), "cell").select(
        F.col(key_col).alias("key"),
        "cell",
        F.zip_with(
            F.col(vector_col),
            F.col("centroid"),
            lambda x, c: x.cast("double") - c.cast("double"),
        ).alias("residual"),
    )


def ivfpq_search(
    queries: DataFrame,
    coded_corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[list[float]]],
    corpus: DataFrame,
    k: int,
    n_probe: int = 2,
    refine_factor: int = 10,
    metric: str = "l2",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool = False,
    by_residual: bool = False,
) -> DataFrame:
    """The full IVFPQ architecture (FAISS's default at billion scale):
    coarse quantizer prunes to ``n_probe`` cells, PQ codes score ONLY
    the probed cells' rows by asymmetric distance, and the top
    ``k * refine_factor`` candidates rerank exactly against their
    full-precision vectors.

    ``coded_corpus`` is ``(key, cell, codes)`` — ``ivf_assign`` ∘
    ``pq_encode``, the index you materialize cell-partitioned
    (sources/layout.py) so the probe join prunes partitions.

    100 TB cost model: the per-query work is (n_probe / n_cells) of the
    corpus in m-BYTE codes (both knobs multiplicative: 16 of 1024 cells
    x 32-of-256 bytes = 1/512 of the raw-scan bytes), plus
    refine_factor*k full vectors. Recall = product of the probe recall
    (did the true neighbor's cell get probed?) and the ADC candidate
    recall (did rerank see it?) — tune n_probe first, refine second
    (NOTES_r4 recall table).

    ``by_residual=True`` (FAISS's default posture) scores the query's
    RESIDUAL against each probed cell's centroid; ``coded_corpus`` must
    then hold codes computed on ``ivf_residuals`` output (same codebooks
    both sides). The approximated quantity is unchanged, since
    ``||q - v||^2 == ||(q - c) - (v - c)||^2`` for the shared cell
    centroid ``c``, but both operands now live near zero where the
    codebook's resolution is spent. L2 only (that identity is an L2
    fact; residual cosine is not a thing); the exact rerank stage is
    untouched either way."""
    if by_residual and metric != "l2":
        raise ValueError(
            f"by_residual requires metric='l2' (got {metric!r}): the "
            "residual identity ||q-v|| == ||(q-c)-(v-c)|| holds for L2 "
            "distance only"
        )
    m = len(codebooks)
    ds = len(codebooks[0][0])
    qd = _metric_distance(metric, F.col(query_vec), F.col("centroid"))
    wq = Window.partitionBy(query_key).orderBy(
        F.col("_qd").asc(), F.col("cell").asc()
    )
    probe_cols = [query_key, query_vec, "cell"]
    if by_residual:
        # residual PROJECTED ONCE per (query, probed cell) row — the
        # scoring loop below slices it m times, and an inline zip_with
        # there would recompute the dim-length subtraction per term
        # on every scored candidate (the hottest path of the search)
        probe_cols.append(
            F.zip_with(
                F.col(query_vec),
                F.col("centroid"),
                lambda x, c: x.cast("double") - c.cast("double"),
            ).alias("_qres")
        )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_qd", qd)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select(*probe_cols)
    )
    joined = probes.join(coded_corpus, "cell").filter(
        F.col(query_key) != F.col(corpus_key)
    )
    qv = F.col("_qres") if by_residual else F.col(query_vec)
    if arrow:
        score = pq_adc_scores_arrow(qv, F.col("codes"), codebooks)
    else:
        terms = []
        for s in range(m):
            book = F.array(*[_lit_vec(row) for row in codebooks[s]])
            cent = F.element_at(book, F.element_at(F.col("codes"), s + 1) + 1)
            terms.append(_l2sq(F.slice(qv, s * ds + 1, ds), cent))
        score = F.aggregate(F.array(*terms), F.lit(0.0), lambda a, v: a + v)
    wc = Window.partitionBy(query_key).orderBy(
        F.col("_score").asc(), F.col(corpus_key).asc()
    )
    cands = (
        joined.withColumn("_score", score)
        .withColumn("_crn", F.row_number().over(wc))
        .filter(F.col("_crn") <= k * refine_factor)
        .select(query_key, corpus_key)
    )
    return _exact_rerank(
        cands, queries, corpus, k, metric,
        query_key, query_vec, corpus_key, corpus_vec,
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
    scale: int = 1000,
) -> DataFrame:
    """Top-``k`` per-label embedding outliers by distance-to-centroid —
    the corpus-quality sweep that surfaces mislabeled / corrupted vectors.

    All arithmetic is INTEGER-exact so the ranking is engine-identical:
    components quantize to ``round(x * scale)`` longs, the per-label
    centroid is carried as (component sums, count) — never divided — and
    the score is ``Σ_d (q_d·cnt − sum_d)² = cnt² · ‖q − mean‖²·scale²``,
    a monotone transform of the true distance within each label. No
    float accumulation ⇒ no partition-order sensitivity and a
    bit-matching DuckDB oracle.

    Plan: one posexplode pass builds the (label, dim) centroid table
    (tiny — labels × dims rows), broadcast back; scores are then pure
    array math (zip_with + aggregate) on the UNEXPLODED rows — map-only —
    and the per-label top-k uses the WindowGroupLimit-pushed rank.
    Overflow bound: |q·cnt| must stay << 2³², i.e. scale · max|x| ·
    label_count < ~3e9 — at bigger labels drop ``scale``.
    """
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale).cast("long"),
    )
    qdf = df.select(F.col(id_col), F.col(label_col), q.alias("_q"))
    pos = qdf.select(
        id_col, label_col, F.posexplode("_q").alias("_pos", "_v")
    )
    cent = pos.groupBy(label_col, "_pos").agg(
        F.sum("_v").alias("_s"), F.count(F.lit(1)).alias("_cnt")
    )
    # Precondition: every vector in a label has the SAME dimension and no
    # null components (the embeddings-table contract). Ragged dims would
    # give per-dimension counts that differ from the label count — guard
    # with a runtime raise instead of silently mis-scoring the label.
    cent_arr = cent.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_s"))),
            lambda t: t["_s"],
        ).alias("_sums"),
        F.max("_cnt").alias("_cnt"),
        F.min("_cnt").alias("_cnt_min"),
    ).select(
        label_col,
        "_sums",
        F.when(
            F.col("_cnt") == F.col("_cnt_min"), F.col("_cnt")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("embedding_outliers: ragged vector dimensions "
                          "or null components in label "),
                    F.col(label_col).cast("string"),
                )
            ).cast("long")
        ).alias("_cnt"),
    )
    scored = qdf.join(F.broadcast(cent_arr), label_col).select(
        id_col,
        label_col,
        F.aggregate(
            F.zip_with(
                "_q",
                "_sums",
                lambda a, b: (a * F.col("_cnt") - b)
                * (a * F.col("_cnt") - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist2_scaled"),
    )
    w = Window.partitionBy(label_col).orderBy(
        F.col("dist2_scaled").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


# ----------------------------------------------------------------------
# Scalar quantization (SQ8) — the compressed-storage tier
# ----------------------------------------------------------------------


def sq_encode(
    corpus: DataFrame,
    bits: int = 8,
    key_col: str = "key",
    vector_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantize every vector to ``bits``-bit signed codes with a
    per-vector symmetric max-abs scale: ``code = round(x * qmax / scale)``
    where ``qmax = 2^(bits-1) - 1`` and ``scale = max(|x|)`` — the
    engine's analogue of the reference's compressed vector storage
    (pgvector ``halfvec(N)`` casts embeddings to half precision before
    indexing, pgvector/index.ts:760-785 / 0045-vector-buckets.sql); SQ8
    halves halfvec again: 1 byte/coordinate + one float scale per row.

    Output: ``(key, codes array<tinyint-range int>, scale double)``.
    Map-only column math — no shuffle, no training pass (the per-vector
    scale needs no corpus statistics, so encode composes with any
    upstream filter and the DuckDB oracle replays it row-locally).
    All-zero vectors keep ``scale = 0`` and decode to zeros. Rounding is
    half-away-from-zero in BOTH Spark and DuckDB — codes replay exactly.

    At 100 TB the win is scan bytes: a dim-768 float32 corpus is 3 TB of
    vector payload per billion rows; SQ8 reads 0.77 TB for the same
    ranking pass, and ``sq_search_rerank`` confines full-precision reads
    to refine_factor*k rows per query. Parquet stores the codes as
    INT32-physical with bit-packed encoding, so on-disk bytes land near
    1/byte-per-coordinate without a custom format."""
    if not 2 <= bits <= 8:
        raise ValueError(f"bits must be in [2, 8], got {bits}")
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vector_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    codes = F.transform(
        v,
        lambda x: F.when(F.col("scale") == 0.0, F.lit(0))
        .otherwise(F.round(x.cast("double") * F.lit(qmax) / F.col("scale")))
        .cast("int"),
    )
    return (
        corpus.withColumn("scale", scale)
        .withColumn("codes", codes)
        .select(F.col(key_col).alias("key"), "codes", "scale")
    )


def sq_decode_expr(codes: Column, scale: Column, bits: int = 8) -> Column:
    """Dequantize: ``code * scale / qmax`` per coordinate, double
    precision. The reconstruction error is at most ``scale / (2 * qmax)``
    per coordinate (half a quantization step)."""
    qmax = float(2 ** (bits - 1) - 1)
    return F.transform(
        codes, lambda c: c.cast("double") * scale / F.lit(qmax)
    )


def sq_topk(
    queries: DataFrame,
    sq_corpus: DataFrame,
    k: int,
    bits: int = 8,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    exclude_self: bool = True,
    arrow: bool = False,
) -> DataFrame:
    """Exact top-k over the DEQUANTIZED codes — the full-precision
    ranking plan (knn_join) applied to the compressed table. Distances
    are computed on reconstructions, so ordering can differ from
    full-precision ranking within the quantization error; wrap with
    ``sq_search_rerank`` when exact ordering matters."""
    dq = sq_corpus.withColumn(
        "_dq", sq_decode_expr(F.col("codes"), F.col("scale"), bits)
    )
    return knn_join(
        queries, dq, k, metric=metric,
        query_key=query_key, query_vec=query_vec,
        corpus_key=corpus_key, corpus_vec="_dq",
        exclude_self=exclude_self, arrow=arrow,
    )


def sq_search_rerank(
    queries: DataFrame,
    sq_corpus: DataFrame,
    corpus: DataFrame,
    k: int,
    refine_factor: int = 4,
    bits: int = 8,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """Two-stage SQ search, same shape as ``pq_search_rerank``: rank the
    dequantized codes for ``refine_factor * k`` candidates per query
    (the only full-corpus pass — 1 byte/coordinate), then fetch ONLY the
    candidates' full-precision vectors for exact re-ranking. SQ8
    reconstructions sit much closer to the true vectors than PQ codes
    (per-coordinate error <= scale/254 vs a shared m-subspace codebook),
    so the default refine_factor is 4, not 10."""
    cands = sq_topk(
        queries, sq_corpus, k * refine_factor, bits=bits, metric=metric,
        query_key=query_key, query_vec=query_vec, corpus_key=corpus_key,
        arrow=arrow,
    ).select(query_key, corpus_key)
    return _exact_rerank(
        cands, queries, corpus, k, metric,
        query_key, query_vec, corpus_key, corpus_vec,
    )


def ivfsq_search(
    queries: DataFrame,
    sq_assigned: DataFrame,
    centroids: DataFrame,
    corpus: DataFrame,
    k: int,
    n_probe: int = 2,
    refine_factor: int = 4,
    bits: int = 8,
    metric: str = "cosine",
    query_key: str = "q_key",
    query_vec: str = "q_vec",
    corpus_key: str = "key",
    corpus_vec: str = "embedding",
    arrow: bool = False,
) -> DataFrame:
    """IVF x SQ composite (FAISS's IndexIVFScalarQuantizer): the coarse
    quantizer prunes to ``n_probe`` cells, SQ reconstructions rank ONLY
    the probed cells' rows, and the top ``k * refine_factor`` candidates
    rerank exactly. ``sq_assigned`` is ``(key, cell, codes, scale)`` —
    ``ivf_assign`` composed with ``sq_encode``, materialized
    cell-partitioned so the probe join prunes partitions.

    vs IVFPQ: SQ codes are dim bytes/vector (not m), so the probed-cell
    scan is fatter — but reconstructions are per-coordinate exact to
    scale/254, so the candidate ordering is near-exact and
    refine_factor stays at 4 (PQ needs 10+ on concentrated corpora),
    and there is NO codebook training step. The right half of the
    quantization trade: IVFSQ when scan bytes are ~4x reducible and
    recall matters most; IVFPQ when you need the full 32x."""
    qd = _metric_distance(metric, F.col(query_vec), F.col("centroid"))
    wq = Window.partitionBy(query_key).orderBy(
        F.col("_qd").asc(), F.col("cell").asc()
    )
    probes = (
        queries.crossJoin(F.broadcast(centroids))
        .withColumn("_qd", qd)
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select(query_key, query_vec, "cell")
        .withColumn("_qn", norm(F.col(query_vec)))
    )
    joined = (
        probes.join(sq_assigned, "cell")
        .filter(F.col(query_key) != F.col(corpus_key))
        .withColumn(
            "_dq", sq_decode_expr(F.col("codes"), F.col("scale"), bits)
        )
        .withColumn("_cn", norm(F.col("_dq")))
        .withColumn(
            "_score",
            _pair_distance(
                metric, F.col("_dq"), F.col(query_vec),
                F.col("_cn"), F.col("_qn"), arrow,
            ),
        )
    )
    wc = Window.partitionBy(query_key).orderBy(
        F.col("_score").asc(), F.col(corpus_key).asc()
    )
    cands = (
        joined.withColumn("_crn", F.row_number().over(wc))
        .filter(F.col("_crn") <= k * refine_factor)
        .select(query_key, corpus_key)
    )
    return _exact_rerank(
        cands, queries, corpus, k, metric,
        query_key, query_vec, corpus_key, corpus_vec,
    )
