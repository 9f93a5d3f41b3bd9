"""Vector operators: LSH recall vs exact brute force; segment covering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from storage_spark.functions.vectors import knn_join, list_vectors, lsh_ann_join
from storage_spark.tables import load_all


def _vectors(spark, sf_dir):
    t = load_all(spark, sf_dir)
    return t["embeddings"].select(
        F.col("vec_id").cast("string").alias("key"), "embedding", "label"
    )


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    v = _vectors(spark, sf_dir).cache()
    queries = v.filter(F.col("key").cast("bigint") < 30).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    exact = knn_join(queries, v, k=5).select("q_key", "key").collect()
    approx = lsh_ann_join(queries, v, k=5, dim=64, n_planes=4).select(
        "q_key", "key"
    ).collect()
    exact_set = {(r.q_key, r.key) for r in exact}
    approx_set = {(r.q_key, r.key) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # Single-probe single-table over 16 honest buckets: recall is modest
    # BY DESIGN (~0.13 on this near-uniform corpus; the production levers
    # are probe_radius/n_tables, tested below). Floor guards the
    # plumbing — chance alone is ~5/500 = 0.01. NOTE: before the round-4
    # hyperplane fix, correlated planes collapsed signatures into two
    # mega-buckets and inflated this to 0.38 while keeping 64% of all
    # pairs as "candidates".
    assert recall > 0.05, f"LSH recall suspiciously low: {recall:.2f}"


def test_lsh_ann_join_default_geometry_derives(spark, sf_dir):
    """r7: the ad-hoc join's geometry is corpus-sized by default, same
    discipline as the persistent index — omitted n_planes/n_tables
    derive from the corpus count (or the n_corpus hint), and the derived
    run equals an explicit run at the same operating point."""
    from storage_spark.sources.annindex import lsh_planes_for, lsh_tables_for

    v = _vectors(spark, sf_dir).cache()
    queries = v.filter(F.col("key").cast("bigint") < 10).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    n = v.count()
    p, t = lsh_planes_for(n), lsh_tables_for(lsh_planes_for(n))
    want = sorted(
        (r.q_key, r.key, r.rank)
        for r in lsh_ann_join(
            queries, v, k=3, dim=64, n_planes=p, n_tables=t
        ).collect()
    )
    got = sorted(
        (r.q_key, r.key, r.rank)
        for r in lsh_ann_join(queries, v, k=3, dim=64).collect()
    )
    assert got == want
    # n_corpus hint skips the count and pins the same derivation
    hinted = sorted(
        (r.q_key, r.key, r.rank)
        for r in lsh_ann_join(queries, v, k=3, dim=64, n_corpus=n).collect()
    )
    assert hinted == want
    import pytest

    with pytest.warns(UserWarning, match="sizing rule"):
        lsh_ann_join(
            queries, v, k=3, dim=64, n_planes=4, n_corpus=10**6
        )


def test_multiprobe_and_multitable_strictly_widen_candidates(spark, sf_dir):
    """Each recall lever must dominate the baseline: the probe-radius-1
    candidate set contains the exact-bucket set, and 4 tables contain
    1 table — so recall is monotone in both knobs (set containment, not
    luck)."""
    v = _vectors(spark, sf_dir).cache()
    queries = v.filter(F.col("key").cast("bigint") < 30).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    exact_set = {
        (r.q_key, r.key)
        for r in knn_join(queries, v, k=5).select("q_key", "key").collect()
    }

    def rec(**kw):
        got = {
            (r.q_key, r.key)
            for r in lsh_ann_join(queries, v, k=5, dim=64, n_planes=4, **kw)
            .select("q_key", "key")
            .collect()
        }
        return len(got & exact_set) / len(exact_set)

    base = rec()
    probed = rec(probe_radius=1)
    tabled = rec(probe_radius=1, n_tables=4)
    assert probed >= base
    assert tabled >= probed
    assert tabled > 0.75, f"multi-probe+table recall too low: {tabled:.2f}"


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    from storage_spark.functions.vectors import ivf_assign, ivf_centroids, ivf_search

    v = _vectors(spark, sf_dir).cache()
    cents = ivf_centroids(v, n_cells=8).cache()
    assigned = ivf_assign(v, cents)
    queries = v.filter(F.col("key").cast("bigint") < 30).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    exact = knn_join(queries, v, k=5).select("q_key", "key").collect()
    approx = ivf_search(queries, assigned, cents, k=5, n_probe=3).select(
        "q_key", "key"
    ).collect()
    exact_set = {(r.q_key, r.key) for r in exact}
    approx_set = {(r.q_key, r.key) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall > 0.3, f"IVF recall suspiciously low: {recall:.2f}"
    # every corpus vector lands in exactly one cell
    assert assigned.count() == v.count()


def test_arrow_distance_bitwise_matches_expression(spark, sf_dir):
    """cosine_distance_arrow's np.add.accumulate left-fold must reproduce
    F.aggregate's doubles BIT FOR BIT — same pairs, same repr of every
    distance — so the Arrow fast path can swap in anywhere without
    perturbing oracle parity."""
    from storage_spark.operators.dedup import embedding_near_dup_pairs

    v = _vectors(spark, sf_dir).select("key", "embedding")
    expr_rows = sorted(
        (r.key_a, r.key_b, repr(r.distance))
        for r in embedding_near_dup_pairs(v, max_distance=0.8).collect()
    )
    arrow_rows = sorted(
        (r.key_a, r.key_b, repr(r.distance))
        for r in embedding_near_dup_pairs(v, max_distance=0.8, arrow=True).collect()
    )
    assert expr_rows and expr_rows == arrow_rows


def test_ivf_kmeans_refinement(spark, sf_dir):
    """Lloyd rounds keep the cell contract (n_cells rows, every vector
    assigned) and balance cells at least as well as raw first-n seeds."""
    from storage_spark.functions.vectors import (
        ivf_assign,
        ivf_centroids,
        ivf_centroids_kmeans,
        ivf_search,
    )

    v = _vectors(spark, sf_dir).cache()
    raw = ivf_centroids(v, n_cells=8)
    refined = ivf_centroids_kmeans(v, n_cells=8, iterations=2)
    assert refined.count() == 8
    assert len(refined.first()["centroid"]) == 64

    def max_cell(c):
        a = ivf_assign(v, c)
        return a.groupBy("cell").count().agg(F.max("count")).first()[0], a

    raw_max, _ = max_cell(raw)
    ref_max, assigned = max_cell(refined)
    assert ref_max <= raw_max  # refinement never worsens the hottest cell
    assert assigned.count() == v.count()
    # search still works end-to-end over refined cells with decent recall
    queries = v.filter(F.col("key").cast("bigint") < 30).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_key, r.key) for r in knn_join(queries, v, k=5).select("q_key", "key").collect()}
    approx = {
        (r.q_key, r.key)
        for r in ivf_search(queries, assigned, refined, k=5, n_probe=3)
        .select("q_key", "key")
        .collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.3, f"refined-IVF recall suspiciously low: {recall:.2f}"


def test_kmeans_training_sample_spreads_over_cores(spark, sf_dir):
    """The Lloyd training sample (a sort + limit, which lands in one
    partition) is spread over the session's cores, so each round's
    assignment runs as several tasks; its rows are the same hash-order
    take."""
    from storage_spark.functions.vectors import _training_sample

    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("a one-core session has nothing to spread over")
    v = _vectors(spark, sf_dir)
    order = [F.xxhash64(F.col("key"))]
    sample = _training_sample(v, order, 64)
    sizes = sample.rdd.glom().map(len).collect()
    assert len(sizes) == cores
    assert sum(1 for n in sizes if n) > 1
    want = {r.key for r in v.orderBy(*order).limit(64).collect()}
    assert {r.key for r in sample.collect()} == want


def test_segments_disjoint_and_covering(spark, sf_dir):
    v = _vectors(spark, sf_dir)
    total = v.count()
    seen = 0
    for i in range(4):
        seen += list_vectors(v, segment_count=4, segment_index=i).count()
    assert seen == total


# --------------------------------------------------------------------------
# product quantization
# --------------------------------------------------------------------------


def test_pq_zero_error_when_codebook_contains_subvectors(spark):
    """When every subvector IS a codebook centroid, quantization error is
    zero and ADC equals the exact squared L2 distance."""
    from storage_spark.functions.vectors import pq_adc_topk, pq_encode

    # dim 4, m 2, ds 2; codebook entries cover all used subvectors
    books = [
        [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
        [[0.0, 0.0], [0.5, 0.5], [1.0, 1.0]],
    ]
    corpus = spark.createDataFrame(
        [
            ("a", [0.0, 0.0, 0.5, 0.5]),
            ("b", [1.0, 0.0, 1.0, 1.0]),
            ("c", [0.0, 1.0, 0.0, 0.0]),
        ],
        "key string, embedding array<float>",
    )
    codes = pq_encode(corpus, books)
    got = {r["key"]: list(r["codes"]) for r in codes.collect()}
    assert got == {"a": [0, 1], "b": [1, 2], "c": [2, 0]}

    queries = spark.createDataFrame(
        [("q", [0.0, 0.0, 0.5, 0.5])], "q_key string, q_vec array<float>"
    )
    out = {
        r["key"]: r["score"]
        for r in pq_adc_topk(queries, codes, books, 3, exclude_self=False).collect()
    }
    # exact squared L2 from q to each corpus vector
    assert abs(out["a"] - 0.0) < 1e-12
    assert abs(out["b"] - (1.0 + 0.25 + 0.25)) < 1e-12
    assert abs(out["c"] - (1.0 + 0.25 + 0.25)) < 1e-12


def test_pq_codes_bounded_and_deterministic(spark, sf_dir):
    from storage_spark.functions.vectors import pq_codebooks, pq_encode

    v = _vectors(spark, sf_dir).limit(100)
    books = pq_codebooks(64, 8, 16)
    codes = pq_encode(v, books)
    rows = codes.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).collect()
    assert all(r["m"] == 8 and 0 <= r["lo"] and r["hi"] <= 15 for r in rows)
    # same input, same codes (no RNG state)
    again = {r["key"]: list(r["codes"]) for r in pq_encode(v, books).collect()}
    first = {r["key"]: list(r["codes"]) for r in codes.collect()}
    assert again == first


def _pq_mean_sq_error(v, books):
    from storage_spark.functions.vectors import _lit_vec, _pq_code_exprs

    m, ds = len(books), len(books[0][0])
    vec = F.col("embedding")
    codes = _pq_code_exprs(vec, books)
    terms = []
    for s in range(m):
        book = F.array(*[_lit_vec(row) for row in books[s]])
        cent = F.element_at(book, F.element_at(codes, s + 1) + 1)
        sub = F.slice(vec, s * ds + 1, ds)
        terms.append(
            F.aggregate(
                F.zip_with(
                    sub, cent,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        )
    err = sum(terms[1:], terms[0])
    return v.select(F.avg(err).alias("e")).collect()[0]["e"]


def test_pq_kmeans_refinement_reduces_quantization_error(spark, sf_dir):
    from storage_spark.functions.vectors import pq_codebooks, pq_codebooks_kmeans

    v = _vectors(spark, sf_dir).limit(400).cache()
    random_books = pq_codebooks(64, 8, 16)
    refined = pq_codebooks_kmeans(v, m=8, k=16, iterations=2)
    e0, e1 = _pq_mean_sq_error(v, random_books), _pq_mean_sq_error(v, refined)
    assert e1 < e0 * 0.7, (e0, e1)  # Lloyd rounds must pay for themselves


def test_pq_kmeans_sampled_training(spark, sf_dir):
    """r7: the default training path SAMPLES (k x train_sample_per_code
    vectors in deterministic hash order). A genuine sub-sample (128 of
    400 rows) must still pay for the Lloyd rounds on the FULL corpus's
    quantization error, and two sampled runs must produce bit-identical
    codebooks (the hash order totally orders the vector multiset)."""
    from storage_spark.functions.vectors import pq_codebooks, pq_codebooks_kmeans

    v = _vectors(spark, sf_dir).limit(400).cache()
    kw = dict(m=8, k=16, iterations=2, dim=64, train_sample_per_code=8)
    sampled = pq_codebooks_kmeans(v, **kw)
    again = pq_codebooks_kmeans(v, **kw)
    assert sampled == again
    e0 = _pq_mean_sq_error(v, pq_codebooks(64, 8, 16))
    e1 = _pq_mean_sq_error(v, sampled)
    assert e1 < e0 * 0.7, (e0, e1)
    # None restores full-corpus training — distinct code path, still sane
    full = pq_codebooks_kmeans(
        v, m=8, k=16, iterations=1, dim=64, train_sample_per_code=None
    )
    assert _pq_mean_sq_error(v, full) < e0


def test_pq_adc_arrow_bitwise_matches_expression(spark, sf_dir):
    from storage_spark.functions.vectors import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    v = _vectors(spark, sf_dir)
    corpus = v.limit(200)
    books = pq_codebooks(64, 8, 16)
    codes = pq_encode(corpus, books).localCheckpoint(eager=True)
    queries = v.limit(5).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    expr = {
        (r["q_key"], r["key"]): r["score"]
        for r in pq_adc_topk(queries, codes, books, 20).collect()
    }
    arrow = {
        (r["q_key"], r["key"]): r["score"]
        for r in pq_adc_topk(queries, codes, books, 20, arrow=True).collect()
    }
    assert expr == arrow  # exact equality: same left-fold order bit-for-bit


def test_ivfpq_full_probe_wide_refine_equals_exact(spark, sf_dir):
    """With every cell probed and a refine window covering the corpus,
    IVFPQ degenerates to exact search — the composition is lossless when
    both knobs are opened."""
    from storage_spark.functions.vectors import (
        ivf_assign,
        ivf_centroids,
        ivfpq_search,
        pq_codebooks,
        pq_encode,
    )

    v = _vectors(spark, sf_dir)
    corpus = v.limit(120).cache()
    queries = corpus.limit(5).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    cents = ivf_centroids(corpus, 4)
    assigned = ivf_assign(corpus, cents, metric="l2")
    books = pq_codebooks(64, 8, 16)
    coded = pq_encode(corpus, books).join(assigned.select("key", "cell"), "key")
    got = ivfpq_search(
        queries, coded, cents, books, corpus,
        k=5, n_probe=4, refine_factor=1000, metric="l2",
    )
    exact = knn_join(queries, corpus, k=5, metric="l2")
    g = {(r["q_key"], r["rank"]): r["key"] for r in got.collect()}
    e = {(r["q_key"], r["rank"]): r["key"] for r in exact.collect()}
    assert g == e


def _off_origin_clusters(spark, n: int = 200, dim: int = 16):
    """Clusters FAR from the origin with small intra-cluster spread —
    the corpus shape where raw-vector PQ against the [-1, 1) codebooks
    is hopeless and residual encoding shines (residuals live in the
    codebook's range; raw vectors don't)."""
    import random

    rng = random.Random(7)
    centers = [
        [rng.uniform(-10, 10) for _ in range(dim)] for _ in range(4)
    ]
    rows = []
    for i in range(n):
        c = centers[i % 4]
        rows.append(
            (f"{i:03d}", [c[j] + rng.uniform(-0.5, 0.5) for j in range(dim)])
        )
    return spark.createDataFrame(rows, "key string, embedding array<float>")


def _residual_setup(spark):
    from storage_spark.functions.vectors import (
        ivf_assign,
        ivf_centroids,
        ivf_residuals,
        pq_codebooks,
        pq_encode,
    )

    v = _off_origin_clusters(spark)
    cents = ivf_centroids(v, 4)
    assigned = ivf_assign(v, cents, metric="l2")
    books = pq_codebooks(dim=16, m=4, k=16)
    res = ivf_residuals(assigned, cents)
    coded_res = pq_encode(res, books, vector_col="residual").join(
        assigned.select("key", "cell"), "key"
    )
    coded_raw = pq_encode(v, books).join(assigned.select("key", "cell"), "key")
    queries = v.filter(F.col("key").cast("int") < 10).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    return v, cents, books, coded_res, coded_raw, queries


def test_ivfpq_residual_full_probe_wide_refine_equals_exact(spark):
    """The residual form keeps the lossless-degeneration property: every
    cell probed + corpus-wide refine == exact knn (the rerank stage sees
    the full candidate set regardless of ADC ordering)."""
    from storage_spark.functions.vectors import ivfpq_search

    v, cents, books, coded_res, _, queries = _residual_setup(spark)
    got = ivfpq_search(
        queries, coded_res, cents, books, v,
        k=5, n_probe=4, refine_factor=1000, metric="l2", by_residual=True,
    )
    exact = knn_join(queries, v, k=5, metric="l2")
    g = {(r["q_key"], r["rank"]): r["key"] for r in got.collect()}
    e = {(r["q_key"], r["rank"]): r["key"] for r in exact.collect()}
    assert g == e


def test_ivfpq_residual_beats_raw_off_origin(spark):
    """The point of by_residual: on off-origin clusters at a TIGHT
    refine window, residual codes rank candidates far better than raw
    codes against the same [-1, 1) codebooks (measured in this corpus:
    0.62 vs 0.20 recall@5)."""
    from storage_spark.functions.vectors import ivfpq_search

    v, cents, books, coded_res, coded_raw, queries = _residual_setup(spark)
    gt = {
        (r["q_key"], r["key"])
        for r in knn_join(queries, v, k=5, metric="l2").collect()
    }

    def recall(coded, by_residual):
        out = ivfpq_search(
            queries, coded, cents, books, v,
            k=5, n_probe=2, refine_factor=2, metric="l2",
            by_residual=by_residual,
        )
        hits = {(r["q_key"], r["key"]) for r in out.collect()}
        return len(hits & gt) / len(gt)

    r_res = recall(coded_res, True)
    r_raw = recall(coded_raw, False)
    assert r_res > r_raw + 0.2, (r_res, r_raw)
    assert r_res >= 0.5


def test_ivfpq_residual_requires_l2(spark):
    from storage_spark.functions.vectors import ivfpq_search

    v, cents, books, coded_res, _, queries = _residual_setup(spark)
    with pytest.raises(ValueError, match="by_residual requires"):
        ivfpq_search(
            queries, coded_res, cents, books, v,
            k=5, metric="cosine", by_residual=True,
        )


def test_ivf_residuals_exact_subtraction(spark):
    """residual == v - centroid[cell] elementwise in exact doubles."""
    from storage_spark.functions.vectors import (
        ivf_assign,
        ivf_centroids,
        ivf_residuals,
    )

    v = _off_origin_clusters(spark, n=40)
    cents = ivf_centroids(v, 4)
    assigned = ivf_assign(v, cents, metric="l2")
    res = {r["key"]: (r["cell"], r["residual"])
           for r in ivf_residuals(assigned, cents).collect()}
    cent_by_cell = {r["cell"]: r["centroid"] for r in cents.collect()}
    vecs = {r["key"]: r["embedding"] for r in v.collect()}
    assert len(res) == 40
    for k, (cell, rvec) in res.items():
        want = [float(x) - float(c) for x, c in zip(vecs[k], cent_by_cell[cell])]
        assert rvec == want


def test_embedding_outliers_finds_planted_outlier(spark):
    from storage_spark.functions.vectors import embedding_outliers

    rows = []
    for i in range(10):
        rows.append((i, 0, [0.1, 0.1, 0.1, 0.1]))
    rows.append((99, 0, [0.9, -0.9, 0.9, -0.9]))  # planted outlier
    for i in range(5):
        rows.append((100 + i, 1, [0.2, 0.2, 0.2, 0.2]))
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = embedding_outliers(df, k=2)
    top0 = [r for r in out.collect() if r["label"] == 0]
    assert min(top0, key=lambda r: r["rk"])["vec_id"] == 99
    # identical vectors in label 1: all scores equal, ranked by vec_id
    top1 = sorted(
        (r for r in out.collect() if r["label"] == 1), key=lambda r: r["rk"]
    )
    assert [r["vec_id"] for r in top1] == [100, 101]
    assert top1[0]["dist2_scaled"] == top1[1]["dist2_scaled"] == 0


def test_embedding_outliers_score_is_scaled_distance(spark):
    """dist2_scaled == cnt^2 * ||q - mean_q||^2 exactly (integer math)."""
    from storage_spark.functions.vectors import embedding_outliers

    vecs = {1: [0.0, 0.0], 2: [0.1, 0.0], 3: [0.2, 0.3]}
    df = spark.createDataFrame(
        [(i, 0, v) for i, v in vecs.items()],
        "vec_id long, label int, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["dist2_scaled"]
        for r in embedding_outliers(df, k=3).collect()
    }
    q = {i: [round(x * 1000) for x in v] for i, v in vecs.items()}
    sums = [sum(q[i][d] for i in q) for d in range(2)]
    cnt = len(q)
    for i in q:
        expect = sum((q[i][d] * cnt - sums[d]) ** 2 for d in range(2))
        assert got[i] == expect


def test_sq8_roundtrip_error_bound_and_map_only_plan(spark, sf_dir):
    """SQ8 reconstruction error is bounded by half a quantization step
    per coordinate (scale / (2*qmax)); encode is a map-only scan — no
    exchange in the plan."""
    from storage_spark.functions.vectors import sq_decode_expr, sq_encode

    v = _vectors(spark, sf_dir).limit(300)
    sq = sq_encode(v, bits=8)
    plan = sq._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    joined = v.join(sq, "key").withColumn(
        "_dq", sq_decode_expr(F.col("codes"), F.col("scale"), 8)
    )
    worst = joined.select(
        F.max(
            F.array_max(
                F.zip_with(
                    F.col("embedding"), F.col("_dq"),
                    lambda a, b: F.abs(a.cast("double") - b)
                    - F.col("scale") / F.lit(254.0),
                )
            )
        ).alias("w")
    ).first()["w"]
    assert worst <= 1e-9, worst


def test_sq8_zero_vector_and_bits_validation(spark):
    from storage_spark.functions.vectors import sq_decode_expr, sq_encode

    import pytest

    df = spark.createDataFrame(
        [("a", [0.0, 0.0, 0.0]), ("b", [1.0, -2.0, 0.5])],
        "key string, embedding array<float>",
    )
    rows = {r["key"]: r for r in sq_encode(df).collect()}
    assert rows["a"]["scale"] == 0.0 and list(rows["a"]["codes"]) == [0, 0, 0]
    assert rows["b"]["scale"] == 2.0 and rows["b"]["codes"][1] == -127
    dec = (
        sq_encode(df)
        .select(sq_decode_expr(F.col("codes"), F.col("scale")).alias("d"))
        .collect()
    )
    assert all(abs(x) < 1e-12 for x in dec[0]["d"]) or all(
        abs(x) < 1e-12 for x in dec[1]["d"]
    )
    with pytest.raises(ValueError):
        sq_encode(df, bits=16)


def test_sq8_rerank_recovers_exact_topk(spark, sf_dir):
    """sq_topk ranks on reconstructions (near-exact); sq_search_rerank
    with the default refine factor must reproduce full-precision
    knn_join EXACTLY — same neighbor sets, same ranks, same distances."""
    from storage_spark.functions.vectors import (
        sq_encode,
        sq_search_rerank,
        sq_topk,
    )

    v = _vectors(spark, sf_dir).limit(500).cache()
    queries = v.filter(F.col("key").cast("bigint") < 10).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_key, r.key, r.rank): r.distance
        for r in knn_join(queries, v, k=5).collect()
    }
    sq = sq_encode(v).localCheckpoint(eager=True)
    approx = {
        (r.q_key, r.key) for r in sq_topk(queries, sq, k=5).collect()
    }
    # reconstruction ranking alone is already a strong approximation
    assert len(approx & {(q, c) for q, c, _ in exact}) >= 0.8 * len(exact)
    rr = {
        (r.q_key, r.key, r.rank): r.distance
        for r in sq_search_rerank(queries, sq, v, k=5).collect()
    }
    assert rr == exact


def test_ivfsq_lossless_degeneration_and_recall(spark, sf_dir):
    """IVF x SQ composite: with every cell probed and a wide refine it
    must equal full-precision knn_join exactly (the same lossless-
    degeneration contract as IVFPQ); at a pruning operating point the
    recall stays useful."""
    from storage_spark.functions.vectors import (
        ivf_assign,
        ivf_centroids,
        ivfsq_search,
        sq_encode,
    )

    v = _vectors(spark, sf_dir).limit(500).cache()
    cents = ivf_centroids(v, n_cells=8).cache()
    sq_assigned = (
        ivf_assign(v, cents)
        .join(sq_encode(v), "key")
        .select("key", "cell", "codes", "scale")
        .localCheckpoint(eager=True)
    )
    queries = v.filter(F.col("key").cast("bigint") < 10).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_key, r.key, r.rank): r.distance
        for r in knn_join(queries, v, k=5).collect()
    }
    lossless = {
        (r.q_key, r.key, r.rank): r.distance
        for r in ivfsq_search(
            queries, sq_assigned, cents, v, k=5, n_probe=8, refine_factor=8
        ).collect()
    }
    assert lossless == exact
    pruned = {
        (r.q_key, r.key)
        for r in ivfsq_search(
            queries, sq_assigned, cents, v, k=5, n_probe=3
        ).collect()
    }
    recall = len(pruned & {(q, c) for q, c, _ in exact}) / len(exact)
    assert recall > 0.3, recall


def test_project_embeddings_bit_exact_left_fold(spark, sf_dir):
    """The projection replays exactly: each coordinate is the left-folded
    dot against the md5 sign planes times a Python double literal —
    replicated here operation-for-operation in plain Python floats."""
    import math

    from storage_spark.functions.vectors import hyperplanes, project_embeddings

    t = load_all(spark, sf_dir)
    v = t["embeddings"].select(
        F.col("vec_id").cast("string").alias("key"), "embedding"
    ).limit(50)
    got = {
        r["key"]: (r["embedding"], r["projected"])
        for r in project_embeddings(v, out_dim=16, dim=64).collect()
    }
    planes = hyperplanes(64, 16)
    scale = 1.0 / math.sqrt(16)
    for vec, proj in got.values():
        for j, plane in enumerate(planes):
            acc = 0.0
            for x, s in zip(vec, plane):
                acc = acc + float(x) * s
            assert proj[j] == acc * scale


def test_project_embeddings_jl_distortion_bounded(spark):
    """JL property on deterministic pseudo-random pairs: squared-L2
    ratios proj/orig concentrate around 1 with spread ~1/sqrt(out_dim).
    Deterministic corpus => deterministic distortions; the asserted p95
    bound has ~2x margin over the measured value."""
    import random

    from storage_spark.functions.vectors import project_embeddings

    rng = random.Random(11)
    rows = [
        (f"{i:03d}", [rng.uniform(-1, 1) for _ in range(64)])
        for i in range(120)
    ]
    v = spark.createDataFrame(rows, "key string, embedding array<float>")
    p = project_embeddings(v, out_dim=32, dim=64).collect()
    import math

    def d2(a, b):
        return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))

    ratios = []
    for i in range(0, 100, 2):
        a, b = p[i], p[i + 1]
        orig = d2(a["embedding"], b["embedding"])
        proj = d2(a["projected"], b["projected"])
        ratios.append(proj / orig)
    ratios.sort()
    assert abs(ratios[len(ratios) // 2] - 1.0) < 0.25  # median near 1
    assert ratios[int(len(ratios) * 0.95)] < 2.2  # p95 distortion bounded


def test_project_embeddings_keeps_planted_neighbor_first(spark):
    """A planted near-dup (much closer than anything else) survives the
    projection at rank 1 — distance ORDER is preserved where the gap
    exceeds the JL distortion."""
    import random

    from storage_spark.functions.vectors import knn_join, project_embeddings

    rng = random.Random(13)
    rows = [
        (f"{i:03d}", [rng.uniform(-5, 5) for _ in range(64)])
        for i in range(100)
    ]
    twin = [x + 0.01 for x in rows[0][1]]
    rows.append(("900", twin))
    v = spark.createDataFrame(rows, "key string, embedding array<float>")
    pv = project_embeddings(v, out_dim=16, dim=64).select(
        "key", F.col("projected").alias("embedding")
    )
    q = pv.filter(F.col("key") == "000").select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    top = knn_join(q, pv, k=1, metric="l2").collect()
    assert top[0]["key"] == "900"


def test_project_embeddings_rerank_composition_recall(spark):
    """The intended usage at scale: candidates in projected space (3x
    window), exact rerank on the originals — recall floor asserted on
    clustered data (measured 0.80 at out_dim=16; floor 0.7)."""
    import random

    from storage_spark.functions.vectors import (
        _exact_rerank,
        knn_join,
        project_embeddings,
    )

    rng = random.Random(7)
    dim = 64
    centers = [[rng.uniform(-5, 5) for _ in range(dim)] for _ in range(10)]
    rows = [
        (
            f"{i:04d}",
            [centers[i % 10][j] + rng.uniform(-0.3, 0.3) for j in range(dim)],
        )
        for i in range(500)
    ]
    v = spark.createDataFrame(rows, "key string, embedding array<float>")
    q = v.filter(F.col("key").cast("int") < 20).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    gt = {(r["q_key"], r["key"]) for r in knn_join(q, v, k=10, metric="l2").collect()}
    pv = project_embeddings(v, out_dim=16, dim=dim).select(
        "key", F.col("projected").alias("embedding")
    )
    pq = project_embeddings(
        q, out_dim=16, dim=dim, vector_col="q_vec", out_col="qp"
    ).select("q_key", F.col("qp").alias("q_vec"))
    cands = knn_join(pq, pv, k=30, metric="l2").select("q_key", "key")
    rr = _exact_rerank(cands, q, v, 10, "l2", "q_key", "q_vec", "key", "embedding")
    rrs = {(r["q_key"], r["key"]) for r in rr.collect()}
    assert len(gt & rrs) / len(gt) >= 0.7


def test_project_embeddings_dim_mismatch_raises(spark):
    from storage_spark.functions.vectors import project_embeddings

    v = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], "key string, embedding array<float>"
    )
    with pytest.raises(Exception, match="vector length"):
        project_embeddings(v, out_dim=4, dim=8).collect()
    with pytest.raises(ValueError, match="out_dim"):
        project_embeddings(v, out_dim=0, dim=3)


def test_mean_pool_exact_ordered_fold(spark, sf_dir):
    """Pooled values replay the ORDERED left fold exactly: sort chunks by
    order key, sum elementwise in double, divide by the weight sum —
    replicated operation-for-operation in Python floats."""
    from storage_spark.functions.vectors import mean_pool_embeddings

    t = load_all(spark, sf_dir)
    v = t["embeddings"].select("vec_id", "embedding", "label")
    out = {
        r["label"]: (r["n_chunks"], r["pooled"])
        for r in mean_pool_embeddings(
            v, group_col="label", order_col="vec_id", dim=64
        ).collect()
    }
    rows = v.collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r["label"], []).append((r["vec_id"], r["embedding"]))
    for label, members in groups.items():
        members.sort(key=lambda m: m[0])
        acc = [0.0] * 64
        wsum = 0.0
        for _, emb in members:
            acc = [a + float(x) * 1.0 for a, x in zip(acc, emb)]
            wsum = wsum + 1.0
        want = [a / wsum for a in acc]
        n, got = out[label]
        assert n == len(members)
        assert got == want


def test_mean_pool_weighted_and_normalized(spark):
    import math

    from storage_spark.functions.vectors import mean_pool_embeddings

    df = spark.createDataFrame(
        [
            ("d1", 0, [1.0, 2.0, 3.0, 4.0], 2),
            ("d1", 1, [3.0, 0.0, 1.0, 0.0], 1),
            ("d2", 0, [2.0, 0.0, 0.0, 0.0], 5),
        ],
        "doc_id string, chunk_id int, embedding array<float>, tokens int",
    )
    w = {
        r["doc_id"]: r["pooled"]
        for r in mean_pool_embeddings(df, dim=4, weight_col="tokens").collect()
    }
    assert w["d1"] == [5 / 3, 4 / 3, 7 / 3, 8 / 3]
    assert w["d2"] == [2.0, 0.0, 0.0, 0.0]
    n = {
        r["doc_id"]: r["pooled"]
        for r in mean_pool_embeddings(df, dim=4, normalize=True).collect()
    }
    for vec in n.values():
        assert abs(math.sqrt(sum(x * x for x in vec)) - 1.0) < 1e-12


def test_mean_pool_partition_layout_invariant(spark):
    """The determinism contract: identical pooled doubles regardless of
    how the chunk rows are partitioned."""
    import random

    from storage_spark.functions.vectors import mean_pool_embeddings

    rng = random.Random(3)
    rows = [
        (f"d{i % 7}", i, [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id string, chunk_id int, embedding array<float>")
    a = sorted(
        map(tuple, mean_pool_embeddings(df.repartition(1), dim=16).collect())
    )
    b = sorted(
        map(tuple, mean_pool_embeddings(df.repartition(32), dim=16).collect())
    )
    c = sorted(
        map(
            tuple,
            mean_pool_embeddings(
                df.orderBy(F.col("chunk_id").desc()).repartition(5), dim=16
            ).collect(),
        )
    )
    assert a == b == c


def test_mean_pool_dim_mismatch_raises(spark):
    from storage_spark.functions.vectors import mean_pool_embeddings

    df = spark.createDataFrame(
        [("a", 0, [1.0, 2.0])], "doc_id string, chunk_id int, embedding array<float>"
    )
    with pytest.raises(Exception, match="vector length"):
        mean_pool_embeddings(df, dim=4).collect()


def test_mean_pool_zero_weight_sum_raises(spark):
    from storage_spark.functions.vectors import mean_pool_embeddings

    df = spark.createDataFrame(
        [("a", 0, [1.0, 2.0], 0), ("a", 1, [2.0, 1.0], 0)],
        "doc_id string, chunk_id int, embedding array<float>, w int",
    )
    with pytest.raises(Exception, match="weight sum is zero"):
        mean_pool_embeddings(df, dim=2, weight_col="w").collect()


def test_mean_pool_zero_norm_normalize_raises(spark):
    from storage_spark.functions.vectors import mean_pool_embeddings

    df = spark.createDataFrame(
        [("a", 0, [1.0, -1.0]), ("a", 1, [-1.0, 1.0])],
        "doc_id string, chunk_id int, embedding array<float>",
    )
    # unnormalized pooling of a zero-sum group is fine (the zero vector)
    assert mean_pool_embeddings(df, dim=2).collect()[0]["pooled"] == [0.0, 0.0]
    with pytest.raises(Exception, match="zero-norm"):
        mean_pool_embeddings(df, dim=2, normalize=True).collect()


def test_mean_pool_fanout_decomposes_exactly(spark):
    """Hierarchical pooling: partial SUMS compose — fanout results match
    the flat path to float-regrouping precision, counts and weights
    exactly, and are themselves partition-layout-invariant."""
    import random

    from storage_spark.functions.vectors import mean_pool_embeddings

    rng = random.Random(9)
    rows = [
        (f"d{i % 3}", i, [rng.uniform(-1, 1) for _ in range(16)], 1 + i % 4)
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, chunk_id int, embedding array<float>, w int"
    )
    flat = {
        r["doc_id"]: (r["n_chunks"], r["pooled"])
        for r in mean_pool_embeddings(df, dim=16, weight_col="w").collect()
    }
    fan = {
        r["doc_id"]: (r["n_chunks"], r["pooled"])
        for r in mean_pool_embeddings(
            df, dim=16, weight_col="w", fanout=8
        ).collect()
    }
    assert set(flat) == set(fan)
    for k in flat:
        assert fan[k][0] == flat[k][0]  # counts exact
        for a, b in zip(fan[k][1], flat[k][1]):
            assert abs(a - b) < 1e-12  # only float regrouping differs
    # fanout path is itself layout-deterministic
    fan2 = {
        r["doc_id"]: tuple(r["pooled"])
        for r in mean_pool_embeddings(
            df.repartition(32), dim=16, weight_col="w", fanout=8
        ).collect()
    }
    assert fan2 == {k: tuple(v) for k, (_, v) in fan.items()}


def test_jl_dim_rule():
    from storage_spark.functions.vectors import jl_dim_for

    import math

    # the standard bound: 4 ln n / (eps^2/2 - eps^3/3); at loose eps it
    # sits under the cap and must match exactly
    n = 100_000
    want = math.ceil(4 * math.log(n) / (0.9**2 / 2 - 0.9**3 / 3))
    assert want < 512
    assert jl_dim_for(n, eps=0.9) == want
    # tighter eps quickly exceeds any useful projection dim — the cap
    # (and the rerank-composition note) is the honest answer there
    assert jl_dim_for(n, eps=0.25) == 512
    # monotone in n, anti-monotone in eps (both under the cap)
    assert jl_dim_for(10**9, eps=0.9) >= jl_dim_for(10**3, eps=0.9)
    assert jl_dim_for(100, eps=0.9) < jl_dim_for(100, eps=0.5)
    import pytest

    with pytest.raises(ValueError, match="eps"):
        jl_dim_for(100, eps=1.5)


def test_project_embeddings_arrow_bitwise_equals_expression(spark, sf_dir):
    """arrow=True runs the identical strict left-fold arithmetic
    vectorized (np.add.accumulate — the pq_adc_scores_arrow pattern):
    BITWISE equality with the expression path, on real float32
    embeddings, so the SQL oracle replay holds for either path."""
    from storage_spark.functions.vectors import project_embeddings

    v = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("string").alias("key"), "embedding")
        .filter(F.col("vec_id") < 200)
    )
    a = {
        r["key"]: r["projected"]
        for r in project_embeddings(v, 16, 64).collect()
    }
    b = {
        r["key"]: r["projected"]
        for r in project_embeddings(v, 16, 64, arrow=True).collect()
    }
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k]  # exact, not approx


def test_project_embeddings_arrow_dim_mismatch_raises(spark):
    from storage_spark.functions.vectors import project_embeddings

    df = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], "key string, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        project_embeddings(df, 4, 8, arrow=True).collect()


def test_jl_lsh_encode_arrow_builds_identical_index(spark, sf_dir, tmp_path):
    """build_ann_index(kind='jl_lsh', encode_arrow=True) produces the
    same search results as the expression build (bitwise-equal
    projections => identical postings), and appends inherit the
    recorded choice."""
    from storage_spark.sources.annindex import (
        ann_index_search,
        build_ann_index,
        load_config,
    )

    v = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("string").alias("key"), "embedding")
        .filter(F.col("vec_id") < 300)
    )
    q = v.filter(F.col("key").cast("bigint") < 10).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    p1 = str(tmp_path / "jl_expr")
    p2 = str(tmp_path / "jl_arrow")
    build_ann_index(v, p1, kind="jl_lsh", dim=64, out_dim=16, n_planes=4)
    build_ann_index(
        v, p2, kind="jl_lsh", dim=64, out_dim=16, n_planes=4,
        encode_arrow=True,
    )
    assert load_config(p2)["encode_arrow"] is True
    a = sorted(
        (r[0], r[1], round(float(r[2]), 9), r[3])
        for r in ann_index_search(spark, p1, q, k=5, probe_radius=1).collect()
    )
    b = sorted(
        (r[0], r[1], round(float(r[2]), 9), r[3])
        for r in ann_index_search(spark, p2, q, k=5, probe_radius=1).collect()
    )
    assert a == b


def test_cosine_full_arrow_bitwise_matches_expression(spark, sf_dir):
    """cosine_distance_full_arrow (norms computed inline — the rerank
    stage's shape) must reproduce cosine_distance's doubles BIT FOR BIT,
    like the norm-factored twin above, so ARROW_AUTO_DIM routing in
    _exact_rerank never perturbs oracle parity."""
    from storage_spark.functions.vectors import (
        cosine_distance,
        cosine_distance_full_arrow,
        l2_distance,
        l2_distance_arrow,
    )

    v = _vectors(spark, sf_dir).select("key", "embedding").limit(40)
    a = v.select(F.col("key").alias("ka"), F.col("embedding").alias("va"))
    b = v.select(F.col("key").alias("kb"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("ka") < F.col("kb"))
    for expr_fn, arrow_fn in [
        (cosine_distance, cosine_distance_full_arrow),
        (l2_distance, l2_distance_arrow),
    ]:
        expr_rows = sorted(
            (r.ka, r.kb, repr(r.d))
            for r in pairs.select(
                "ka", "kb", expr_fn(F.col("va"), F.col("vb")).alias("d")
            ).collect()
        )
        arrow_rows = sorted(
            (r.ka, r.kb, repr(r.d))
            for r in pairs.select(
                "ka", "kb", arrow_fn(F.col("va"), F.col("vb")).alias("d")
            ).collect()
        )
        assert expr_rows and expr_rows == arrow_rows


def test_ann_index_search_arrow_auto_matches_expression(spark, sf_dir, tmp_path):
    """ann_index_search with arrow left at auto (None) returns exactly the
    rows an arrow=False call returns — routing changes the engine doing
    the arithmetic, never the arithmetic. jl_lsh at dim 768 exercises the
    rerank stage's auto-Arrow path (the one ARROW_AUTO_DIM turns on)."""
    from storage_spark.sources.annindex import ann_index_search, build_ann_index

    v = _vectors(spark, sf_dir).select("key", "embedding").limit(80)
    fat = v.select(
        "key", F.flatten(F.array_repeat(F.col("embedding"), 12)).alias("embedding")
    )
    path = str(tmp_path / "fatidx")
    build_ann_index(
        fat, path, kind="jl_lsh", dim=768, out_dim=32, n_planes=3,
        n_vectors=80, encode_arrow=True,
    )
    q = fat.limit(4).select(
        F.col("key").alias("q_key"), F.col("embedding").alias("q_vec")
    )
    base = sorted(
        (r.q_key, r.key, repr(r.distance), r.rank)
        for r in ann_index_search(spark, path, q, k=3, arrow=False).collect()
    )
    auto = sorted(
        (r.q_key, r.key, repr(r.distance), r.rank)
        for r in ann_index_search(spark, path, q, k=3).collect()
    )
    assert base and base == auto


def test_lsh_signature_arrow_bitwise_matches_expression(spark, sf_dir):
    """lsh_signature_arrow must produce the IDENTICAL signature strings
    as the expression form at any dimension — the fat-dim plan-size
    relief never moves a vector to a different bucket."""
    from storage_spark.functions.vectors import (
        hyperplanes,
        lsh_signature,
        lsh_signature_arrow,
    )

    v = _vectors(spark, sf_dir).select("key", "embedding").limit(60)
    fat = v.select(
        "key", F.flatten(F.array_repeat(F.col("embedding"), 12)).alias("e")
    )
    for df, dim in ((v.withColumnRenamed("embedding", "e"), 64), (fat, 768)):
        planes = hyperplanes(dim, 6, seed=42)
        rows = df.select(
            "key",
            lsh_signature(F.col("e"), planes).alias("s_expr"),
            lsh_signature_arrow(F.col("e"), planes).alias("s_arrow"),
        ).collect()
        assert rows
        for r in rows:
            assert r.s_expr == r.s_arrow, (dim, r.key)


def test_lsh_postings_sig_arrow_escape_hatch(spark, sf_dir):
    """ADVICE r12: dim >= ARROW_AUTO_DIM routes signature encoding
    through a pandas UDF by default (plan-size relief), which adds a
    pandas/pyarrow executor dependency to index BUILD paths.
    sig_arrow=False must force the pure-JVM expression (no
    ArrowEvalPython / BatchEvalPython anywhere in the plan) and emit
    identical posting rows."""
    from storage_spark.functions.vectors import lsh_corpus_postings

    v = _vectors(spark, sf_dir).select("key", "embedding").limit(40)
    fat = v.select(
        "key",
        F.flatten(F.array_repeat(F.col("embedding"), 12)).alias("embedding"),
    )
    auto = lsh_corpus_postings(fat, dim=768, n_planes=6)
    jvm = lsh_corpus_postings(fat, dim=768, n_planes=6, sig_arrow=False)
    plan_auto = auto._jdf.queryExecution().executedPlan().toString()
    plan_jvm = jvm._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan_auto  # the dim-auto default IS Arrow
    assert "EvalPython" not in plan_jvm  # the hatch is pure JVM
    a = {(r.key, r._sig) for r in auto.select("key", "_sig").collect()}
    b = {(r.key, r._sig) for r in jvm.select("key", "_sig").collect()}
    assert a == b
