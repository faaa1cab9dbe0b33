"""Deterministic distributed k-means (operators/clustering.py): plan
shape (assignment is a shuffle-free broadcast-literal scan), Lloyd
semantics (tie-break, empty-cluster carry-over, convergence on a
separable toy set), and the k > n guard. Cross-engine hash parity is
covered by test_oracle_parity for the two registered queries."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.operators import clustering as cl


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_assignment_plan_is_single_scan(spark, sf_dir):
    """The output plan embeds centroids as literals: no join, no
    exchange — one parquet scan per assignment at any data size."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = cl.kmeans_assign(emb, "vec_id", "embedding", k=2, iters=1)
    plan = _executed(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_separable_clusters_converge(spark):
    """Two well-separated blobs end up in two clusters regardless of the
    interleaved input order; centroids land on the blob means."""
    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + (i % 5) * 0.01, base]))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    cents = cl.kmeans_fit(df, "id", "v", k=2, iters=3)
    assert abs(cents[0][1] - 0.0) < 0.1
    assert abs(cents[1][1] - 10.0) < 0.1
    out = {r["id"]: r["cluster"]
           for r in cl.kmeans_assign(df, "id", "v", k=2, iters=3).collect()}
    assert all(out[i] == (i % 2) for i in range(20))


def test_tie_break_lowest_cluster_index(spark):
    """A point equidistant from two centroids goes to the lower index —
    the rule both engines share."""
    # init centroids = two smallest ids: [0.0] and [2.0]; point 1.0 ties.
    df = spark.createDataFrame(
        [(0, [0.0]), (1, [2.0]), (2, [1.0])], "id long, v array<double>")
    out = {r["id"]: r["cluster"]
           for r in cl.kmeans_assign(df, "id", "v", k=2, iters=0).collect()}
    assert out[2] == 0


def test_empty_cluster_keeps_previous_centroid(spark):
    """If no point lands in a cluster, its centroid must carry over
    (never NaN / dropped) — mirrored in the oracle's LEFT JOIN. Two
    identical init vectors make every point tie toward cluster 0, so
    cluster 1 is empty from the first iteration."""
    df = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0]), (2, [5.0])], "id long, v array<double>")
    cents = cl.kmeans_fit(df, "id", "v", k=2, iters=1)
    assert cents[1] == [1.0]  # cluster 1 was empty: centroid carried over
    assert cents[0][0] == pytest.approx(7.0 / 3.0)
    # next iteration repopulates cluster 1 from the carried centroid
    cents2 = cl.kmeans_fit(df, "id", "v", k=2, iters=2)
    assert cents2 == [[5.0], [1.0]]


def test_k_exceeding_rows_raises(spark):
    df = spark.createDataFrame([(0, [0.0]), (1, [1.0])],
                               "id long, v array<double>")
    with pytest.raises(ValueError, match="exceeds"):
        cl.kmeans_fit(df, "id", "v", k=5, iters=1)


def test_summary_counts_match_assignments(spark, sf_dir):
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    assign = cl.kmeans_assign(emb, "vec_id", "embedding", k=3, iters=1)
    counts = {r["cluster"]: r["count"]
              for r in assign.groupBy("cluster").count().collect()}
    summ = {r["cluster"]: r["n_vectors"]
            for r in cl.kmeans_summary(emb, "vec_id", "embedding",
                                       k=3, iters=1).collect()}
    assert counts == summ


def test_assignment_expr_streaming_safe(spark, sf_dir, tmp_path):
    """The assignment expression is a stateless scan (literals only), so
    fitted centroids score a readStream unchanged — online cluster
    routing of new embeddings."""
    import os
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cents = cl.kmeans_fit(emb, "vec_id", "embedding", k=3, iters=1)
    src = str(tmp_path / "emb_stream")
    emb.write.mode("overwrite").parquet(src)  # readStream needs a dir
    stream = spark.readStream.schema(emb.schema).parquet(src)
    out = []
    q = (stream.select("vec_id",
                       cl._assign_expr(F.col("embedding"), cents)
                       .cast("int").alias("cluster"))
         .writeStream.outputMode("append")
         .foreachBatch(lambda df, bid: out.extend(df.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    batch = {r["vec_id"]: r["cluster"]
             for r in cl.kmeans_assign(emb, "vec_id", "embedding",
                                       k=3, iters=1).collect()}
    assert {r["vec_id"]: r["cluster"] for r in out} == batch


def test_ivf_topk_candidates_respect_probed_cells(spark, sf_dir):
    """Every returned neighbour's cell is one of its query's nprobe
    probed cells, ranks are dense 1..k per query, and the search is
    deterministic across runs (hash parity is test_oracle_parity's job)."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = cl.ivf_topk_det(emb, "vec_id", "embedding", k_clusters=4,
                          iters=1, nprobe=2, n_queries=3, k=4)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 3
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, len(rs) + 1))
        assert len({r["cell"] for r in rs}) <= 2  # nprobe cells max
        assert all(r["vec_id"] != q for r in rs)
    again = cl.ivf_topk_det(emb, "vec_id", "embedding", k_clusters=4,
                            iters=1, nprobe=2, n_queries=3, k=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_topk_probe_join_is_broadcast(spark, sf_dir):
    """The query×probe side reaches the candidate join as a broadcast —
    the corpus side never shuffles for the join."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = cl.ivf_topk_det(emb, "vec_id", "embedding", k_clusters=4,
                          iters=1, nprobe=2, n_queries=3, k=4)
    assert "BroadcastHashJoin" in _executed(out)


def test_embedding_outliers_flags_far_point(spark):
    """One vector far from its blob is flagged; the tight blob isn't."""
    # blob 1 is identical points: a relative fence on a near-degenerate
    # spread would flag its extremes, which is correct but not what this
    # test probes
    rows = [(i, [0.0, 0.0]) for i in range(10)]
    # second blob: enough inliers that one far point can exceed 2x the
    # cluster's mean squared distance (with too few members the outlier
    # dominates the mean it is compared against)
    rows += [(10 + i, [5.0 + 0.01 * i, 5.0]) for i in range(5)]
    rows.append((20, [9.0, 9.0]))       # far outlier within blob 2
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = {r["id"]: r["outlier"] for r in
           cl.embedding_outliers(df, "id", "v", k=2, iters=3,
                                 factor=2.0).collect()}
    assert out[20] is True
    assert not any(out[i] for i in range(10))


def test_embedding_outliers_uniform_cluster_none(spark):
    """Identical vectors -> zero distances -> no outliers (0 > 0 false)."""
    df = spark.createDataFrame([(i, [1.0, 2.0]) for i in range(8)],
                               "id long, v array<double>")
    out = cl.embedding_outliers(df, "id", "v", k=2, iters=1, factor=2.0)
    assert not any(r["outlier"] for r in out.collect())


def test_ivf_recall_full_probe_is_exact(spark, sf_dir):
    """Probing every cell (nprobe == k_clusters) makes IVF exhaustive,
    so recall@k must be exactly 1.0 for every query."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = cl.ivf_recall(emb, "vec_id", "embedding", k_clusters=4,
                        iters=1, nprobe=4, n_queries=3, k=5).collect()
    assert len(out) == 3
    assert all(r["recall"] == 1.0 and r["n_hits"] == 5 for r in out)


def test_ivf_recall_bounded_and_keyed(spark, sf_dir):
    """Partial probing yields 0 <= recall <= 1 with one row per query."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = cl.ivf_recall(emb, "vec_id", "embedding", k_clusters=8,
                         iters=2, nprobe=1, n_queries=4, k=5).collect()
    assert sorted(r["query_id"] for r in rows) == sorted(
        set(r["query_id"] for r in rows)) and len(rows) == 4
    assert all(0.0 <= r["recall"] <= 1.0 for r in rows)


def test_label_centroid_audit_flags_planted_mislabels(spark):
    """Two separable blobs: clean labels give zero suspects; a planted
    wrong-label point is the ONLY suspect."""
    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + (i % 5) * 0.01, base], i % 2))
    rows.append((99, [10.0, 10.0], 0))  # blob-1 vector labeled 0
    df = spark.createDataFrame(rows, "id long, v array<double>, lbl int")
    out = {r["label"]: r
           for r in cl.label_centroid_audit(df, "id", "v", "lbl").collect()}
    assert out[1]["n_suspect"] == 0
    assert out[0]["n_suspect"] == 1 and out[0]["n"] == 11
    clean = df.where(F.col("id") != 99)
    assert all(r["n_suspect"] == 0 for r in
               cl.label_centroid_audit(clean, "id", "v", "lbl").collect())


def test_label_centroid_audit_drops_null_labels(spark):
    """NULL labels are 'unlabeled', not a class: they must neither crash
    the driver-side centroid sort (None vs int) nor appear in the
    output (VERDICT r4 / ADVICE)."""
    rows = [(i, [float(i % 2) * 10.0, 0.0], i % 2) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, v array<double>, lbl int")
    with_null = df.union(spark.createDataFrame(
        [(100, [5.0, 5.0], None)], "id long, v array<double>, lbl int"))
    out = cl.label_centroid_audit(with_null, "id", "v", "lbl").collect()
    assert sorted(r["label"] for r in out) == [0, 1]
    assert sum(r["n"] for r in out) == 10  # NULL row excluded


def test_label_centroid_audit_caps_label_cardinality(spark):
    """An id-like label column must raise loudly instead of collecting
    O(labels x dim) driver state (VERDICT r4 item 2)."""
    old = cl.MAX_AUDIT_LABELS
    cl.MAX_AUDIT_LABELS = 5
    try:
        rows = [(i, [float(i), 0.0], i) for i in range(10)]
        df = spark.createDataFrame(rows, "id long, v array<double>, lbl int")
        with pytest.raises(ValueError, match="MAX_AUDIT_LABELS"):
            cl.label_centroid_audit(df, "id", "v", "lbl")
    finally:
        cl.MAX_AUDIT_LABELS = old


def test_embedding_outliers_no_int64_overflow(spark):
    """Large unnormalized vectors: d6 * n_cl * 100 passes int64 but the
    decimal(38,0) compare must not wrap (ADVICE r4). 40 vectors of
    sqdist ~1e8 -> d6 ~1e14; d6 * 40 * 100 ~4e17 is fine, but scale
    the magnitudes so the bigint product would wrap: sqdist ~1e10 ->
    d6 ~1e16, product ~4e19 > 2^63 ~9.2e18."""
    import math

    side = math.sqrt(1e10 / 2)  # per-coordinate offset -> sqdist 1e10
    rows = [(i, [side * (1 if i % 2 else -1), side * (1 if i % 3 else -1)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = cl.embedding_outliers(df, "id", "v", k=1, iters=1,
                                factor=1.0).collect()
    assert len(out) == 40
    # with factor=1.0, strictly-above-mean distances are outliers and
    # the rest are not — a wrapped product would flip signs randomly.
    n_out = sum(1 for r in out if r["outlier"])
    assert 0 < n_out < 40


def test_embedding_neardup_pairs_cache_contract(spark, sf_dir):
    """r12 contract (supersedes the r4 no-persist rule): the operator
    persists exactly ONE frame (the hyperplane bucket computation, read
    by the sizing agg + cap join + both self-join sides) and the
    returned plan carries the release handle — after unpersist_plan the
    session state is back where it started."""
    import os as _os

    from dataprofiler_spark.operators import similarity as sim
    from dataprofiler_spark.session import unpersist_plan

    spark.catalog.clearCache()
    # delta-based: earlier tests in the shared session may leave final
    # localCheckpoint RDDs (graph loops) for the ContextCleaner
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                 .toArray())
    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    out = sim.embedding_neardup_pairs(emb, "vec_id", "embedding",
                                      threshold=0.8)
    out.count()
    mid = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
              .toArray())
    assert len(mid - before) == 1          # the bucket frame, nothing else
    assert unpersist_plan(out) == 1
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray())
    assert after - before == set()


def test_embedding_group_cosines_semantics(spark):
    """Identical groups → cosine 1; orthogonal groups → 0; NULL groups
    dropped; cardinality cap raises."""
    rows = ([(i, [1.0, 0.0], 0) for i in range(4)]
            + [(10 + i, [0.0, 1.0], 1) for i in range(3)]
            + [(20 + i, [2.0, 0.0], 2) for i in range(2)]
            + [(99, [5.0, 5.0], None)])
    df = spark.createDataFrame(rows, "id long, v array<double>, g int")
    out = {(r["group_a"], r["group_b"]): r for r in
           cl.embedding_group_cosines(df, "id", "v", "g").collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 2)]["cosine"] == 1.0     # parallel centroids
    assert out[(0, 1)]["cosine"] == 0.0     # orthogonal
    assert out[(0, 1)]["n_a"] == 4 and out[(0, 1)]["n_b"] == 3

    old = cl.MAX_AUDIT_LABELS
    cl.MAX_AUDIT_LABELS = 2
    try:
        with pytest.raises(ValueError, match="MAX_AUDIT_LABELS"):
            cl.embedding_group_cosines(df, "id", "v", "g")
    finally:
        cl.MAX_AUDIT_LABELS = old


def test_null_vectors_excluded_everywhere(spark):
    """A NULL embedding has no cell: fit ignores it, assignment drops
    the row, and the summary counts only real vectors — uniformly
    across the k-means family (matching the oracles' WHERE v IS NOT
    NULL)."""
    rows = [(i, [float(i % 2) * 10.0, 0.0]) for i in range(10)]
    clean = spark.createDataFrame(rows, "id long, v array<double>")
    dirty = clean.union(spark.createDataFrame(
        [(100, None), (101, None)], "id long, v array<double>"))
    assert (cl.kmeans_fit(dirty, "id", "v", k=2, iters=2)
            == cl.kmeans_fit(clean, "id", "v", k=2, iters=2))
    assert cl.kmeans_assign(dirty, "id", "v", k=2, iters=2).count() == 10
    out = cl.kmeans_summary(dirty, "id", "v", k=2, iters=2).collect()
    assert sum(r["n_vectors"] for r in out) == 10
    assert cl.pq_audit(dirty, "id", "v", m=2, k_codes=2, iters=1,
                       dim=2).collect()[0]["n"] == 10


@pytest.mark.parametrize("width", [3, 5], ids=["short", "long"])
def test_ragged_vectors_rejected_everywhere(spark, tmp_path, width):
    """Width rule: every non-NULL vector is exactly as wide as the
    fitted dim. One short or long vector among 4-wide ones raises on
    every path through the one assignment function — fit, PQ fit,
    assignment and the IVF-PQ build — in both the expression arm and
    the NumPy kernel arm (k > ASSIGN_EXPR_MAX_K), instead of averaging
    a short row into some dims or routing a long one silently."""
    from dataprofiler_spark.operators import ann_index as ai

    rows = [(i, [float(i % 5), float(i % 3), 1.0, float(i)])
            for i in range(20)]
    rows.append((20, [float(x) for x in range(width)]))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    calls = {
        "kmeans_fit": lambda: cl.kmeans_fit(df, "id", "v", k=2, iters=2),
        "kmeans_fit_kernel": lambda: cl.kmeans_fit(df, "id", "v", k=18,
                                                   iters=1),
        "pq_fit": lambda: cl.pq_fit(df, "id", "v", m=2, k_codes=2,
                                    iters=1, dim=4),
        "kmeans_assign": lambda: cl.kmeans_assign(df, "id", "v", k=2,
                                                  iters=1).collect(),
        "ivf_build": lambda: ai.ivf_build(
            df, "id", "v", str(tmp_path / "ivf"), n_centroids=2,
            iters=1, pq_m=2, pq_codes=2),
    }
    for name, call in calls.items():
        with pytest.raises(Exception, match=f"vector width {width} "
                                            "!= fitted dim 4"):
            call()
            pytest.fail(f"{name} accepted a {width}-wide vector")


def test_pq_audit_semantics(spark):
    """Perfectly code-book-representable data reconstructs exactly:
    vectors drawn from k_codes distinct subvector patterns give zero
    error and full code usage; dim % m != 0 raises."""
    # 2 subvectors of 2 dims; per subvector only 2 distinct patterns
    rows = [(i, [float(i % 2), float(i % 2), float((i // 2) % 2), 1.0])
            for i in range(16)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = cl.pq_audit(df, "id", "v", m=2, k_codes=2, iters=2,
                      dim=4).collect()
    assert [r["subvector"] for r in out] == [0, 1]
    for r in out:
        assert r["n"] == 16
        assert r["codes_used"] == 2
        assert r["mean_sq_err"] == 0.0 and r["max_sq_err"] == 0.0
    with pytest.raises(ValueError, match="not divisible"):
        cl.pq_audit(df, "id", "v", m=3, dim=4)


def test_pq_audit_single_scan_explode(spark, sf_dir):
    """The audit plan reads the corpus ONCE: codebook fit aside, the
    assignment+rollup is one scan with a map-side explode — no join,
    no second Exchange beyond the m-group aggregate."""
    import os as _os

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    out = cl.pq_audit(emb, "vec_id", "embedding", m=4, k_codes=2,
                      iters=1, dim=64)
    plan = _executed(out)
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ivf_pq_topk_semantics(spark):
    """On two well-separated blobs, every query's ADC top-k stays in
    its own blob (coarse pruning + code distances both respect the
    separation), ranks are 1..k, approx_d non-decreasing."""
    rows = []
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 100.0
        rows.append((i, [base + (i % 7) * 0.01] * 4))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = cl.ivf_pq_topk(df, "id", "v", k_clusters=2, iters=2, m=2,
                         k_codes=2, pq_iters=1, nprobe=1, n_queries=4,
                         k=5, dim=4).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i]["approx_d"] <= rs[i + 1]["approx_d"]
                   for i in range(len(rs) - 1))
        # same-blob neighbours only
        assert all(r["vec_id"] % 2 == q % 2 for r in rs)


def test_ivf_pq_residual_mode_semantics(spark):
    """Residual encoding keeps the same search contract (ranks 1..k,
    same-blob neighbours on separable data) while fitting codebooks on
    x − centroid[cell]; on blob data with within-blob structure the
    residual codebooks reconstruct the offsets raw-mode codebooks
    spend their budget on blob positions for."""
    rows = []
    for i in range(40):
        base = 0.0 if i % 2 == 0 else 100.0
        rows.append((i, [base + (i % 7) * 0.5] * 4))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = cl.ivf_pq_topk(df, "id", "v", k_clusters=2, iters=2, m=2,
                         k_codes=4, pq_iters=1, nprobe=1, n_queries=4,
                         k=5, dim=4, by_residual=True).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(r["vec_id"] % 2 == q % 2 for r in rs)


def test_ivf_pq_probe_join_is_broadcast(spark, sf_dir):
    """The candidate join must broadcast the tiny probe frame — the
    corpus side never shuffles for the join."""
    import os as _os

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    out = cl.ivf_pq_topk(emb, "vec_id", "embedding", k_clusters=4,
                         iters=1, m=4, k_codes=2, pq_iters=1, nprobe=2,
                         n_queries=3, k=3)
    plan = _executed(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_hard_negatives_exclude_own_label(spark, sf_dir):
    """Every mined negative carries a label different from its query's,
    ranks are 1..k per query, and cosines are non-increasing."""
    import os as _os

    from dataprofiler_spark.operators import similarity as sim

    emb = spark.read.parquet(_os.path.join(sf_dir, "embeddings.parquet"))
    labels = {r["vec_id"]: r["label"] for r in
              emb.select("vec_id", "label").collect()}
    rows = sim.hard_negatives(emb, "vec_id", "embedding", "label",
                              n_queries=3, k=4).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["neg_label"] != labels[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert all(rs[i]["cosine"] >= rs[i + 1]["cosine"]
                   for i in range(len(rs) - 1))


def test_assign_paths_bit_identical(spark):
    """The NumPy mapInPandas assign (k > ASSIGN_EXPR_MAX_K) must equal
    the literal-expression path BIT-FOR-BIT: the kernel replays the
    expression's arithmetic (cast-to-double, (x-y)*(x-y), sequential
    per-dim left-fold from 0.0) and argmin's first-minimum rule is the
    (distance, index) lexicographic tie-break. Adversarial inputs:
    duplicated centroids (exact ties), near-tie perturbations at 1e-15,
    float32 vectors (upcast before subtraction, as the expression
    casts), negative and denormal-ish values — over the whole vector
    and over a slice that starts past 0 (the PQ encoder's spec)."""
    import numpy as np

    from dataprofiler_spark.operators import clustering as clus

    rng = np.random.default_rng(11)
    k, dim, n = 24, 16, 200            # k > ASSIGN_EXPR_MAX_K
    start, width = 5, 8                # sliced spec, start > 0
    assert k > clus.ASSIGN_EXPR_MAX_K
    cents = rng.normal(0, 1, (k, dim))
    cents[7] = cents[3]                 # exact duplicate -> index tie
    cents[12] = cents[5] + 1e-15        # near-tie
    cents = [[float(x) for x in c] for c in cents]
    sliced = [c[start:start + width] for c in cents]
    vecs = rng.normal(0, 1, (n, dim))
    vecs[:50] = np.asarray(cents)[rng.integers(0, k, 50)]  # on-centroid
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    for typ in ("array<double>", "array<float>"):
        df = spark.createDataFrame(rows, f"id long, v {typ}")
        fast = {(r["id"], r["__cl0"], r["__cl1"])
                for r in clus._assign_multi_cols(
                    df, [(0, dim, cents), (start, width, sliced)],
                    dim).collect()}
        slow = {(r["id"], r["a"], r["b"]) for r in df.select(
            "id",
            clus._assign_expr(F.col("v"), cents).cast("int").alias("a"),
            clus._assign_expr(F.slice(F.col("v"), start + 1, width),
                              sliced).cast("int").alias("b")).collect()}
        assert fast == slow, typ


def test_semantic_dedup_semantics(spark):
    """SemDeDup keep rule: exact/near duplicates drop in favor of the
    lowest id IN THE SAME CELL; cross-cluster near-dups survive (the
    documented blocking tradeoff); oversized cells fail OPEN."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.clustering import semantic_dedup

    # two far-apart directions -> two cells; dups inside each
    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, e1), (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, e2), (4, [0.01, 0.995, 0.0, 0.0]),  # near-dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),              # lone
        (6, None),                              # NULL vec: excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: (r["cluster"], r["keep"])
           for r in semantic_dedup(df, "vec_id", "embedding",
                                   k_clusters=3, iters=2,
                                   threshold=0.9).collect()}
    assert len(out) == 5                      # NULL vector has no row
    assert out[1][1] and not out[2][1]        # min-id wins its ε-ball
    assert out[3][1] and not out[4][1]
    assert out[5][1]
    assert out[1][0] == out[2][0] and out[3][0] == out[4][0]

    # fail-open: with the cell size cap below the cluster sizes,
    # nothing is dropped (the guard skips pair generation) — and the
    # fail-open is VISIBLE: every row of an oversized cell reports
    # guarded=true (VERDICT r10 item 1: silent fail-open was the trap)
    guarded = semantic_dedup(df, "vec_id", "embedding", k_clusters=3,
                             iters=2, threshold=0.9, max_cluster_size=1)
    rows = guarded.collect()
    assert all(r["keep"] for r in rows)
    # cells 1 and 2 hold two members each (> cap 1); the lone vector's
    # cell is within the cap
    assert sum(r["guarded"] for r in rows) == 4
    unguarded = semantic_dedup(df, "vec_id", "embedding", k_clusters=3,
                               iters=2, threshold=0.9)
    assert all(not r["guarded"] for r in unguarded.collect())

    # auto-k: k = ceil(n / target_cell_size) — 5 vectors at cell size
    # 2 → 3 cells, same contract as an explicit k=3
    auto = semantic_dedup(df, "vec_id", "embedding", k_clusters="auto",
                          target_cell_size=2, iters=2, threshold=0.9)
    fixed = semantic_dedup(df, "vec_id", "embedding", k_clusters=3,
                           iters=2, threshold=0.9)
    key = lambda r: (r["id"], r["cluster"], r["keep"])  # noqa: E731
    assert sorted(map(key, auto.collect())) == \
        sorted(map(key, fixed.collect()))

    # keep="centroid_far" (the paper's §3 exemplar rule): within an
    # ε-ball the member FARTHEST from its centroid survives. ids 1, 2
    # share a ball; 2 ([0.99, 0.01]) is farther from the (1,2)-cell
    # centroid (≈ their mean) than 1 is only if... compute: with two
    # members the centroid is the midpoint, both are equidistant in
    # sqdist but cosine to centroid differs with norm — assert simply
    # that the policy is valid, deterministic, and keeps exactly one
    # exemplar per ball.
    far = {r["id"]: r["keep"]
           for r in semantic_dedup(df, "vec_id", "embedding",
                                   k_clusters=3, iters=2, threshold=0.9,
                                   keep="centroid_far").collect()}
    assert far[5]                         # lone vector always survives
    assert far[1] != far[2]               # exactly one of the ball
    assert far[3] != far[4]
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(df, "vec_id", "embedding", k_clusters=3,
                       keep="random")

    # plan shape: the pair stage is a keyed join on the cluster
    # blocking key, never a cartesian product (the whole point of the
    # SemDeDup design at 100 TB)
    plan = fixed._sc._jvm.PythonSQLUtils.explainString(
        fixed._jdf.queryExecution(), "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_two_level_cells_invariants(spark):
    """Hierarchical quantizer (VERDICT r11 item 3): not SQL-expressible
    (independent per-cell Lloyd), so its contract is pinned by
    invariants instead of an oracle: valid partition, cells honor the
    packing stride, ck is the cosine to a real centroid (|ck| <= 1),
    fine cells approximately honor target_cell_size, and the whole
    thing is deterministic run-to-run."""
    from dataprofiler_spark.operators import clustering as cl

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out1 = cl.two_level_cells(emb, "vec_id", "embedding",
                              target_cell_size=50, iters=2).toPandas()
    n = emb.where("embedding is not null").count()
    # partition: every non-null vector appears exactly once
    assert len(out1) == n and out1["id"].is_unique
    # packed ids decompose into (coarse, fine) with fine < stride
    fine = out1["cluster"] % cl._FINE_STRIDE
    assert (fine < cl._FINE_STRIDE).all() and (out1["cluster"] >= 0).all()
    assert out1["ck"].abs().max() <= 1.0 + 1e-9
    # cell sizes stay near target (local Lloyd can drift a bit, but a
    # cell several times the target means the fine stage didn't run)
    sizes = out1.groupby("cluster").size()
    assert sizes.max() <= 50 * 3
    # determinism
    out2 = cl.two_level_cells(emb, "vec_id", "embedding",
                              target_cell_size=50, iters=2).toPandas()
    a = out1.sort_values("id").reset_index(drop=True)
    b = out2.sort_values("id").reset_index(drop=True)
    assert (a["cluster"] == b["cluster"]).all()
    assert (a["ck"] == b["ck"]).all()


def test_semantic_dedup_two_level_semantics(spark, monkeypatch):
    """semantic_dedup on the two-level path (forced by lowering
    TWO_LEVEL_MIN_K) keeps the operator's observable contract at
    forced-low threshold: one row per vector, keep XOR
    dropped-by-an-in-cell-winner, guarded consistent with cell size —
    verified by brute-force within each emitted cell. At the default
    constant the same small corpus takes the flat path."""
    import numpy as np

    from dataprofiler_spark.operators import clustering as cl

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    thr = 0.3
    n = emb.where("embedding is not null").count()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def cos(a, b):
        d = np.linalg.norm(a) * np.linalg.norm(b)
        return round(float(a @ b / d), 6) if d else 0.0

    def check_min_id_rule(out):
        assert len(out) == n and out["id"].is_unique
        assert not out["guarded"].any()   # cells ~50 << max_cluster_size
        # brute-force replay of the min_id ε-ball rule inside every cell
        for cell, grp in out.groupby("cluster"):
            ids = sorted(grp["id"])
            kept = {r["id"]: bool(r["keep"]) for _, r in grp.iterrows()}
            for i in ids:
                beats = [j for j in ids if j < i
                         and cos(vecs[j], vecs[i]) >= thr]
                assert kept[i] == (not beats), (cell, i)

    # the auto switch: the tiny corpus resolves k = ceil(n / 50) <<
    # TWO_LEVEL_MIN_K, so the default takes the flat (oracle-mirrored)
    # path — its cells are exactly the flat k-means assignment
    auto = cl.semantic_dedup(emb, "vec_id", "embedding", threshold=thr,
                             target_cell_size=50, iters=2).toPandas()
    check_min_id_rule(auto)
    k = -(-n // 50)
    flat = {r["vec_id"]: r["cluster"] for r in
            cl.kmeans_assign(emb, "vec_id", "embedding", k=k,
                             iters=2).collect()}
    assert dict(zip(auto["id"], auto["cluster"])) == flat

    monkeypatch.setattr(cl, "TWO_LEVEL_MIN_K", 1)
    two = cl.semantic_dedup(emb, "vec_id", "embedding", threshold=thr,
                            target_cell_size=50, iters=2).toPandas()
    check_min_id_rule(two)


def test_two_level_cells_edge_shapes(spark, monkeypatch):
    """Degenerate inputs: a single vector, a corpus smaller than
    target_cell_size (one coarse cell, one fine cell), and NULL
    vectors (excluded, like every clustering entry point)."""
    from dataprofiler_spark.operators import clustering as cl

    one = spark.createDataFrame([(1, [0.5, 0.25])],
                                "id long, v array<double>")
    out = cl.two_level_cells(one, "id", "v", target_cell_size=10,
                             iters=2).collect()
    assert len(out) == 1 and out[0]["cluster"] == 0
    assert abs(out[0]["ck"] - 1.0) < 1e-12   # own centroid == itself

    small = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(5)] + [(9, None)],
        "id long, v array<double>")
    rows = cl.two_level_cells(small, "id", "v", target_cell_size=100,
                              iters=1).collect()
    assert len(rows) == 5               # NULL vector has no cell
    assert len({r["cluster"] for r in rows}) == 1  # n << target: 1 cell

    # semantic_dedup on the two-level path over the degenerate corpus
    # still keeps exactly the min-id member of each ε-ball
    monkeypatch.setattr(cl, "TWO_LEVEL_MIN_K", 1)
    sd = cl.semantic_dedup(
        spark.createDataFrame([(i, [1.0, 0.0]) for i in range(4)],
                              "id long, v array<double>"),
        "id", "v", threshold=0.9, target_cell_size=2).collect()
    kept = sorted(r["id"] for r in sd if r["keep"])
    cells = {r["id"]: r["cluster"] for r in sd}
    # identical vectors: whoever shares a cell with a lower id drops
    expect = {i for i in cells
              if not any(j < i and cells[j] == cells[i] for j in cells)}
    assert set(kept) == expect


def test_kmeans_fit_multi_matches_oracle(spark, duck):
    """Every spec of the fused multi-spec fit (one init collect + one
    scan per Lloyd round for ALL specs) must equal the DuckDB
    ``_kmeans_ctes`` oracle run over that spec's slice alone,
    BIT-FOR-BIT — the integer partial sums are order-independent, so
    regrouping by a spec key cannot drift. Covers: disjoint PQ-style
    slices, an overlapping full-vector spec (the ivf_pq coarse+books
    fusion; ``kmeans_fit`` is this spec alone), mixed per-spec iters,
    and the k > ASSIGN_EXPR_MAX_K kernel path."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    n, dim = 120, 8
    rows = [(i, [float(x) for x in rng.normal(0, 1, dim)])
            for i in range(n)]
    df = spark.createDataFrame(rows, "id long, v array<double>")

    specs = [(0, 4, 3, 2), (4, 4, 5, 1), (None, None, 2, 2),
             (2, 4, 18, 2)]           # last one forces the kernel path
    fused = cl.kmeans_fit_multi(df, "id", "v", specs)
    assert fused[2] == cl.kmeans_fit(df, "id", "v", k=2, iters=2)

    duck.register("km_multi", pd.DataFrame(
        {"id": [r[0] for r in rows], "v": [r[1] for r in rows]}))
    try:
        for (start, width, k, iters), got in zip(specs, fused):
            start, width = start or 0, width or dim
            ctes = cl._kmeans_ctes(
                "km_multi", "id", "v", k, iters, width,
                vec_expr=f"(v::DOUBLE[])[{start + 1}:{start + width}]")
            want = [list(r[0]) for r in duck.sql(
                f"WITH {ctes} SELECT v FROM c{iters} ORDER BY cl"
            ).fetchall()]
            assert got == want, (start, width, k, iters)
    finally:
        duck.unregister("km_multi")

    # k > n guard
    with pytest.raises(ValueError, match="exceeds"):
        cl.kmeans_fit_multi(df, "id", "v", [(0, 4, n + 1, 1)])


def test_band_bucket_structs_expr_matches_per_plane(spark):
    """The fused one-literal-matrix band-bucket expression (r12) is
    bit-identical to the unfused per-plane lsh_bucket_expr form it
    replaced — same left-fold dot, sign test, and 2^i integer sum —
    including zero vectors (every proj == 0 -> bucket 0) and negatives."""
    import numpy as np

    from dataprofiler_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(40)]
    rows.append((40, [0.0] * 16))
    rows.append((41, [-1.0] * 16))
    df = spark.createDataFrame(rows, "id long, v array<double>")
    planes_sets = sim.band_hyperplanes(16, 3, 5)

    unfused = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 sim.lsh_bucket_expr(F.col("v"), ps).alias("bucket"))
        for b, ps in enumerate(planes_sets)])
    fused = sim.band_bucket_structs_expr(F.col("v"), planes_sets)

    a = (df.select("id", F.explode(unfused).alias("s"))
         .select("id", "s.band", "s.bucket"))
    b = (df.select("id", F.explode(fused).alias("s"))
         .select("id", "s.band", "s.bucket"))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    zero = {(r["band"], r["bucket"]) for r in
            b.where(F.col("id") == 40).collect()}
    assert zero == {(i, 0) for i in range(3)}
