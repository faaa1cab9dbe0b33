from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataprofiler_spark import report as rep
from dataprofiler_spark.queries.q_curation import sim
from dataprofiler_spark.operators import clustering as clus
from dataprofiler_spark.operators import ann_index as ai
from dataprofiler_spark.operators import nbclassify as nbc
from dataprofiler_spark.queries._registry import T, register

# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@register("cosine_topk_embeddings",
          sim.oracle_cosine_topk_sql("embeddings", "vec_id", "embedding", 0, 64, 10))
def cosine_topk_embeddings(spark, sf_dir):
    return sim.cosine_topk(T(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0, 10)


@register("lsh_topk_embeddings",
          sim.oracle_lsh_topk_sql("embeddings", "vec_id", "embedding", 0, 10, 4, 64))
def lsh_topk_embeddings(spark, sf_dir):
    return sim.lsh_topk(T(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0,
                        k=10, n_planes=4, dim=64)


@register("embedding_neardup_pairs",
          sim.oracle_embedding_neardup_sql("embeddings", "vec_id", "embedding",
                                           threshold=0.5, bands=4,
                                           planes_per_band=4, dim=64,
                                           max_bucket_size=100))
def embedding_neardup_pairs_q(spark, sf_dir):
    """Banded hyperplane LSH near-dup pairs: 4 bands × 4 planes with the
    max_bucket_size=100 skew guard (a no-op at sf0.01, actively dropping
    dense buckets at sf0.1 — the oracle mirrors the cap so both regimes
    stay hash-green)."""
    return sim.embedding_neardup_pairs(T(spark, sf_dir, "embeddings"),
                                       "vec_id", "embedding", threshold=0.5,
                                       bands=4, planes_per_band=4, dim=64,
                                       max_bucket_size=100)


@register("embedding_decontaminate_embeddings",
          sim.oracle_embedding_decontaminate_sql(
              "embeddings", "vec_id", "embedding",
              bench_pred="vec_id % 37 = 0", dim=64, threshold=0.8))
def embedding_decontaminate_embeddings(spark, sf_dir):
    """Semantic decontamination: max cosine of every corpus vector vs a
    broadcast benchmark subset (vec_id % 37 = 0); one map-side pass,
    zero shuffles."""
    emb = T(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 37 == 0)
    return sim.embedding_decontaminate(emb, bench, "vec_id", "embedding",
                                       threshold=0.8)


@register("embedding_decontaminate_bucketed",
          sim.oracle_embedding_decontaminate_bucketed_sql(
              "embeddings", "vec_id", "embedding",
              bench_pred="vec_id % 37 = 0", dim=64, threshold=0.8,
              bands=4, planes_per_band=4))
def embedding_decontaminate_bucketed(spark, sf_dir):
    """LSH-bucketed semantic decontamination — the scale path for large
    benchmark suites (>10^4 vectors): banded candidate join instead of
    per-row brute force; the broadcast brute-force variant above stays
    the exactness baseline."""
    emb = T(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 37 == 0)
    return sim.embedding_decontaminate_bucketed(
        emb, bench, "vec_id", "embedding", threshold=0.8,
        bands=4, planes_per_band=4)


@register("kmeans_assign_embeddings",
          clus.oracle_kmeans_assign_sql("embeddings", "vec_id", "embedding",
                                        k=4, iters=2, dim=64))
def kmeans_assign_embeddings(spark, sf_dir):
    """Deterministic Lloyd's k-means (broadcast-literal centroids,
    fixed-point integer centroid sums — see operators/clustering.py):
    per-vector cluster assignment, the corpus topic-bucketing input to
    mixture design."""
    return clus.kmeans_assign(T(spark, sf_dir, "embeddings"),
                              "vec_id", "embedding", k=4, iters=2)


@register("cluster_sample_embeddings",
          clus.oracle_cluster_sample_sql("embeddings", "vec_id", "embedding",
                                         k=4, iters=2, dim=64,
                                         per_cluster=25))
def cluster_sample_embeddings(spark, sf_dir):
    """Diversity sampling: per-cluster deterministic hash-rank coreset
    over the k-means assignment — equal representation per topic
    bucket."""
    return clus.cluster_sample(T(spark, sf_dir, "embeddings"),
                               "vec_id", "embedding", k=4, iters=2,
                               per_cluster=25)


@register("kmeans_clusters_embeddings",
          clus.oracle_kmeans_summary_sql("embeddings", "vec_id", "embedding",
                                         k=4, iters=2, dim=64))
def kmeans_clusters_embeddings(spark, sf_dir):
    """Per-cluster rollup (size + inertia) under the same deterministic
    k-means fit."""
    return clus.kmeans_summary(T(spark, sf_dir, "embeddings"),
                               "vec_id", "embedding", k=4, iters=2)


# factor=1.05: the synthetic embeddings are near-uniform (per-cluster
# distance ratios top out at ~1.076), so the generic 2x fence would flag
# nothing — 1.05 flags the real tail (~5%) and keeps both branches of
# the integer comparison exercised.
@register("embedding_outliers_embeddings",
          clus.oracle_embedding_outliers_sql("embeddings", "vec_id",
                                             "embedding", k=4, iters=2,
                                             dim=64, factor=1.05))
def embedding_outliers_embeddings(spark, sf_dir):
    """Distance-to-centroid outlier flags under the deterministic
    k-means fit — the embedding-space analogue of the numeric z-score
    fences; fixed-point integer comparison so the boundary never flips
    between engines."""
    return clus.embedding_outliers(T(spark, sf_dir, "embeddings"),
                                   "vec_id", "embedding", k=4, iters=2,
                                   factor=1.05)


@register("ivf_topk_embeddings",
          clus.oracle_ivf_topk_sql("embeddings", "vec_id", "embedding",
                                   k_clusters=8, iters=2, nprobe=2,
                                   n_queries=5, k=5, dim=64))
def ivf_topk_embeddings(spark, sf_dir):
    """IVF ANN search under the deterministic coarse quantizer: the 5
    smallest-id queries each probe their 2 nearest of 8 k-means cells,
    exact cosine ranks the inverted lists — the in-memory counterpart of
    the persisted IVF index (operators/ann_index; both fit with
    clustering.kmeans_fit)."""
    return clus.ivf_topk_det(T(spark, sf_dir, "embeddings"),
                             "vec_id", "embedding", k_clusters=8,
                             iters=2, nprobe=2, n_queries=5, k=5)


@register("ann_index_query_embeddings",
          ai.oracle_ann_index_query_sql("embeddings", "vec_id",
                                        "embedding", n_centroids=8,
                                        iters=2, nprobe=2, k=5, dim=64))
def ann_index_query_embeddings(spark, sf_dir):
    """END-TO-END persisted IVF index (VERDICT r4 item 5): build the
    artifact with the DETERMINISTIC quantizer (build → parquet
    partitioned by centroid → driver-side probe → partition-pruned
    query), then top-5 cosine neighbours of the smallest-id vector.
    The oracle reproduces the whole chain — centroids, assignment,
    probe ranking, final ranking — because every decision point uses
    the cross-engine-exact k-means algebra.

    Reference parity: the reference has no ANN store; this is the
    LLM-pipeline extension's durable-index path (SCALE.md §ANN)."""
    import tempfile

    emb = T(spark, sf_dir, "embeddings")
    path = os.path.join(tempfile.gettempdir(),
                        f"dps_ann_idx_{abs(hash(sf_dir)) % 10**8}")
    ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=8,
                 quantizer="det", iters=2)
    qrow = (emb.orderBy("vec_id")
            .select("vec_id", "embedding").head())
    return ai.ivf_query(spark, path, list(qrow["embedding"]), k=5,
                        nprobe=2, exclude_id=qrow["vec_id"])


@register("ann_index_pq_query_embeddings",
          "SELECT CAST(rank AS INT) AS rank, vec_id, approx_d FROM ("
          + clus.oracle_ivf_pq_topk_sql("embeddings", "vec_id",
                                        "embedding", k_clusters=4,
                                        iters=1, m=4, k_codes=4,
                                        pq_iters=1, nprobe=2,
                                        n_queries=1, k=5, dim=64)
          + ") t")
def ann_index_pq_query_embeddings(spark, sf_dir):
    """END-TO-END persisted IVF-PQ (VERDICT r9 item 9): ivf_build with
    pq_m stores each vector's m PQ codes next to (id, centroid) in the
    partitioned parquet layout plus the codebooks as a JSON sidecar;
    ivf_query_adc serves asymmetric-distance top-k from the PRUNED
    code columns — the scan reads (id, centroid, code0..3) and never
    the fp32 vectors (ReadSchema-asserted in test_mllib_ops). The
    oracle is the inline ivf_pq_topk chain for the same settings with
    n_queries=1 — the persisted artifact must rank identically to the
    in-memory plan it serializes."""
    import tempfile

    emb = T(spark, sf_dir, "embeddings")
    path = os.path.join(tempfile.gettempdir(),
                        f"dps_ann_pq_idx_{abs(hash(sf_dir)) % 10**8}")
    ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=4,
                 quantizer="det", iters=1, pq_m=4, pq_codes=4,
                 pq_iters=1)
    qrow = emb.orderBy("vec_id").select("vec_id", "embedding").head()
    return ai.ivf_query_adc(spark, path, list(qrow["embedding"]), k=5,
                            nprobe=2, exclude_id=qrow["vec_id"])


@register("nb_source_confusion_documents",
          nbc.oracle_nb_confusion_sql("documents", "doc_id", "text",
                                      "source", vocab_cap=30))
def nb_source_confusion_documents(spark, sf_dir):
    """Closed-form Naive-Bayes domain classifier (the fastText-style
    source/quality classifier of web-corpus pipelines, made
    oracle-exact): fit on (text, source), self-score, report the
    confusion matrix. vocab_cap=30 exercises the frequency cutoff AND
    the out-of-vocabulary smoothing path on this corpus. Fixed-point
    log-likelihood sums keep fit and argmax bit-identical in DuckDB."""
    return nbc.nb_confusion(T(spark, sf_dir, "documents"), "doc_id",
                            "text", "source", vocab_cap=30)


@register("embedding_group_cosines",
          clus.oracle_embedding_group_cosines_sql(
              "embeddings", "vec_id", "embedding", "label", dim=64))
def embedding_group_cosines(spark, sf_dir):
    """Pairwise label-centroid cosine matrix (45 pairs over 10 labels):
    the confusability / semantic-drift map between embedding strata.
    One fixed-point (group, dim) aggregation; engine-exact."""
    return clus.embedding_group_cosines(T(spark, sf_dir, "embeddings"),
                                        "vec_id", "embedding", "label")


@register("pq_audit_embeddings",
          clus.oracle_pq_audit_sql("embeddings", "vec_id", "embedding",
                                   m=4, k_codes=4, iters=1, dim=64))
def pq_audit_embeddings(spark, sf_dir):
    """Product-quantization reconstruction audit (Jégou et al. PQ — the
    IVF-PQ memory layout standard at billion scale): 4 subvectors × 4
    deterministic k-means codes, per-subvector reconstruction error +
    dead-code count. One scan + m-way narrow explode + one m-group
    rollup; fixed-point error sums keep both engines exact."""
    return clus.pq_audit(T(spark, sf_dir, "embeddings"), "vec_id",
                         "embedding", m=4, k_codes=4, iters=1, dim=64)


@register("ivf_pq_topk_embeddings",
          clus.oracle_ivf_pq_topk_sql("embeddings", "vec_id",
                                      "embedding", k_clusters=4,
                                      iters=1, m=4, k_codes=4,
                                      pq_iters=1, nprobe=2, n_queries=5,
                                      k=5, dim=64))
def ivf_pq_topk_embeddings(spark, sf_dir):
    """IVF-PQ ANN search (asymmetric-distance scoring over PQ codes —
    the FAISS IndexIVFPQ layout): coarse cells prune, candidates rank
    by fixed-point ADC table lookups instead of raw dot products.
    Both quantizers are the deterministic k-means, so the oracle
    re-derives every code and table bit-for-bit."""
    return clus.ivf_pq_topk(T(spark, sf_dir, "embeddings"), "vec_id",
                            "embedding", k_clusters=4, iters=1, m=4,
                            k_codes=4, pq_iters=1, nprobe=2,
                            n_queries=5, k=5, dim=64)


@register("ivf_pq_residual_topk_embeddings",
          clus.oracle_ivf_pq_topk_sql("embeddings", "vec_id",
                                      "embedding", k_clusters=4,
                                      iters=1, m=4, k_codes=4,
                                      pq_iters=1, nprobe=2, n_queries=5,
                                      k=5, dim=64, by_residual=True))
def ivf_pq_residual_topk_embeddings(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (the FAISS default): codebooks fit
    on x − centroid[cell(x)], so the same m×k_codes budget reconstructs
    the within-cell spread; the query's ADC tables are re-derived per
    probed cell. Oracle composes the coarse chain, a resid CTE, and
    per-subvector chains over it."""
    return clus.ivf_pq_topk(T(spark, sf_dir, "embeddings"), "vec_id",
                            "embedding", k_clusters=4, iters=1, m=4,
                            k_codes=4, pq_iters=1, nprobe=2,
                            n_queries=5, k=5, dim=64, by_residual=True)


@register("ivf_recall_embeddings",
          clus.oracle_ivf_recall_sql("embeddings", "vec_id", "embedding",
                                     k_clusters=8, iters=2, nprobe=2,
                                     n_queries=5, k=5, dim=64))
def ivf_recall_embeddings(spark, sf_dir):
    """Recall@5 of the IVF index vs exact brute-force cosine over the
    same 5-query probe set — the measurement that tunes nprobe before
    trusting approximate search on the full corpus."""
    return clus.ivf_recall(T(spark, sf_dir, "embeddings"),
                           "vec_id", "embedding", k_clusters=8, iters=2,
                           nprobe=2, n_queries=5, k=5)


@register("label_centroid_audit_embeddings",
          clus.oracle_label_centroid_audit_sql("embeddings", "vec_id",
                                               "embedding", "label",
                                               dim=64))
def label_centroid_audit_embeddings(spark, sf_dir):
    """Mislabel audit: per-label counts of vectors whose nearest
    label-centroid is another label's — the cheap confident-learning
    first pass before a labeled set enters a training mixture."""
    return clus.label_centroid_audit(T(spark, sf_dir, "embeddings"),
                                     "vec_id", "embedding", "label")


@register("hard_negatives_embeddings",
          sim.oracle_hard_negatives_sql("embeddings", "vec_id",
                                        "embedding", "label",
                                        n_queries=5, k=5, dim=64))
def hard_negatives_embeddings(spark, sf_dir):
    """Hard-negative mining: per query, the 5 most-similar vectors with
    a different label — broadcast query frame, one scan, bounded
    per-query window."""
    return sim.hard_negatives(T(spark, sf_dir, "embeddings"),
                              "vec_id", "embedding", "label",
                              n_queries=5, k=5)




@register("semantic_dedup_embeddings",
          clus.oracle_semantic_dedup_sql("embeddings", "vec_id",
                                         "embedding", k_clusters=8,
                                         iters=2, threshold=0.3, dim=64))
def semantic_dedup_embeddings(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means cells as the blocking key,
    min-id ε-ball keep rule within each cell — (id, cluster, keep) for
    every vector; ``WHERE keep`` is the semantic dedup filter.
    threshold=0.3 sits at ~p99 of this corpus's within-cluster cosine
    distribution, so the drop set is non-trivial without being
    degenerate. Pair work is bounded by the cell sizes (n²/k), with a
    max_cluster_size fail-open guard for degenerate cells."""
    return clus.semantic_dedup(T(spark, sf_dir, "embeddings"), "vec_id",
                               "embedding", k_clusters=8, iters=2,
                               threshold=0.3)


@register("semantic_dedup_auto_embeddings",
          clus.oracle_semantic_dedup_sql("embeddings", "vec_id",
                                         "embedding", k_clusters="auto",
                                         target_cell_size=100,
                                         iters=2, threshold=0.3, dim=64))
def semantic_dedup_auto_embeddings(spark, sf_dir):
    """SemDeDup under the auto-k scaling rule — k = ceil(n /
    target_cell_size), the library DEFAULT since r11 (a fixed k makes
    the n²/k pair stage quadratic as the corpus grows; auto-k keeps
    cells ~constant-size so it stays linear, SCALE.md §33). The oracle
    computes the same k as a scalar subquery in the centroid-init
    LIMIT, so the data-dependent k is hash-checked end-to-end;
    target_cell_size=100 puts ~5 cells on the 500-vector driver corpus
    (a real multi-cell regime, not a one-cell degenerate)."""
    return clus.semantic_dedup(T(spark, sf_dir, "embeddings"), "vec_id",
                               "embedding", k_clusters="auto",
                               target_cell_size=100, iters=2,
                               threshold=0.3)


@register("semantic_dedup_centroid_embeddings",
          clus.oracle_semantic_dedup_sql("embeddings", "vec_id",
                                         "embedding", k_clusters="auto",
                                         target_cell_size=100,
                                         iters=2, threshold=0.3, dim=64,
                                         keep="centroid_far"))
def semantic_dedup_centroid_embeddings(spark, sf_dir):
    """SemDeDup under the PAPER's exemplar rule (Abbas et al. 2023 §3:
    within each ε-ball keep the example with the LOWEST cosine to its
    cluster centroid — maximal cell diversity), combined with the
    auto-k default. The priority key is the rounded centroid cosine
    (ties → min id), computed identically in both engines, so the
    policy's every boundary is hash-checked."""
    return clus.semantic_dedup(T(spark, sf_dir, "embeddings"), "vec_id",
                               "embedding", k_clusters="auto",
                               target_cell_size=100, iters=2,
                               threshold=0.3, keep="centroid_far")


def _oracle_streaming_semdedup():
    from dataprofiler_spark.streaming.semdedup import \
        oracle_streaming_semdedup_sql
    return oracle_streaming_semdedup_sql("embeddings", "vec_id",
                                         "embedding", k_clusters=8,
                                         iters=2, threshold=0.3, dim=64)


@register("semantic_dedup_streaming_embeddings",
          _oracle_streaming_semdedup())
def semantic_dedup_streaming_embeddings(spark, sf_dir):
    """StreamingSemanticDedup replayed deterministically: the corpus
    splits into two micro-batches (batch = vec_id % 2), the frozen
    quantizer fits on the full corpus, and the two batches run through
    the REAL foreachBatch hook in order — within-batch min-id ε-ball,
    then first-seen-wins against the partitioned exemplar store. The
    oracle re-derives both stages in SQL, so the streaming operator's
    cross-batch state machine is hash-checked end-to-end (not just
    unit-tested). Output: (id, batch, cluster, kept) per vector."""
    import tempfile

    from dataprofiler_spark.streaming.semdedup import (
        KEPT_SCHEMA, StreamingSemanticDedup, build_semdedup_store)

    emb = (T(spark, sf_dir, "embeddings")
           .where(F.col("embedding").isNotNull())
           .select(F.col("vec_id").cast("long").alias("id"),
                   F.col("embedding").cast("array<double>").alias("v")))
    store = tempfile.mkdtemp(prefix="dps_semdedup_stream_")
    meta = build_semdedup_store(emb, "id", "v", store, k_clusters=8,
                                iters=2, threshold=0.3)
    dd = StreamingSemanticDedup(store, "id", "v")
    for b in (0, 1):
        dd.update(emb.where(F.col("id") % 2 == b), b)
    kept = (spark.read.schema(KEPT_SCHEMA)
            .parquet(f"{store}/kept").select("id")
            .withColumn("__kept", F.lit(1)))
    assigned = emb.select(
        "id",
        clus._assign_expr(F.col("v"), meta["centroids"]).cast("int")
        .alias("cluster"))
    return (assigned.join(kept, "id", "left")
            .select("id", (F.col("id") % 2).cast("int").alias("batch"),
                    "cluster",
                    F.col("__kept").isNotNull().alias("kept")))
