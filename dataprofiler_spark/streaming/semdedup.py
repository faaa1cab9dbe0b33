"""Streaming semantic dedup against a persistent exemplar store — the
SemDeDup operator (operators/clustering.semantic_dedup, Abbas et al.
2023) as a foreachBatch hook: every ingested micro-batch keeps only
documents that are not semantic near-duplicates of (a) an earlier doc
in the same batch or (b) any exemplar already admitted by previous
batches.

Design (the StreamingWinnowDup / StreamingEmbeddingDecon store
pattern):

* The coarse quantizer is FROZEN at store-build time
  (``build_semdedup_store`` fits the deterministic k-means on a
  representative sample and persists the centroids in the meta JSON) —
  a drifting quantizer would re-shuffle cells and break the blocking
  key mid-stream.
* Admitted exemplars persist as ``{path}/kept/`` parquet PARTITIONED BY
  cluster: each batch's probe join reads only the cell partitions the
  batch actually touches (partition pruning — the store can hold the
  whole corpus's exemplars while a batch pays for its own cells).
* Within a batch the keep rule is the batch operator's min-id ε-ball;
  across batches it is FIRST-SEEN-WINS (an exemplar admitted earlier
  drops later arrivals) — the streaming analogue of min-id, and the
  rule any dedup-at-ingest pipeline wants.

State growth is bounded by content diversity, not stream length:
near-duplicate re-ingestion adds nothing to the store.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEPT_SCHEMA = "id long, v array<double>, cluster int"


def build_semdedup_store(sample_df: DataFrame, id_col: str, vec_col: str,
                         path: str, k_clusters: int = 8, iters: int = 2,
                         threshold: float = 0.9,
                         round_digits: int = 6) -> dict:
    """Fit the frozen coarse quantizer on a representative sample and
    initialize an EMPTY exemplar store (the first processed batch
    seeds it)."""
    from dataprofiler_spark.operators.clustering import kmeans_fit

    base = sample_df.where(F.col(vec_col).isNotNull())
    cents = kmeans_fit(base, id_col, vec_col, k=k_clusters, iters=iters)
    os.makedirs(os.path.join(path, "kept"), exist_ok=True)
    spark = sample_df.sparkSession
    # schema-establishing empty write so probe-side reads never race a
    # nonexistent directory
    (spark.createDataFrame([], KEPT_SCHEMA).write.mode("overwrite")
     .partitionBy("cluster").parquet(os.path.join(path, "kept")))
    meta = {"centroids": cents, "k_clusters": k_clusters, "iters": iters,
            "threshold": threshold, "round_digits": round_digits,
            "dim": len(cents[0]) if cents else 0}
    with open(os.path.join(path, "_semdedup_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


class StreamingSemanticDedup:
    """foreachBatch hook: admit only semantically novel documents.

    ``stats`` accumulates (batch_id, seen, kept) driver-side; admitted
    exemplars append to the store. Production pipelines read the kept
    frame via ``on_kept`` (override) to route survivors onward."""

    def __init__(self, store_path: str, id_col: str = "id",
                 vec_col: str = "v"):
        self.store_path = store_path
        self.id_col, self.vec_col = id_col, vec_col
        with open(os.path.join(store_path, "_semdedup_meta.json")) as f:
            self.meta = json.load(f)
        self.stats: list[tuple[int, int, int]] = []
        self.batches_seen = 0

    # -- batch step ---------------------------------------------------------

    def process_batch(self, batch_df: DataFrame) -> DataFrame:
        """(id, v, cluster) of the batch docs that survive both dedup
        stages — pure function of (batch, store); the caller appends."""
        from dataprofiler_spark.operators.clustering import (
            _assign_multi_cols)
        from dataprofiler_spark.operators.similarity import cosine_expr

        meta = self.meta
        thr, rd = meta["threshold"], meta["round_digits"]
        spark = batch_df.sparkSession
        base = (batch_df.where(F.col(self.vec_col).isNotNull())
                .select(F.col(self.id_col).cast("long").alias("id"),
                        F.col(self.vec_col).cast("array<double>")
                        .alias("v")))
        # the one assignment function, one spec: a production store's
        # frozen quantizer can carry hundreds of cells — above k=16 the
        # per-batch assignment runs as the vectorized NumPy kernel
        # (bit-identical); a vector not exactly dim wide raises
        dim = meta["dim"]
        assigned = _assign_multi_cols(
            base, [(0, dim, meta["centroids"])], dim
        ).withColumnRenamed("__cl0", "cluster")

        # stage 1: within-batch min-id ε-ball (the batch operator's rule)
        a, b = assigned.alias("a"), assigned.alias("b")
        cos_ab = F.round(cosine_expr(F.col("a.v"), F.col("b.v")), rd)
        intra_drop = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                             & (F.col("a.id") < F.col("b.id")))
                      .where(cos_ab >= thr)
                      .select(F.col("b.id").alias("id")).distinct())
        survivors = assigned.join(intra_drop, "id", "left_anti")

        # stage 2: vs admitted exemplars — the cluster equi-join prunes
        # the store read to the batch's own cell partitions
        kept = spark.read.schema(KEPT_SCHEMA).parquet(
            os.path.join(self.store_path, "kept"))
        s, k = survivors.alias("s"), kept.alias("k")
        cos_sk = F.round(cosine_expr(F.col("s.v"), F.col("k.v")), rd)
        store_drop = (s.join(k, F.col("s.cluster") == F.col("k.cluster"))
                      .where(cos_sk >= thr)
                      .select(F.col("s.id").alias("id")).distinct())
        return survivors.join(store_drop, "id", "left_anti")

    def on_kept(self, kept_df: DataFrame, batch_id: int) -> None:
        """Default routing: no-op beyond the store append (survivors
        are already durable). Override to forward them to a sink."""

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        # persist: the survivor plan READS the store it is about to
        # append to — without pinning, any re-execution after the
        # append (the write itself, or a sink override's action) would
        # re-resolve the store relation and every survivor would
        # self-match (cosine 1.0 ≥ thr → empty frame). on_kept also
        # runs BEFORE the append for the same reason (ADVICE r10).
        new_kept = self.process_batch(batch_df).persist()
        try:
            seen = batch_df.where(F.col(self.vec_col).isNotNull()).count()
            n_new = new_kept.count()
            self.on_kept(new_kept, batch_id)
            if n_new:
                (new_kept.write.mode("append").partitionBy("cluster")
                 .parquet(os.path.join(self.store_path, "kept")))
        finally:
            new_kept.unpersist()
        self.stats.append((batch_id, seen, n_new))
        self.batches_seen += 1

    def attach(self, stream_df: DataFrame):
        return stream_df.writeStream.foreachBatch(self.update)


def oracle_streaming_semdedup_sql(table: str, id_col: str, vec_col: str,
                                  k_clusters: int = 8, iters: int = 2,
                                  threshold: float = 0.9,
                                  round_digits: int = 6,
                                  dim: int = 64) -> str:
    """SQL twin of a deterministic two-batch replay through
    :class:`StreamingSemanticDedup`: batch = id % 2, quantizer frozen
    on the full corpus, batch 0 processed first. Reproduces both dedup
    stages exactly — the within-batch min-id ε-ball (d0/d1) and the
    first-seen-wins store join (batch 1 survivors vs batch 0's
    admitted exemplars, d1k). Output: (id, batch, cluster, kept) for
    every non-NULL vector."""
    from dataprofiler_spark.operators.clustering import (_duck_sqdist,
                                                         _kmeans_ctes)
    from dataprofiler_spark.operators.similarity import duck_cosine

    sq = _duck_sqdist("e.v", "c.v", dim)
    dot = ("list_sum(list_transform(generate_series(1, {d}),"
           " i -> {a}[i] * {b}[i]))")

    def _near(x: str, y: str) -> str:
        cos = duck_cosine(dot.format(d=dim, a=f"{x}.v", b=f"{y}.v"),
                          dot.format(d=dim, a=f"{x}.v", b=f"{x}.v"),
                          dot.format(d=dim, a=f"{y}.v", b=f"{y}.v"))
        return f"ROUND({cos}, {round_digits}) >= {threshold}"

    return f"""
WITH {_kmeans_ctes(table, id_col, vec_col, k_clusters, iters, dim)},
cells AS (
  SELECT id, v, cl::INT AS cluster FROM (
    SELECT e.id, e.v, c.cl,
           ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sq}, c.cl) AS rn
    FROM e CROSS JOIN c{iters} c)
  WHERE rn = 1
),
b0 AS (SELECT * FROM cells WHERE id % 2 = 0),
b1 AS (SELECT * FROM cells WHERE id % 2 = 1),
d0 AS (
  SELECT DISTINCT b.id FROM b0 a JOIN b0 b
    ON a.cluster = b.cluster AND a.id < b.id
  WHERE {_near("a", "b")}
),
k0 AS (SELECT b0.* FROM b0 LEFT JOIN d0 ON b0.id = d0.id
       WHERE d0.id IS NULL),
d1 AS (
  SELECT DISTINCT b.id FROM b1 a JOIN b1 b
    ON a.cluster = b.cluster AND a.id < b.id
  WHERE {_near("a", "b")}
),
s1 AS (SELECT b1.* FROM b1 LEFT JOIN d1 ON b1.id = d1.id
       WHERE d1.id IS NULL),
d1k AS (
  SELECT DISTINCT s.id FROM s1 s JOIN k0 k ON s.cluster = k.cluster
  WHERE {_near("s", "k")}
),
kept AS (
  SELECT id FROM k0
  UNION ALL
  SELECT s1.id FROM s1 LEFT JOIN d1k ON s1.id = d1k.id
  WHERE d1k.id IS NULL
)
SELECT cells.id, CAST(cells.id % 2 AS INT) AS batch, cells.cluster,
       kept.id IS NOT NULL AS kept
FROM cells LEFT JOIN kept ON cells.id = kept.id
"""
