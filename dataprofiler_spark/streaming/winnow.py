"""Streaming localized-copy detection against a persistent winnowing
fingerprint store — the MOSS-style complement to StreamingNearDup:
MinHash flags whole-document near-dups; winnowing flags a stream doc
that COPIES A PASSAGE (≥ k + window − 1 chars) from any prior doc, even
when the rest of the document is new.

Shape per batch (foreachBatch — the store read/append is a batch-side
effect):

1. (id, fp) winnowing fingerprints of the batch — map-side
   (operators/dedup.winnow_fingerprints, same k/window as the batch
   operator).
2. Probe join against the store on (band, fp) — ``band = fp % n_bands``
   is the partition column, so the join prunes to matching partitions
   (the StreamingNearDup keys layout with a derived band).
3. A batch doc is FLAGGED when it shares ≥ ``min_shared`` fingerprints
   with ONE prior doc (the pair rule of winnow_neardup_pairs, store
   side frozen). Survivors' fingerprints append to the store.

Boilerplate caveat: a fingerprint shared by many prior docs fans the
probe join out; ``max_probe_matches`` (default
``dedup.DEFAULT_MAX_FP_FREQ``, ``None`` = explicit opt-out) caps the
per-fingerprint fan-out
deterministically (fingerprints matching more than the cap are treated
as boilerplate and dropped from the PROBE — they still append for
future exactness audits). Compaction: reuse
streaming/neardup.compact_store with ``schema=WINNOW_STORE_SCHEMA``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataprofiler_spark.operators.dedup import DEFAULT_MAX_FP_FREQ
from dataprofiler_spark.streaming.neardup import read_store

WINNOW_STORE_SCHEMA = "id long, fp long, band int, batch long"


class StreamingWinnowDup:
    """foreachBatch hook: flag docs copying passages from
    previously-ingested docs and grow the fingerprint store.

    ``flagged`` accumulates (batch_id, id) pairs driver-side for
    inspection/tests; production pipelines route a flagged DataFrame to
    a sink instead."""

    def __init__(self, store_path: str, id_col: str = "id",
                 text_col: str = "text", k: int = 5, window: int = 4,
                 min_shared: int = 2, n_bands: int = 16,
                 max_probe_matches: int | None = DEFAULT_MAX_FP_FREQ):
        self.store_path = store_path
        self.id_col, self.text_col = id_col, text_col
        self.k, self.window = k, window
        self.min_shared = min_shared
        self.n_bands = n_bands
        self.max_probe_matches = max_probe_matches
        self.flagged: list[tuple[int, int]] = []
        self.batches_seen = 0

    @property
    def _keys_path(self) -> str:
        return os.path.join(self.store_path, "fps")

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from dataprofiler_spark.operators.dedup import winnow_fingerprints

        spark = batch_df.sparkSession
        # The store schema pins `id long` — cast here so an int32/string
        # id appends the schema the enforced read (and the flagged-ids
        # createDataFrame below) expects, instead of failing at first
        # probe after a successful write.
        fps = (winnow_fingerprints(batch_df, self.id_col, self.text_col,
                                   k=self.k, window=self.window)
               .withColumn("id", F.col("id").cast("long"))
               .withColumn("band",
                           F.pmod(F.col("fp"),
                                  F.lit(self.n_bands)).cast("int"))
               .persist())
        # Loud null-after-cast guard (same contract as
        # embedding_decon.build_benchmark_store): a non-numeric string
        # id would otherwise silently become NULL and corrupt
        # flagged-id reporting downstream.
        if fps.where(F.col("id").isNull()).limit(1).count():
            fps.unpersist()
            raise ValueError(
                f"StreamingWinnowDup: column {self.id_col!r} has values "
                "that do not cast to BIGINT; map ids to integers first "
                "(e.g. xxhash64(id))")
        try:
            store = read_store(spark, self._keys_path, WINNOW_STORE_SCHEMA)
            flagged: set[int] = set()
            if store is not None:
                probe = store
                if self.max_probe_matches is not None:
                    from pyspark.sql.window import Window
                    probe = (probe.withColumn(
                        "__f", F.count(F.lit(1)).over(
                            Window.partitionBy("fp")))
                        .where(F.col("__f") <= self.max_probe_matches)
                        .drop("__f"))
                hits = (fps.alias("b")
                        .join(probe.alias("s"),
                              (F.col("b.band") == F.col("s.band"))
                              & (F.col("b.fp") == F.col("s.fp")))
                        .groupBy(F.col("b.id").alias("bid"),
                                 F.col("s.id").alias("sid"))
                        .agg(F.countDistinct("b.fp").alias("n_shared"))
                        .where(F.col("n_shared") >= self.min_shared))
                flagged = {r["bid"] for r in
                           hits.select("bid").distinct().collect()}
            self.flagged.extend((batch_id, i) for i in sorted(flagged))
            to_append = fps
            if flagged:
                flagged_df = F.broadcast(spark.createDataFrame(
                    [(i,) for i in flagged], "id long"))
                to_append = fps.join(flagged_df, "id", "left_anti")
            (to_append
             .withColumn("batch", F.lit(batch_id).cast("long"))
             .select("id", "fp", "band", "batch")
             .write.mode("append").partitionBy("band")
             .parquet(self._keys_path))
        finally:
            fps.unpersist()
        self.batches_seen += 1

    def attach(self, stream_df: DataFrame):
        return stream_df.writeStream.foreachBatch(self.update)
