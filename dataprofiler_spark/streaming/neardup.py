"""Streaming near-duplicate detection against a persistent signature
store — the incremental-dedup pattern a production ingest pipeline runs:
each micro-batch is LSH-probed against everything ingested before it,
flagged docs are dropped (or routed), and the survivors' signatures are
appended to the store.

Shape per batch (foreachBatch — the store read/append is a batch-side
effect Structured Streaming's stateful operators can't express):

1. (id, band, bucket) keys for the batch via the SAME banded-MinHash
   construction as the batch operator (operators/dedup.py) — map-side.
2. LEFT-SEMI join of batch keys against the store → ids whose ANY band
   bucket has been seen before (candidate near-dups of earlier docs).
3. Survivors' keys appended to the store (parquet, append mode).

Semantics: a doc is flagged when it LSH-matches any PRIOR-batch doc;
within-batch duplicates are intentionally not flagged here (run the
batch pair/cluster operators on the batch when that matters). Candidate
precision is governed by the band/row operating point exactly as in
``minhash_lsh_pairs``; setting ``verify_threshold`` layers an
exact-jaccard verify join over stored shingle-hash sets (the store then
also keeps ``sets/``), making the flag semantically equal to a
``minhash_lsh_pairs`` hit against all prior batches.

Scale: ``keys/`` holds bands × docs fixed-width rows, partitioned by
``band`` so the probe join prunes to matching band partitions; ``sets/``
(verify mode) holds one hashed-shingle array per doc, joined only for
candidate ids. Append writes are small per batch. Compact the store
periodically (compact_store) as with any append-heavy parquet table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STORE_SCHEMA = "id long, band int, bucket string, batch long"
SETS_SCHEMA = "id long, hs array<bigint>, batch long"


def restore_parked(path: str) -> bool:
    """Restore a store that a compaction crash parked at
    ``<path>.compact-old`` with no live ``path`` (a crash between the
    two moves of :func:`compact_store`); return whether ``path`` exists
    afterwards. Run it BEFORE reading path-missing as "empty store":
    otherwise the session appends fresh rows, and the next compaction
    discards the park as stale — permanent silent loss."""
    old = path.rstrip("/") + ".compact-old"
    if not os.path.isdir(path) and os.path.isdir(old):
        shutil.move(old, path)
    return os.path.isdir(path)


def read_store(spark: SparkSession, path: str,
               schema: str) -> DataFrame | None:
    """The append store at ``path``, or None when it does not exist yet.
    After :func:`restore_parked`, path-missing is the only "empty store"
    signal. A corrupt or unreadable store RAISES, never reads as empty —
    that would pass every later batch unflagged and append its rows,
    permanently polluting the dedup history (false negatives, no
    error)."""
    if not restore_parked(path):
        return None
    return spark.read.schema(schema).parquet(path)


class StreamingNearDup:
    """foreachBatch hook: flag near-dups of previously-ingested docs and
    grow the signature store.

    ``flagged`` accumulates (batch_id, id) pairs driver-side for
    inspection/tests; production pipelines route the flagged DataFrame
    to a sink instead."""

    def __init__(self, store_path: str, id_col: str = "id",
                 text_col: str = "text", k: int = 3, num_hashes: int = 12,
                 bands: int = 2, verify_threshold: float | None = None):
        self.store_path = store_path
        self.id_col, self.text_col = id_col, text_col
        self.k, self.num_hashes, self.bands = k, num_hashes, bands
        self.verify_threshold = verify_threshold
        self.flagged: list[tuple[int, int]] = []
        self.batches_seen = 0

    @property
    def _keys_path(self) -> str:
        return os.path.join(self.store_path, "keys")

    @property
    def _sets_path(self) -> str:
        return os.path.join(self.store_path, "sets")

    def _flag_candidates(self, keys: DataFrame, wide: DataFrame,
                         store_keys: DataFrame, spark: SparkSession
                         ) -> set[int]:
        """Candidate batch ids whose any band bucket was seen before,
        optionally confirmed by exact jaccard vs stored shingle sets."""
        cand_pairs = (
            keys.alias("b")
            .join(store_keys.alias("s"),
                  (F.col("b.band") == F.col("s.band"))
                  & (F.col("b.bucket") == F.col("s.bucket")))
            .select(F.col("b.id").alias("bid"), F.col("s.id").alias("sid"))
            .distinct())
        if self.verify_threshold is None:
            return {r["bid"] for r in
                    cand_pairs.select("bid").distinct().collect()}
        store_sets = read_store(spark, self._sets_path, SETS_SCHEMA)
        if store_sets is None:
            return set()
        batch_sets = wide.select("id", "hs")
        inter = F.size(F.array_intersect("bhs", "shs"))
        verified = (
            cand_pairs
            .join(batch_sets.select(F.col("id").alias("bid"),
                                    F.col("hs").alias("bhs")), "bid")
            .join(store_sets.select(F.col("id").alias("sid"),
                                    F.col("hs").alias("shs")), "sid")
            .where(inter.cast("double")
                   / (F.size("bhs") + F.size("shs") - inter)
                   >= self.verify_threshold))
        return {r["bid"] for r in verified.select("bid").distinct().collect()}

    def update(self, batch_df: DataFrame, batch_id: int) -> None:
        from dataprofiler_spark.operators.dedup import (_band_buckets,
                                                        _minhash_wide)

        spark = batch_df.sparkSession
        wide = _minhash_wide(batch_df, self.id_col, self.text_col,
                             self.k, self.num_hashes).persist()
        try:
            keys = _band_buckets(wide, self.num_hashes, self.bands)
            store_keys = read_store(spark, self._keys_path, STORE_SCHEMA)
            flagged: set[int] = set()
            if store_keys is not None:
                # flagged sets are tiny per batch; a production pipeline
                # would route a flagged DataFrame to a sink instead
                flagged = self._flag_candidates(keys, wide, store_keys, spark)
            self.flagged.extend((batch_id, i) for i in sorted(flagged))
            # survivor filter as a broadcast anti-join, not isin(): a
            # heavily-duplicated batch could flag thousands of ids, and
            # a literal IN-list that long is a degenerate expression tree
            flagged_df = None
            if flagged:
                flagged_df = F.broadcast(spark.createDataFrame(
                    [(i,) for i in flagged], "id long"))
            surviving = keys if flagged_df is None else keys.join(
                flagged_df, "id", "left_anti")
            # batch tag enables TTL retention at compaction time
            (surviving.withColumn("batch", F.lit(batch_id).cast("long"))
             .write.mode("append").partitionBy("band")
             .parquet(self._keys_path))
            if self.verify_threshold is not None:
                sets = wide.select("id", "hs")
                if flagged_df is not None:
                    sets = sets.join(flagged_df, "id", "left_anti")
                (sets.withColumn("batch", F.lit(batch_id).cast("long"))
                 .write.mode("append").parquet(self._sets_path))
        finally:
            wide.unpersist()
        self.batches_seen += 1

    def attach(self, stream_df: DataFrame):
        return stream_df.writeStream.foreachBatch(self.update)


def _compact(spark: SparkSession, path: str, schema: str,
             min_batch: int | None, write) -> int:
    """The crash-safe rewrite both compactions share (protocol in
    :func:`compact_store`): recover leftovers of a crashed prior run,
    read and retention-prune the store, ``write(df, tmp)`` the rewrite
    beside it, then swap it in. Returns the rewritten row count."""
    tmp = path.rstrip("/") + ".compact-tmp"
    old = path.rstrip("/") + ".compact-old"
    restore_parked(path)                  # crash between the two moves
    if os.path.isdir(old):
        shutil.rmtree(old)                # crash before cleanup: stale park
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)                # stale partial rewrite
    df = spark.read.schema(schema).parquet(path)
    if min_batch is not None:
        df = df.where(F.col("batch").isNull()
                      | (F.col("batch") >= min_batch))
    write(df, tmp)
    n = spark.read.schema(schema).parquet(tmp).count()
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)
    return n


def compact_store(spark: SparkSession, keys_path: str,
                  target_files_per_band: int = 1,
                  min_batch: int | None = None,
                  schema: str = STORE_SCHEMA) -> int:
    """Rewrite an append-heavy band-partitioned keys table with large
    files (``target_files_per_band`` per band partition) — run between
    streaming sessions, not concurrently with one. Returns the row
    count.

    ``min_batch`` is the retention watermark: signatures from batches
    older than it are dropped at rewrite time, bounding store growth for
    unbounded streams (dedup then means "near-dup of anything within the
    retention horizon" — the standard TTL semantics of a streaming dedup
    store). Rows from pre-batch-tag stores (NULL batch) are kept.

    Crash safety: the rewrite goes to a sibling ``.compact-tmp`` dir, the
    original is parked at ``.compact-old``, the tmp is moved into place,
    then the parked copy is removed. The two moves are NOT one atomic
    step — instead, leftover state from a crashed prior run is recovered
    up front: a parked ``.compact-old`` with no live ``keys`` (crash
    between the moves) is restored as the store; a parked copy alongside
    a live store (crash before cleanup) is stale and removed; a leftover
    ``.compact-tmp`` is always a stale partial rewrite and removed. So a
    rerun of compact_store (or the next streaming session calling it)
    self-heals; never delete the ``.compact-*`` dirs by hand after a
    crash without checking which case applies. (For a verify-mode store,
    pass ``<store>/keys``; the ``sets/`` table can be coalesced the same
    way without the band partitioning.)"""
    return _compact(
        spark, keys_path, schema, min_batch,
        lambda df, tmp: (df.repartition(target_files_per_band, "band")
                         .write.mode("overwrite").partitionBy("band")
                         .parquet(tmp)))


def compact_sets(spark: SparkSession, sets_path: str,
                 target_files: int = 1,
                 min_batch: int | None = None) -> int:
    """Coalesce + retention-prune the verify-mode ``sets/`` table (one
    hashed-shingle array per surviving doc). Same crash-safety protocol
    as :func:`compact_store`; no band partitioning."""
    return _compact(
        spark, sets_path, SETS_SCHEMA, min_batch,
        lambda df, tmp: (df.repartition(target_files)
                         .write.mode("overwrite").parquet(tmp)))


def oracle_streaming_neardup_sql(table: str, id_col: str, text_col: str,
                                 k: int = 3, num_hashes: int = 12,
                                 bands: int = 2,
                                 verify_threshold: float | None = None
                                 ) -> str:
    """SQL twin of a deterministic two-batch replay through
    :class:`StreamingNearDup`: batch = id % 2, batch 0 first. Mirrors
    the hook's exact semantics — batch 0 probes an EMPTY store (never
    flagged, its keys append), batch 1 is flagged when ANY of its band
    buckets matches a batch-0 survivor key; with ``verify_threshold``
    the candidate must also pass exact jaccard against the stored
    shingle-hash set (unrounded double compare, same as the hook —
    exact-input IEEE division, engine-identical). Output: (id, batch,
    flagged) for every doc that produces a signature."""
    from dataprofiler_spark.operators.dedup import (MINHASH_PRIME,
                                                    _duck_shingles,
                                                    _perm_coeffs)

    rows = num_hashes // bands
    coeffs = _perm_coeffs(num_hashes)
    mins = ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs))
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, md5("
        + " || ',' || ".join(f"CAST(mh{b * rows + r} AS VARCHAR)"
                             for r in range(rows))
        + ") AS bucket FROM mins"
        for b in range(bands))
    if verify_threshold is None:
        f1 = """
f1 AS (
  SELECT DISTINCT b1.id FROM b1 JOIN b0
    ON b1.band = b0.band AND b1.bucket = b0.bucket
)"""
    else:
        inter = "len(list_intersect(sb.hs, ss.hs))"
        f1 = f"""
cand AS (
  SELECT DISTINCT b1.id AS bid, b0.id AS sid FROM b1 JOIN b0
    ON b1.band = b0.band AND b1.bucket = b0.bucket
),
f1 AS (
  SELECT DISTINCT c.bid AS id
  FROM cand c
  JOIN shf sb ON sb.id = c.bid
  JOIN shf ss ON ss.id = c.sid
  WHERE CAST({inter} AS DOUBLE)
        / (len(sb.hs) + len(ss.hs) - {inter}) >= {verify_threshold}
)"""
    return f"""
WITH sh0 AS ({_duck_shingles(table, id_col, text_col, k)}),
shf AS (
  SELECT id, list_distinct(list_transform(sh,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs
  FROM sh0
),
hashes AS (
  SELECT shf.id, u.h60 // 268435456 AS h
  FROM shf, UNNEST(shf.hs) u(h60)
),
mins AS (
  SELECT id,
         {mins}
  FROM hashes GROUP BY id
),
buckets0 AS (
{band_selects}
),
b0 AS (SELECT * FROM buckets0 WHERE id % 2 = 0),
b1 AS (SELECT * FROM buckets0 WHERE id % 2 = 1),{f1}
SELECT d.id, CAST(d.id % 2 AS INT) AS batch,
       f1.id IS NOT NULL AS flagged
FROM (SELECT DISTINCT id FROM buckets0) d
LEFT JOIN f1 ON d.id = f1.id
"""
