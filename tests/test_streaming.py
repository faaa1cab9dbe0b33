"""Structured Streaming smoke: the StreamingProfiler folds real
micro-batches from a file stream (availableNow trigger) into one state;
time-bucket rollup runs as a streaming windowed agg with a watermark."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dataprofiler_spark.streaming.incremental import StreamingProfiler


@pytest.fixture()
def stream_dir(tmp_path, spark, sf_dir):
    """Split lineitem into two parquet files to form a 2-batch file stream."""
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    d = str(tmp_path / "stream")
    (src.where(F.col("l_orderkey") % 2 == 0).coalesce(1)
        .write.mode("overwrite").parquet(d + "/p0"))
    (src.where(F.col("l_orderkey") % 2 == 1).coalesce(1)
        .write.mode("overwrite").parquet(d + "/p1"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    i = 0
    for sub in ("p0", "p1"):
        for f in os.listdir(f"{d}/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{d}/{sub}/{f}", f"{flat}/part{i}.parquet")
                i += 1
    return flat


def test_streaming_profile_foreachbatch(spark, sf_dir, stream_dir):
    schema = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    sp = StreamingProfiler()
    q = sp.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(120)
    total = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    assert sp.state is not None
    assert sp.state.row_count == total
    assert sp.batches_seen >= 2
    whole_mean = (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
                  .agg(F.avg("l_quantity")).collect()[0][0])
    assert sp.state.columns["l_quantity"].numeric.mean == \
        pytest.approx(whole_mean, rel=1e-9)


def test_streaming_time_bucket_rollup(spark, tmp_path):
    """The batch rollup query shape runs unchanged under readStream with a
    watermark (append-mode windowed agg)."""
    events = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 5}:00:00", float(i)) for i in range(50)],
        "id long, ts_s string, value double",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    src = str(tmp_path / "ev")
    events.write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value")))
    out = []
    q = (agg.writeStream.outputMode("update")
         .foreachBatch(lambda df, bid: out.extend(df.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(out) == 5
    assert sum(r["n"] for r in out) == 50


def test_count_min_sketch_mode(spark, sf_dir):
    """CMS heavy-hitter path (categorical_column_profile.py:62-133 →
    Spark's count_min_sketch aggregate): sketches are produced and
    mergeable binary state."""
    from dataprofiler_spark.operators.categorical import category_counts_cms

    df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    row = category_counts_cms(df, ["l_returnflag", "l_linestatus"]).collect()[0]
    assert isinstance(row["l_returnflag"], (bytes, bytearray))
    assert len(row["l_returnflag"]) > 0


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first occurrence of each
    text fingerprint; duplicate arriving within the horizon is dropped.
    Whitespace/case normalization makes 'A  B' a duplicate of 'a b'."""
    from dataprofiler_spark.streaming.incremental import streaming_exact_dedup

    rows = [
        (1, "hello world", "2024-01-01 00:00:00"),
        (2, "HELLO   world", "2024-01-01 00:01:00"),   # near-identical dup
        (3, "different doc", "2024-01-01 00:02:00"),
        (4, "hello world", "2024-01-01 00:03:00"),     # exact dup
    ]
    df = spark.createDataFrame(rows, "id long, text string, ts_s string") \
        .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    src = str(tmp_path / "docs")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = []
    q = (streaming_exact_dedup(stream, "id", "text", "ts", "10 minutes")
         .writeStream.outputMode("append")
         .foreachBatch(lambda d, bid: out.extend(d.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # One survivor per fingerprint class; which member survives is
    # processing-order-dependent within a micro-batch.
    kept = sorted(r["id"] for r in out)
    assert len(kept) == 2
    assert kept[1] == 3 or kept[0] == 3
    assert any(k in (1, 2, 4) for k in kept)


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-closed sessions emit
    immediately; the trailing session emits via event-time timeout once
    the watermark passes it."""
    from dataprofiler_spark.streaming.incremental import streaming_sessionize

    def ev(uid, minute, value):
        return (uid, f"2024-01-01 {minute // 60:02d}:{minute % 60:02d}:00",
                float(value))

    batch1 = [ev(1, 0, 1), ev(1, 10, 2),          # user1 session A
              ev(2, 5, 5)]                        # user2 session A
    # user1's 0:50 event is >30m after 0:10 → closes session A
    batch2 = [ev(1, 50, 3),
              ev(2, 300, 7)]                      # 5h later: closes u2-A,
                                                  # and advances watermark
                                                  # far past u1's 0:50
    src = str(tmp_path / "sess")
    os.makedirs(src)
    for i, rows in enumerate([batch1, batch2]):
        (spark.createDataFrame(rows, "user_id long, ts_s string, value double")
         .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
         .coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    n = 0
    for i in range(2):
        for f in sorted(os.listdir(f"{src}/b{i}")):
            if f.endswith(".parquet"):
                dst = f"{flat}/part{n}.parquet"
                shutil.copy(f"{src}/b{i}/{f}", dst)
                # distinct mtimes pin the file-source batch order (the
                # interval-merge state logic tolerates disorder, but the
                # assertions below are written for in-order batches)
                os.utime(dst, (1700000000 + n, 1700000000 + n))
                n += 1
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    out = []
    q = (streaming_sessionize(stream, gap="30 minutes",
                              watermark_delay="1 minute")
         .writeStream.outputMode("append")
         .foreachBatch(lambda d, bid: out.extend(d.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    sessions = {(r["user_id"], r["session_start"].minute,
                 r["n_events"], r["total_value"]) for r in out}
    # user1 session A: 2 events (0:00-0:10), value 3.0 — closed by gap
    assert (1, 0, 2, 3.0) in sessions
    # user2 session A: 1 event at 0:05, value 5.0 — closed by gap/watermark
    assert (2, 5, 1, 5.0) in sessions
    # user1's 0:50 single-event session: watermark (5:00 - 1m) passed its
    # 30m timeout → emitted by the state timeout path
    assert any(u == 1 and s == 50 for u, s, _, _ in sessions)


def test_streaming_sessionize_native(spark, tmp_path):
    """Built-in session_window variant: strict watermark-closed sessions
    with the same grouping semantics."""
    from dataprofiler_spark.streaming.incremental import (
        streaming_sessionize_native)

    rows = [(1, "2024-01-01 00:00:00", 1.0),
            (1, "2024-01-01 00:10:00", 2.0),
            (1, "2024-01-01 02:00:00", 4.0),   # new session, advances wm
            (2, "2024-01-01 00:05:00", 5.0)]
    df = (spark.createDataFrame(rows, "user_id long, ts_s string, value double")
          .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s"))
    src = str(tmp_path / "nat")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = []
    q = (streaming_sessionize_native(stream, gap="30 minutes",
                                     watermark_delay="1 minute")
         .writeStream.outputMode("append")
         .foreachBatch(lambda d, bid: out.extend(d.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["session_start"].strftime("%H:%M"),
            r["n_events"], r["total_value"]) for r in out}
    # sessions fully below the final watermark (01:59) are emitted
    assert (1, "00:00", 2, 3.0) in got
    assert (2, "00:05", 1, 5.0) in got


def test_streaming_neardup_store(spark, tmp_path):
    """Incremental LSH dedup: batch-2 docs near-identical to batch-1 docs
    are flagged against the persistent signature store; novel docs pass
    and their signatures are appended."""
    from dataprofiler_spark.streaming.neardup import StreamingNearDup

    b1 = [(1, "the quick brown fox jumps over the lazy dog tonight"),
          (2, "completely different content about spark aggregation")]
    b2 = [(3, "the quick brown fox jumps over the lazy dog tonite"),  # ~dup of 1
          (4, "a genuinely novel document with fresh wording here")]
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        (spark.createDataFrame(rows, "id long, text string")
         .coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    n = 0
    for i in range(2):
        for f in sorted(os.listdir(f"{src}/b{i}")):
            if f.endswith(".parquet"):
                dst = f"{flat}/part{n}.parquet"
                shutil.copy(f"{src}/b{i}/{f}", dst)
                os.utime(dst, (1700000000 + n, 1700000000 + n))
                n += 1
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    nd = StreamingNearDup(str(tmp_path / "store"), bands=2)
    q = nd.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(180)

    assert nd.batches_seen == 2
    flagged_ids = {i for _, i in nd.flagged}
    assert 3 in flagged_ids          # near-dup of doc 1 from batch 1
    assert 4 not in flagged_ids      # novel doc passes
    # survivors' signatures are in the store; flagged doc 3's are not
    store = spark.read.parquet(str(tmp_path / "store" / "keys"))
    ids = {r["id"] for r in store.select("id").distinct().collect()}
    assert ids == {1, 2, 4}


def test_streaming_neardup_verify_threshold(spark, tmp_path):
    """verify_threshold layers exact jaccard over the bucket probe: the
    tonight/tonite pair LSH-buckets together, but a 0.99 threshold
    rejects it while 0.5 confirms it."""
    from dataprofiler_spark.streaming.neardup import StreamingNearDup

    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "id long, text string")
    b2 = spark.createDataFrame(
        [(3, "the quick brown fox jumps over the lazy dog tonite")],
        "id long, text string")
    for thr, expect_flag in ((0.99, False), (0.5, True)):
        nd = StreamingNearDup(str(tmp_path / f"s{thr}"), bands=2,
                              verify_threshold=thr)
        nd.update(b1, 0)
        nd.update(b2, 1)
        flagged = {i for _, i in nd.flagged}
        assert (3 in flagged) == expect_flag, (thr, flagged)


def test_neardup_store_compaction(spark, tmp_path):
    """Compaction preserves the exact key set while shrinking the file
    count of the append-heavy store."""
    import glob
    from dataprofiler_spark.streaming.neardup import compact_store
    from dataprofiler_spark.operators.dedup import minhash_band_buckets

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some words") for i in range(20)],
        "id long, text string")
    # simulate many small appends
    for lo in range(0, 20, 5):
        part = docs.where((F.col("id") >= lo) & (F.col("id") < lo + 5))
        (minhash_band_buckets(part, "id", "text", bands=2)
         .write.mode("append").partitionBy("band").parquet(store))
    before = spark.read.parquet(store)
    before_rows = {tuple(r) for r in before.select("id", "band", "bucket").collect()}
    files_before = len(glob.glob(f"{store}/*/*.parquet"))

    n = compact_store(spark, store)
    after = spark.read.parquet(store)
    assert n == len(before_rows)
    assert {tuple(r) for r in
            after.select("id", "band", "bucket").collect()} == before_rows
    files_after = len(glob.glob(f"{store}/*/*.parquet"))
    assert files_after < files_before
    assert files_after <= 2  # one file per band


def test_neardup_compaction_crash_recovery(spark, tmp_path):
    """compact_store self-heals every leftover state a crash can leave:
    (a) parked .compact-old with no live store -> restored; (b) stale
    .compact-old next to a live store -> removed; (c) stale .compact-tmp
    -> removed. After recovery the key set is exactly preserved."""
    import shutil as sh
    from dataprofiler_spark.operators.dedup import minhash_band_buckets
    from dataprofiler_spark.streaming.neardup import compact_store

    store = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(i, f"document number {i} with some words") for i in range(10)],
        "id long, text string")
    (minhash_band_buckets(docs, "id", "text", bands=2)
     .write.mode("append").partitionBy("band").parquet(store))
    want = {tuple(r) for r in spark.read.parquet(store)
            .select("id", "band", "bucket").collect()}

    # (a) crash between the two moves: store parked, nothing live
    sh.move(store, store + ".compact-old")
    assert not os.path.isdir(store)
    compact_store(spark, store)
    assert {tuple(r) for r in spark.read.parquet(store)
            .select("id", "band", "bucket").collect()} == want
    assert not os.path.isdir(store + ".compact-old")
    assert not os.path.isdir(store + ".compact-tmp")

    # (b)+(c) crash before cleanup: stale park + stale partial tmp
    sh.copytree(store, store + ".compact-old")
    os.makedirs(store + ".compact-tmp")
    compact_store(spark, store)
    assert {tuple(r) for r in spark.read.parquet(store)
            .select("id", "band", "bucket").collect()} == want
    assert not os.path.isdir(store + ".compact-old")
    assert not os.path.isdir(store + ".compact-tmp")


def test_neardup_corrupt_store_raises(spark, tmp_path):
    """A corrupt signature store must fail the batch loudly, not read as
    empty (silently unflagged batches would pollute the dedup history)."""
    import pytest
    from dataprofiler_spark.streaming.neardup import StreamingNearDup

    nd = StreamingNearDup(str(tmp_path / "store"), bands=2)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "id long, text string")
    nd.update(b1, 0)
    # corrupt every parquet footer in the keys table
    keys = str(tmp_path / "store" / "keys")
    for root, _, files in os.walk(keys):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        nd.update(b1, 1)


def test_neardup_store_ttl_retention_plateaus(spark, tmp_path):
    """Under periodic compaction with a retention watermark the store
    size plateaus instead of growing without bound, while recall within
    the horizon holds: a near-dup of a recent doc is still flagged, a
    near-dup of a pruned (ancient) doc is not — the documented TTL
    semantics."""
    from dataprofiler_spark.streaming.neardup import (StreamingNearDup,
                                                      compact_store)

    nd = StreamingNearDup(str(tmp_path / "store"), bands=2)
    base = ("alpha{0} bravo{0}x charlie{0}y delta{0}z echo{0}w "
            "foxtrot{0}v golf{0}u hotel{0}t india{0}s juliet{0}r")
    sizes = []
    retention = 3
    for b in range(8):
        rows = [(b * 10 + j, base.format(b * 10 + j))
                for j in range(5)]
        nd.update(spark.createDataFrame(rows, "id long, text string"), b)
        if b >= retention:
            compact_store(spark, nd._keys_path,
                          min_batch=b - retention + 1)
        sizes.append(spark.read.parquet(nd._keys_path).count())
    # growth plateaus: the last compacted sizes stay at the horizon size
    assert sizes[-1] == sizes[-2] == sizes[-3]
    assert sizes[-1] < sizes[2] * 3  # nowhere near 8-batch linear growth

    # recall within horizon: near-dup of a batch-7 doc flagged
    recent_dup = spark.createDataFrame(
        [(900, base.format(71) + " tail")], "id long, text string")
    nd.update(recent_dup, 8)
    assert any(i == 900 for _, i in nd.flagged)
    # a pruned batch-0 doc is outside the horizon: its near-dup passes
    ancient_dup = spark.createDataFrame(
        [(901, base.format(1) + " tail")], "id long, text string")
    nd.update(ancient_dup, 9)
    assert not any(i == 901 for _, i in nd.flagged)


def test_neardup_sets_compaction(spark, tmp_path):
    """Verify-mode sets table coalesces + prunes with the same protocol."""
    from dataprofiler_spark.streaming.neardup import (StreamingNearDup,
                                                      compact_sets)

    nd = StreamingNearDup(str(tmp_path / "store"), bands=2,
                          verify_threshold=0.5)
    for b in range(4):
        rows = [(b * 10 + j, f"document {b}-{j} body text {j * 7}")
                for j in range(3)]
        nd.update(spark.createDataFrame(rows, "id long, text string"), b)
    before = spark.read.parquet(nd._sets_path).count()
    n = compact_sets(spark, nd._sets_path, min_batch=2)
    after = spark.read.parquet(nd._sets_path)
    assert n == after.count() == before - 6  # two batches pruned
    assert set(after.select("batch").distinct().toPandas()["batch"]) == {2, 3}


def test_neardup_streaming_session_recovers_parked_store(spark, tmp_path):
    """A compact_store crash between its two moves must NOT cost the
    dedup history when the next access is a streaming session rather
    than a compaction: read_store restores the parked store first."""
    import shutil as sh

    from dataprofiler_spark.streaming.neardup import StreamingNearDup

    nd = StreamingNearDup(str(tmp_path / "store"), bands=2)
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight")],
        "id long, text string")
    nd.update(b1, 0)
    # simulate the crash: history parked, live dir gone
    sh.move(nd._keys_path, nd._keys_path + ".compact-old")
    dup = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog tonite")],
        "id long, text string")
    nd.update(dup, 1)
    assert any(i == 9 for _, i in nd.flagged)  # history survived
    assert not os.path.isdir(nd._keys_path + ".compact-old")


def test_streaming_quality_filter_matches_batch(spark, sf_dir, tmp_path):
    """quality_weighted_sample and the mixture filters are stateless
    projections+filters, so they run unchanged on a readStream: the
    union of per-batch survivors equals the batch-mode answer exactly
    (deterministic md5 decision — no RNG, no state, no watermark)."""
    from dataprofiler_spark.operators.mixture import quality_weighted_sample

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    flat = str(tmp_path / "docstream")
    os.makedirs(flat)
    for i, pred in enumerate((F.col("doc_id") % 2 == 0,
                              F.col("doc_id") % 2 == 1)):
        part = str(tmp_path / f"p{i}")
        docs.where(pred).coalesce(1).write.parquet(part)
        for f in os.listdir(part):
            if f.endswith(".parquet"):
                shutil.copy(f"{part}/{f}", f"{flat}/part{i}.parquet")
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    out: list = []
    q = (quality_weighted_sample(stream, "doc_id", "text", strength=1.2)
         .writeStream
         .foreachBatch(lambda d, bid: out.extend(
             r["doc_id"] for r in d.select("doc_id").collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    expect = sorted(
        r["doc_id"] for r in
        quality_weighted_sample(docs, "doc_id", "text", strength=1.2)
        .select("doc_id").collect())
    assert sorted(out) == expect and len(expect) > 0


def test_streaming_ner_spans(spark, tmp_path):
    """Char-span NER is a stateless mapInPandas, so the same operator
    runs unchanged under readStream — entity extraction keeps up with a
    document stream with no batch-mode special-casing."""
    from dataprofiler_spark.labeler.ner import (load_unstructured_model,
                                                predict_text_spans)
    import pytest as _pytest
    if load_unstructured_model() is None:
        _pytest.skip("CNN weights unavailable")

    rows = [(1, "call 555-867-5309 now"),
            (2, "mail jane@example.com today"),
            (3, "no entities in this one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "nerdocs")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    out = []
    q = (predict_text_spans(stream, "doc_id", "text")
         .writeStream.outputMode("append")
         .foreachBatch(lambda d, bid: out.extend(d.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    ents = {(r["id"], r["entity"]) for r in out}
    assert (1, "PHONE_NUMBER") in ents
    assert (2, "EMAIL_ADDRESS") in ents
    for r in out:  # offsets must slice the original text
        text = dict(rows)[r["id"]]
        assert text[r["start"]:r["end"]] == r["token"]


def test_streaming_semantic_decontaminate(spark, tmp_path):
    """embedding_decontaminate is a stateless broadcast scorer: the same
    operator flags a streaming corpus against a static benchmark."""
    from dataprofiler_spark.operators.similarity import (
        embedding_decontaminate)

    bench_vec = [1.0, 0.0, 0.0, 0.0]
    rows = [(1, [1.0, 0.0, 0.0, 0.0]),     # identical -> contaminated
            (2, [0.0, 1.0, 0.0, 0.0]),     # orthogonal -> clean
            (3, [0.9, 0.1, 0.0, 0.0])]     # close -> contaminated
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = str(tmp_path / "vecs")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)
    bench = spark.createDataFrame([(0, bench_vec)],
                                  "vec_id long, embedding array<double>")
    out = []
    q = (embedding_decontaminate(stream, bench, "vec_id", "embedding",
                                 threshold=0.8)
         .writeStream.outputMode("append")
         .foreachBatch(lambda d, bid: out.extend(d.collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["id"]: r["contaminated"] for r in out}
    assert got == {1: True, 2: False, 3: True}


def test_streaming_embedding_decon_store(spark, tmp_path):
    """Persisted benchmark LSH store + per-micro-batch probe
    (VERDICT r4 item 8): batch docs whose embedding near-matches a
    frozen benchmark vector are flagged with their max cosine; novel
    docs pass; results agree with the batch operator's banded
    candidate+verify semantics on the same (bands, planes) settings."""
    import math

    from dataprofiler_spark.streaming.embedding_decon import (
        StreamingEmbeddingDecon, build_benchmark_store)

    dim = 8

    def unit(seedvals):
        n = math.sqrt(sum(x * x for x in seedvals))
        return [x / n for x in seedvals]

    bench_v = unit([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])
    near_v = unit([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.3])  # cos ~0.999
    far_v = unit([8.0, -7.0, 6.0, -5.0, 4.0, -3.0, 2.0, -1.0])
    bench = spark.createDataFrame([(100, bench_v)],
                                  "id long, v array<double>")
    store = str(tmp_path / "bench_store")
    meta = build_benchmark_store(bench, "id", "v", store, bands=4,
                                 planes_per_band=4, dim=dim)
    assert meta["dim"] == dim

    b1 = [(1, near_v), (2, far_v)]
    b2 = [(3, bench_v), (4, far_v)]
    src = str(tmp_path / "docs")
    for i, rows in enumerate([b1, b2]):
        (spark.createDataFrame(rows, "id long, v array<double>")
         .coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    n = 0
    for i in range(2):
        for f in sorted(os.listdir(f"{src}/b{i}")):
            if f.endswith(".parquet"):
                dst = f"{flat}/part{n}.parquet"
                shutil.copy(f"{src}/b{i}/{f}", dst)
                os.utime(dst, (1700000000 + n, 1700000000 + n))
                n += 1
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    mon = StreamingEmbeddingDecon(store, id_col="id", vec_col="v",
                                  threshold=0.95)
    q = mon.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(180)

    assert mon.batches_seen == 2
    by_id = {i: cos for _, i, cos in mon.flagged}
    assert set(by_id) == {1, 3}          # near-dup + exact member
    assert by_id[3] == 1.0               # exact benchmark member
    assert by_id[1] >= 0.99
    # the frozen store is never appended to
    ids = {r["id"] for r in spark.read.parquet(store + "/keys")
           .select("id").distinct().collect()}
    assert ids == {100}


def test_streaming_nb_classifier_scoring(spark, tmp_path):
    """A fitted NB model scores micro-batches statelessly: per-batch
    predictions equal the batch-mode predictions on the same rows (the
    lp table is a broadcast literal — no state store)."""
    from dataprofiler_spark.operators import nbclassify as nbc

    train = spark.createDataFrame(
        [(0, "cat cat purr", "pet"), (1, "cat purr purr", "pet"),
         (2, "stock stock yield", "fin"), (3, "stock yield yield", "fin")],
        "id long, text string, lbl string")
    model = nbc.nb_fit(train, "text", "lbl", vocab_cap=100)

    rows = [(10, "purr cat"), (11, "yield stock stock"), (12, "cat")]
    src = str(tmp_path / "docs")
    (spark.createDataFrame(rows, "id long, text string")
     .coalesce(1).write.mode("overwrite").parquet(src))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    got: list = []
    # the per-doc score aggregation runs per micro-batch (foreachBatch),
    # the same shape as StreamingDriftMonitor / StreamingEmbeddingDecon
    q = (stream.writeStream
         .foreachBatch(lambda d, bid: got.extend(
             nbc.nb_predict(d, "id", "text", model).collect()))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    preds = {r["id"]: r["pred_label"] for r in got}
    assert preds == {10: "pet", 11: "fin", 12: "pet"}


def test_profile_history_and_drift_timeline(spark, sf_dir, tmp_path):
    """Per-batch snapshots persist as mergeable JSON; the timeline
    replays the batch diff API across consecutive snapshots, and the
    per-column PSI series flags the interval where the distribution
    actually moved."""
    from dataprofiler_spark.streaming.history import (ProfileHistory,
                                                      drift_series,
                                                      drift_timeline,
                                                      load_history)

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    base = orders.where(F.col("o_orderpriority") != "1-URGENT")
    shifted = orders.where(F.col("o_orderpriority") == "1-URGENT")

    src = str(tmp_path / "stream")
    for i, part in enumerate([base.limit(300), base.limit(500),
                              shifted]):
        part.coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    n = 0
    for i in range(3):
        for f in sorted(os.listdir(f"{src}/b{i}")):
            if f.endswith(".parquet"):
                dst = f"{flat}/part{n}.parquet"
                shutil.copy(f"{src}/b{i}/{f}", dst)
                os.utime(dst, (1700000000 + n, 1700000000 + n))
                n += 1

    hist = ProfileHistory(str(tmp_path / "snaps"))
    schema = orders.schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    q = hist.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(180)

    snaps = load_history(str(tmp_path / "snaps"))
    assert len(snaps) == 3
    tl = drift_timeline(str(tmp_path / "snaps"))
    assert len(tl) == 2 and all("diff" in e for e in tl)

    # batch arrival order is nondeterministic — identify the URGENT-only
    # interval by its PSI: the transition in/out of it must dominate
    series = drift_series(str(tmp_path / "snaps"), "o_orderpriority",
                          "psi")
    vals = [v for _, v in series if v is not None]
    assert len(vals) == 2
    assert max(vals) > 0.2  # the distribution shift interval screams


def test_streaming_winnow_store(spark, tmp_path):
    """Incremental localized-copy detection: a batch-2 doc that copies a
    passage from a batch-1 doc is flagged against the persistent
    fingerprint store even though the rest of its text is new; novel
    docs pass and their fingerprints are appended."""
    from dataprofiler_spark.streaming.winnow import StreamingWinnowDup

    passage = "the exact sentence that gets plagiarized word for word"
    b1 = [(1, passage + " inside an otherwise ordinary first document"),
          (2, "completely different content about spark aggregation")]
    b2 = [(3, "fresh framing text but then " + passage + " appears again"),
          (4, "a genuinely novel document with new wording throughout")]
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for i, rows in enumerate([b1, b2]):
        (spark.createDataFrame(rows, "id long, text string")
         .coalesce(1).write.mode("overwrite").parquet(f"{src}/b{i}"))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    n = 0
    for i in range(2):
        for f in sorted(os.listdir(f"{src}/b{i}")):
            if f.endswith(".parquet"):
                dst = f"{flat}/part{n}.parquet"
                shutil.copy(f"{src}/b{i}/{f}", dst)
                os.utime(dst, (1700000000 + n, 1700000000 + n))
                n += 1
    schema = spark.read.parquet(f"{src}/b0").schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(flat))
    wd = StreamingWinnowDup(str(tmp_path / "store"), min_shared=3)
    q = wd.attach(stream).trigger(availableNow=True).start()
    q.awaitTermination(180)

    assert wd.batches_seen == 2
    flagged_ids = {i for _, i in wd.flagged}
    assert 3 in flagged_ids          # copied the passage from doc 1
    assert 4 not in flagged_ids      # novel doc passes
    store = spark.read.parquet(str(tmp_path / "store" / "fps"))
    ids = {r["id"] for r in store.select("id").distinct().collect()}
    assert ids == {1, 2, 4}          # flagged doc 3's fps not appended
    # compaction (shared with the LSH store) preserves the rows
    from dataprofiler_spark.streaming.neardup import compact_store
    from dataprofiler_spark.streaming.winnow import WINNOW_STORE_SCHEMA
    total = store.count()
    assert compact_store(spark, str(tmp_path / "store" / "fps"),
                         schema=WINNOW_STORE_SCHEMA) == total


def test_streaming_winnow_compaction_roundtrip(spark, tmp_path):
    """VERDICT r5 item 7: across N appended batches, compaction (a)
    leaves probe results IDENTICAL pre/post, and (b) bounds the store's
    file count (append-per-batch growth collapses to
    target_files_per_band files per band)."""
    from dataprofiler_spark.streaming.winnow import (StreamingWinnowDup,
                                                     WINNOW_STORE_SCHEMA)
    from dataprofiler_spark.streaming.neardup import compact_store

    passage = "one canonical paragraph that later documents will copy"
    store = str(tmp_path / "store")
    wd = StreamingWinnowDup(store, min_shared=3, n_bands=4)
    # N=4 appended batches of novel docs (each batch = one parquet write)
    for b in range(4):
        rows = [(10 * b + j,
                 f"batch {b} doc {j} distinct words run{b}x{j} "
                 + (passage if b == 0 and j == 0 else ""))
                for j in range(3)]
        wd.update(spark.createDataFrame(rows, "id long, text string"), b)

    fps_path = str(tmp_path / "store" / "fps")

    def probe_flags():
        probe = spark.createDataFrame(
            [(900, "entirely new text then " + passage + " copied"),
             (901, "fully novel probe document nothing shared")],
            "id long, text string")
        # score without mutating the real store: probe a throwaway copy
        import shutil as sh
        tmp = str(tmp_path / "probe_store")
        if os.path.isdir(tmp):
            sh.rmtree(tmp)
        sh.copytree(store, tmp)
        w3 = StreamingWinnowDup(tmp, min_shared=3, n_bands=4)
        w3.update(probe, 99)
        return sorted(w3.flagged)

    def files_per_band():
        import glob
        return {d: len(glob.glob(os.path.join(fps_path, d, "*.parquet")))
                for d in os.listdir(fps_path) if d.startswith("band=")}

    before_flags = probe_flags()
    before_files = files_per_band()
    total = spark.read.schema(WINNOW_STORE_SCHEMA).parquet(fps_path).count()
    assert any(n >= 2 for n in before_files.values())  # growth is real

    n = compact_store(spark, fps_path, target_files_per_band=1,
                      schema=WINNOW_STORE_SCHEMA)
    assert n == total                       # nothing lost
    after_files = files_per_band()
    assert all(c == 1 for c in after_files.values())   # bounded
    assert probe_flags() == before_flags               # identical flags
    # the copied-passage probe is flagged, the novel one is not
    assert {i for _, i in before_flags} == {900}


def test_streaming_semantic_dedup(spark, tmp_path):
    """Streaming SemDeDup: within-batch min-id rule, cross-batch
    first-seen-wins vs the persisted exemplar store, NULL vectors
    skipped, and re-ingesting a batch admits nothing new (store growth
    bounded by content diversity)."""
    from pyspark.sql import functions as F

    from dataprofiler_spark.streaming.semdedup import (
        StreamingSemanticDedup, build_semdedup_store)

    e1 = [1.0, 0.0, 0.0, 0.0]
    e2 = [0.0, 1.0, 0.0, 0.0]
    e3 = [0.0, 0.0, 1.0, 0.0]
    sample = spark.createDataFrame(
        [(i, v) for i, v in enumerate([e1, e2, e3] * 4)],
        "id long, v array<double>")
    path = str(tmp_path / "sem_store")
    meta = build_semdedup_store(sample, "id", "v", path, k_clusters=3,
                                iters=2, threshold=0.9)
    assert len(meta["centroids"]) == 3

    dd = StreamingSemanticDedup(path, "id", "v")
    # batch 0: 10/11 near-dup of e1 (min-id 10 kept), 20 lone, NULL row
    b0 = spark.createDataFrame(
        [(10, e1), (11, [0.99, 0.01, 0.0, 0.0]), (20, e2), (30, None)],
        "id long, v array<double>")
    dd.update(b0, 0)
    assert dd.stats[-1] == (0, 3, 2)          # 10 and 20 admitted
    kept = spark.read.parquet(f"{path}/kept")
    assert sorted(r["id"] for r in kept.collect()) == [10, 20]

    # batch 1: 40 duplicates the STORED exemplar 10 (dropped,
    # first-seen-wins), 50 is novel (admitted)
    b1 = spark.createDataFrame(
        [(40, [0.995, 0.005, 0.0, 0.0]), (50, e3)],
        "id long, v array<double>")
    dd.update(b1, 1)
    assert dd.stats[-1] == (1, 2, 1)
    kept_ids = sorted(r["id"] for r in
                      spark.read.parquet(f"{path}/kept").collect())
    assert kept_ids == [10, 20, 50]

    # re-ingest batch 0: everything is a dup of the store now
    dd.update(b0, 2)
    assert dd.stats[-1] == (2, 3, 0)
    assert sorted(r["id"] for r in
                  spark.read.parquet(f"{path}/kept").collect()) == \
        [10, 20, 50]
