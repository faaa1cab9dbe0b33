"""Dedup and vector operators: behavior tests (bucket caps, persisted
IVF / IVF-PQ index recall, pruning and determinism, decontamination,
int8 quantization, embedding covariance, winnowing) — shape and
contract checks beside the oracle-parity rows."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_minhash_bucket_cap_drops_degenerate_bucket(spark):
    """max_bucket_size prunes the O(m^2) pair blowup from one giant
    bucket (e.g. identical boilerplate docs) while keeping normal
    near-dup pairs that bucket together elsewhere."""
    from dataprofiler_spark.operators.dedup import minhash_lsh_pairs

    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(40)]
    near = [(100, "the quick brown fox jumps over the lazy dog tonight"),
            (101, "the quick brown fox jumps over the lazy dog tonite")]
    df = spark.createDataFrame(boiler + near, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
    capped = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5,
                               max_bucket_size=10)
    unc = {(r["id1"], r["id2"]) for r in uncapped.collect()}
    cap = {(r["id1"], r["id2"]) for r in capped.collect()}
    # boilerplate pairs (40*39/2) present uncapped, pruned by the cap
    assert sum(1 for a, b in unc if a < 100) == 40 * 39 // 2
    assert not any(a < 100 and b < 100 for a, b in cap)
    # the genuine small-bucket near-dup pair survives the cap
    assert (100, 101) in unc and (100, 101) in cap


def test_ivf_persisted_index_recall_and_pruning(spark, sf_dir, tmp_path):
    """Build the on-disk IVF index, query it, and check (a) recall vs
    brute-force cosine, (b) the query scan partition-prunes to the
    probed centroid directories."""
    from dataprofiler_spark.operators import ann_index as ai
    from dataprofiler_spark.operators import similarity as sim

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "ivf")
    meta = ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=8)
    assert meta["dim"] == 64 and ai.ivf_meta(path)["metric"] == "cosine"

    q = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    q = [float(x) for x in q]
    exact = [r["vec_id"] for r in
             sim.cosine_topk(emb, "vec_id", "embedding", 0, 10).collect()]
    out = ai.ivf_query(spark, path, q, k=10, nprobe=4, exclude_id=0)
    approx = [r["vec_id"] for r in out.collect()]
    assert len(approx) == 10
    # probing half the centroids should recover most of the true top-10
    assert len(set(exact) & set(approx)) >= 5

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "centroid" in plan, plan
    # and the top-k is the distributed form
    assert "TakeOrderedAndProject" in plan, plan


def test_ivf_query_deterministic_across_builds(spark, sf_dir, tmp_path):
    from dataprofiler_spark.operators import ann_index as ai
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = [float(x) for x in
         emb.where(F.col("vec_id") == 3).collect()[0]["embedding"]]
    outs = []
    for sub in ("a", "b"):
        path = str(tmp_path / sub)
        ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=8)
        outs.append([tuple(r) for r in
                     ai.ivf_query(spark, path, q, k=5, nprobe=3).collect()])
    assert outs[0] == outs[1]


def test_ivf_build_quantizer_variants(spark, sf_dir, tmp_path):
    """'det' (default) must agree with clustering.kmeans_assign cell for
    cell (that is what makes the artifact oracle-checkable end-to-end);
    any other quantizer raises."""
    from dataprofiler_spark.operators import ann_index as ai
    from dataprofiler_spark.operators import clustering as cl

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    det_path = str(tmp_path / "det")
    meta = ai.ivf_build(emb, "vec_id", "embedding", det_path,
                        n_centroids=4, quantizer="det", iters=2)
    assert meta["quantizer"] == "det"
    stored = {r["id"]: r["centroid"] for r in spark.read.parquet(
        os.path.join(det_path, "vectors")).collect()}
    expect = {r["vec_id"]: r["cluster"] for r in cl.kmeans_assign(
        emb, "vec_id", "embedding", k=4, iters=2).collect()}
    assert stored == expect

    for bad in ("mllib", "hnsw"):
        with pytest.raises(ValueError, match="quantizer"):
            ai.ivf_build(emb, "vec_id", "embedding", str(tmp_path / bad),
                         quantizer=bad)


def _adc_rows(rows):
    return [(r["rank"], r["vec_id"], r["approx_d"]) for r in rows]


@pytest.mark.parametrize("pq_codes", [4, 24])
def test_ivf_pq_persisted_matches_inline(spark, sf_dir, tmp_path,
                                         pq_codes):
    """The durable IVF-PQ path (ivf_build(pq_m=..) + ivf_query_adc) must
    reproduce clustering.ivf_pq_topk's ranking exactly for the same
    settings — same coarse cells, same codebooks, same fixed-point ADC
    tables — and its pruned scan must never read the vector column.
    pq_codes=24 (> ASSIGN_EXPR_MAX_K) encodes the codes with the NumPy
    kernel on both sides."""
    from dataprofiler_spark.operators import ann_index as ai
    from dataprofiler_spark.operators import clustering as cl

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "ivfpq")
    meta = ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=4,
                        quantizer="det", iters=1, pq_m=4,
                        pq_codes=pq_codes, pq_iters=1)
    assert meta["pq_m"] == 4

    inline = cl.ivf_pq_topk(emb, "vec_id", "embedding", k_clusters=4,
                            iters=1, m=4, k_codes=pq_codes, pq_iters=1,
                            nprobe=2, n_queries=1, k=5, dim=64).collect()
    qid = inline[0]["query_id"]
    qrow = emb.where(F.col("vec_id") == qid).head()
    out = ai.ivf_query_adc(spark, path, list(qrow["embedding"]), k=5,
                           nprobe=2, exclude_id=qid)
    assert _adc_rows(out.collect()) == _adc_rows(inline)

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "centroid" in plan, plan
    # the serving scan reads codes, never the stored fp32 vectors
    assert "embedding" not in plan.split("ReadSchema")[1][:200], plan

    # a plain rebuild over the PQ index removes its codebooks, and the
    # unbuilt-PQ index refuses ADC queries loudly
    ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=4,
                 quantizer="det", iters=1)
    assert not os.path.exists(os.path.join(path, "_pq_codebooks.json"))
    with pytest.raises(ValueError, match="pq_m"):
        ai.ivf_query_adc(spark, path, list(qrow["embedding"]))


def test_ivf_query_adc_rebuild_same_path_serves_new_index(spark, sf_dir,
                                                          tmp_path):
    """A query reads the index through ann_index's driver cache; a
    rebuild at the same path with other settings (more PQ codes, a
    filtered input) must be served from the new files, exactly as the
    inline ivf_pq_topk ranks the new settings."""
    from dataprofiler_spark.operators import ann_index as ai
    from dataprofiler_spark.operators import clustering as cl

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "ivfpq")
    for src, pq_codes in ((emb, 4), (emb.where(F.col("vec_id") % 3 != 1),
                                     24)):
        ai.ivf_build(src, "vec_id", "embedding", path, n_centroids=4,
                     iters=1, pq_m=4, pq_codes=pq_codes, pq_iters=1)
        inline = cl.ivf_pq_topk(src, "vec_id", "embedding", k_clusters=4,
                                iters=1, m=4, k_codes=pq_codes, pq_iters=1,
                                nprobe=2, n_queries=1, k=5,
                                dim=64).collect()
        qid = inline[0]["query_id"]
        q = list(src.where(F.col("vec_id") == qid).head()["embedding"])
        for _ in range(2):  # the filling query, then a cached one
            assert _adc_rows(ai.ivf_query_adc(
                spark, path, q, k=5, nprobe=2,
                exclude_id=qid).collect()) == _adc_rows(inline)
        cached = ai._INDEX_CACHE[os.path.abspath(path)]
        assert cached.meta["pq_codes"] == pq_codes
        assert len(cached.books[0]) == pq_codes


def test_ivf_index_cache_refills_for_another_context(spark, sf_dir,
                                                     tmp_path):
    """An entry recorded under another SparkContext (a stopped and
    restarted one) is read again, not reused: its relation belongs to
    the dead context."""
    from dataprofiler_spark.operators import ann_index as ai

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "ivfpq")
    ai.ivf_build(emb, "vec_id", "embedding", path, n_centroids=4, iters=1,
                 pq_m=4, pq_codes=4, pq_iters=1)
    q = [float(x) for x in emb.orderBy("vec_id").head()["embedding"]]
    first = ai.ivf_query_adc(spark, path, q, k=5, nprobe=2).collect()
    key = os.path.abspath(path)
    filled = ai._INDEX_CACHE[key]
    assert filled.key[2] == spark.sparkContext.applicationId
    stale = filled._replace(key=filled.key[:2] + ("app-restarted",))
    ai._INDEX_CACHE[key] = stale
    assert ai.ivf_query_adc(spark, path, q, k=5,
                            nprobe=2).collect() == first
    refilled = ai._INDEX_CACHE[key]
    assert refilled is not stale and refilled.key == filled.key


def test_ivf_index_cache_threads_keep_lru_bound(tmp_path, monkeypatch):
    """Threads querying more indexes than the LRU holds: every lookup
    returns its own index's entry, no insert/evict interleaving raises,
    and the cache never grows past its bound. The Spark reads are faked
    (the cache only collects the centroid table and keeps the vectors
    relation), so the threads contend on the cache alone."""
    import json
    import random
    import sys
    import threading
    from collections import OrderedDict
    from types import SimpleNamespace

    from dataprofiler_spark.operators import ann_index as ai

    n_paths = ai._INDEX_CACHE_SIZE + 4
    paths = []
    for i in range(n_paths):
        p = tmp_path / f"ix{i}"
        p.mkdir()
        (p / "_ivf_meta.json").write_text(json.dumps({"n_centroids": i}))
        paths.append(os.path.abspath(p))

    def parquet(p):
        i = paths.index(os.path.dirname(p))
        return SimpleNamespace(path=p, collect=lambda: [
            {"centroid": 1, "center": [float(i)]},
            {"centroid": 0, "center": [-float(i)]}])

    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="a"),
                           read=SimpleNamespace(parquet=parquet))
    monkeypatch.setattr(ai, "_INDEX_CACHE", OrderedDict())
    errors, sizes = [], []

    def worker(w):
        try:
            rng = random.Random(w)  # hits and evicting misses
            for _ in range(500):
                i = rng.randrange(n_paths)
                ix = ai._index(fake, paths[i])
                assert ix.meta == {"n_centroids": i}
                assert ix.centroids == [(0, [-float(i)]), (1, [float(i)])]
                assert ix.vectors.path == os.path.join(paths[i], "vectors")
                sizes.append(len(ai._INDEX_CACHE))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,))
                   for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(sizes) == 8 * 500
    assert max(sizes) <= ai._INDEX_CACHE_SIZE


def test_embedding_decontaminate_semantics(spark, sf_dir):
    """Benchmark members flag themselves (self-cosine 1.0); an empty
    benchmark fails open (nothing contaminated, NULL max); and the
    corpus side is never shuffled (map-side broadcast pass)."""
    import os

    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.similarity import (
        embedding_decontaminate)

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    bench = emb.where(F.col("vec_id") % 37 == 0)
    out = embedding_decontaminate(emb, bench, "vec_id", "embedding",
                                  threshold=0.8)
    got = {r["id"]: r for r in out.collect()}
    bench_ids = [r["vec_id"] for r in bench.select("vec_id").collect()]
    assert bench_ids, "test premise: non-empty benchmark"
    for i in bench_ids:  # self-match => cosine 1.0 => contaminated
        assert got[i]["contaminated"] and \
            got[i]["max_benchmark_cosine"] == 1.0
    assert len(got) == emb.count()

    empty = embedding_decontaminate(
        emb, bench.where(F.lit(False)), "vec_id", "embedding")
    row = empty.limit(1).collect()[0]
    assert row["contaminated"] is False
    assert row["max_benchmark_cosine"] is None

    # corpus rows flow scan -> broadcast nested loop -> project: the only
    # Exchange in the plan belongs to the 1-row benchmark aggregate.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning" not in plan, plan


def test_quantize_int8_error_bound(spark, sf_dir):
    """Int8 reconstruction error can never exceed half a quantization
    step: max_abs_err <= (vmax - vmin) / 255 / 2 (+ float slack) on
    every dimension, and constant dims quantize losslessly."""
    import os

    from dataprofiler_spark.operators import vectorstats as vs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    rows = vs.quantize_int8_stats(emb, "embedding").collect()
    assert len(rows) == 64
    for r in rows:
        half_step = (r["vmax"] - r["vmin"]) / 255 / 2
        assert r["max_abs_err"] <= half_step + 1e-9, r
        assert 0.0 <= r["mean_abs_err"] <= r["max_abs_err"] + 1e-12
        assert r["n_saturated"] >= 2  # the min and max values themselves


def test_quantize_int8_constant_dim(spark):
    """A constant dimension (vmax == vmin) takes the q=0 guard: zero
    error, everything saturated."""
    from dataprofiler_spark.operators import vectorstats as vs

    df = spark.createDataFrame([(i, [1.5, float(i)]) for i in range(10)],
                               "id long, v array<double>")
    rows = {r["dim"]: r for r in vs.quantize_int8_stats(df, "v").collect()}
    assert rows[0]["mean_abs_err"] == 0.0 and rows[0]["max_abs_err"] == 0.0
    assert rows[0]["n_saturated"] == 10


def test_embedding_covariance_semantics(spark):
    """Perfectly linearly dependent dims read corr ±1, independent-ish
    dims read the exact closed form, constant dims read corr NULL."""
    from dataprofiler_spark.operators import vectorstats as vs

    # v = [x, 2x, -x, 7]: dims (0,1) corr 1, (0,2) corr -1, dim 3 const.
    df = spark.createDataFrame(
        [(i, [float(i), 2.0 * i, -1.0 * i, 7.0]) for i in range(10)],
        "id long, v array<double>")
    out = {(r["d1"], r["d2"]): r
           for r in vs.embedding_covariance(df, "v").collect()}
    assert len(out) == 10  # 4*5/2 upper-triangle pairs
    assert out[(0, 1)]["corr"] == 1.0
    assert out[(0, 2)]["corr"] == -1.0
    assert out[(0, 3)]["corr"] is None      # zero-variance partner
    assert out[(3, 3)]["corr"] is None
    assert out[(3, 3)]["cov"] == 0.0
    # var(x) for x=0..9 (sample): 55/6; cov(0,1) = 2*var.
    assert out[(0, 0)]["cov"] == pytest.approx(55 / 6, abs=1e-6)
    assert out[(0, 1)]["cov"] == pytest.approx(2 * 55 / 6, abs=1e-6)
    assert all(r["n"] == 10 for r in out.values())


def test_embedding_covariance_ragged_and_null(spark):
    """NULL vectors contribute nothing; a short vector contributes only
    to the pairs it actually carries (per-pair n, the posexplode rule)."""
    from dataprofiler_spark.operators import vectorstats as vs

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [5.0]), (4, None)],
        "id long, v array<double>")
    out = {(r["d1"], r["d2"]): r
           for r in vs.embedding_covariance(df, "v").collect()}
    assert out[(0, 0)]["n"] == 3
    assert out[(0, 1)]["n"] == 2
    assert out[(1, 1)]["n"] == 2


def test_embedding_covariance_refuses_high_dim(spark):
    """Above max_dim the operator raises BEFORE launching the d^2/2
    explode (loud-cap discipline: VERDICT r5 item 2); max_dim=None is
    the explicit opt-out."""
    from dataprofiler_spark.operators import vectorstats as vs

    wide = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], "id long, v array<double>")
    with pytest.raises(ValueError, match="max_dim"):
        vs.embedding_covariance(wide, "v", max_dim=4)
    # opt-out still works, and the default cap admits normal dims
    assert vs.embedding_covariance(wide, "v", max_dim=None).count() == 36
    assert vs.embedding_covariance(wide, "v").count() == 36


def test_embedding_covariance_oracle_parity_dirty(spark, tmp_path):
    import duckdb

    from dataprofiler_spark.operators import vectorstats as vs
    from tests.oracle_utils import assert_frames_match

    rows = [(1, [0.5, -0.25, 0.0]), (2, [0.125, 0.75, -1.0]),
            (3, None), (4, [0.25]), (5, [0.0, 0.0, 0.0]),
            (6, [1.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    p = str(tmp_path / "emb.parquet")
    df.write.mode("overwrite").parquet(p)
    got = vs.embedding_covariance(spark.read.parquet(p), "v").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW emb AS SELECT * FROM '{p}/*.parquet'")
    want = con.execute(vs.oracle_embedding_covariance_sql(
        "emb", "v", dim=3)).fetchdf()
    assert_frames_match(got, want, "cov_dirty")


def test_cross_source_dup_matrix_semantics(spark):
    """Copies planted across two sources surface as an off-diagonal
    (srcA, srcB) row; internal copies as a diagonal row; NULL source
    labels as '(null)'; pair orientation is normalized."""
    from dataprofiler_spark.operators import dedup as dd

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, boiler, "srcA"),
        (2, boiler, "srcB"),          # cross-source copy
        (3, boiler, "srcA"),          # internal copy in srcA
        (4, boiler, None),            # unlabeled copy
        (5, "completely different text about spark plans", "srcB"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r
           for r in dd.cross_source_dup_matrix(
               df, "doc_id", "text", "source", threshold=0.9).collect()}
    assert out[("srcA", "srcB")]["n_pairs"] == 2      # 1-2, 3-2
    assert out[("srcA", "srcA")]["n_pairs"] == 1      # 1-3
    assert out[("(null)", "srcA")]["n_pairs"] == 2    # 4-1, 4-3
    assert out[("(null)", "srcB")]["n_pairs"] == 1    # 4-2
    assert all(r["avg_jaccard"] == 1.0 for r in out.values())
    assert all(r["source_a"] <= r["source_b"] for r in out.values())


def test_winnow_guarantee_shared_substring(spark):
    """The winnowing guarantee: two docs sharing a substring of length
    >= k + window - 1 (= 8 here) share at least one fingerprint, even
    when the rest of the text is completely different."""
    from dataprofiler_spark.operators import dedup as dd

    shared = "xxQWERTYUIOPxx"  # 14 chars > 8
    rows = [(1, "aaaaaaa " + shared + " bbbbbbb"),
            (2, "ccccccc " + shared + " ddddddd"),
            (3, "totally unrelated content here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dd.winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    bysrc = {i: {r["fp"] for r in fps.where(f"id = {i}").collect()}
             for i in (1, 2, 3)}
    assert bysrc[1] & bysrc[2], "shared substring must share a fingerprint"
    # Whitespace normalization: reformatting doesn't move fingerprints.
    df2 = spark.createDataFrame([(9, "  aaaaaaa   " + shared + "\n bbbbbbb ")],
                                "doc_id long, text string")
    fps9 = {r["fp"] for r in dd.winnow_fingerprints(
        df2, "doc_id", "text", k=5, window=4).collect()}
    assert fps9 == bysrc[1]


def test_winnow_short_and_null_docs(spark):
    from dataprofiler_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [(1, "abcd"), (2, None), (3, ""), (4, "abcde"), (5, "abcdef")],
        "doc_id long, text string")
    out = dd.winnow_fingerprints(df, "doc_id", "text", k=5, window=4)
    got = {r["id"]: r["fp"] for r in out.collect()}
    # <5 chars / NULL / empty -> no fingerprints; 5-6 chars -> exactly
    # the single global-min fingerprint (fewer grams than the window).
    assert set(got) == {4, 5}


def test_winnow_pairs_detect_localized_copy(spark):
    """A plagiarized paragraph inside an otherwise-unique doc surfaces
    as a pair; the overlap coefficient is bounded (0, 1]."""
    from dataprofiler_spark.operators import dedup as dd

    para = "the unique paragraph that was copied verbatim between docs"
    filler1 = " ".join(f"alpha{i} beta{i}" for i in range(30))
    filler2 = " ".join(f"gamma{i} delta{i}" for i in range(30))
    rows = [(1, filler1 + " " + para),
            (2, para + " " + filler2),
            (3, filler1 + " qqzz7 wwxx8 yyvv9")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.winnow_neardup_pairs(df, "doc_id", "text", min_shared=3)
    pairs = {(r["id1"], r["id2"]): r for r in out.collect()}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    assert 0 < r["overlap"] <= 1.0
    # Doc 2 shares no substring >= 8 chars with doc 3: the pair either
    # doesn't form or sits far below the copied-paragraph pair.
    if (2, 3) in pairs:
        assert pairs[(2, 3)]["n_shared"] < r["n_shared"]


def test_winnow_fp_freq_guard_mirrors_oracle(spark, tmp_path):
    import duckdb

    from dataprofiler_spark.operators import dedup as dd
    from tests.oracle_utils import assert_frames_match

    boiler = "shared boilerplate sentence appearing everywhere in corpus"
    rows = [(i, boiler + f" unique tail {i} " + "pad " * i)
            for i in range(12)]
    rows += [(100, None), (101, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    df.write.mode("overwrite").parquet(p)
    got = dd.winnow_neardup_pairs(spark.read.parquet(p), "doc_id", "text",
                                  min_shared=2, max_fp_freq=8).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{p}/*.parquet'")
    want = con.execute(dd.oracle_winnow_neardup_pairs_sql(
        "docs", "doc_id", "text", min_shared=2, max_fp_freq=8)).fetchdf()
    assert_frames_match(got, want, "winnow_guard")


def test_pair_generators_capped_by_default(spark):
    """Safe-by-default skew guards (VERDICT r5 item 3): the pair
    generators default to finite caps; the oracle generators share the
    same default so parity holds; None is the explicit opt-out."""
    from dataprofiler_spark.operators import dedup as dd
    from dataprofiler_spark.operators import similarity as sim
    from dataprofiler_spark.streaming.winnow import StreamingWinnowDup

    assert dd.minhash_lsh_pairs.__kwdefaults__ is None  # positional-or-kw
    import inspect
    for fn in (dd.minhash_lsh_pairs, dd.neardup_clusters,
               dd.simhash_neardup_pairs, dd.cross_source_dup_matrix,
               dd.oracle_minhash_lsh_pairs_sql,
               dd.oracle_neardup_clusters_sql,
               dd.oracle_simhash_neardup_pairs_sql,
               dd.oracle_cross_source_dup_matrix_sql,
               sim.embedding_neardup_pairs,
               sim.embedding_neardup_clusters,
               sim.oracle_embedding_neardup_sql,
               sim.oracle_embedding_neardup_clusters_sql):
        d = inspect.signature(fn).parameters["max_bucket_size"].default
        assert d == dd.DEFAULT_MAX_BUCKET_SIZE, fn.__name__
    for fn in (dd.winnow_neardup_pairs, dd.oracle_winnow_neardup_pairs_sql):
        d = inspect.signature(fn).parameters["max_fp_freq"].default
        assert d == dd.DEFAULT_MAX_FP_FREQ, fn.__name__
    d = inspect.signature(StreamingWinnowDup).parameters[
        "max_probe_matches"].default
    assert d == dd.DEFAULT_MAX_FP_FREQ

    # behavior: a degenerate bucket larger than the cap is dropped by
    # DEFAULT (monkey-low cap via explicit arg = same code path), and
    # None re-enables the quadratic path.
    docs = spark.createDataFrame(
        [(i, "identical boilerplate text body") for i in range(8)]
        + [(100, "a unique document about spark"),
           (101, "a unique document about spark!")],
        "doc_id long, text string")
    capped = dd.minhash_lsh_pairs(docs, "doc_id", "text",
                                  threshold=0.1, max_bucket_size=4)
    uncapped = dd.minhash_lsh_pairs(docs, "doc_id", "text",
                                    threshold=0.1, max_bucket_size=None)
    nc, nu = capped.count(), uncapped.count()
    assert nu >= 28  # the 8-clone clique alone is 28 pairs
    assert nc < nu   # the oversized bucket was dropped pre-join
