"""Physical-plan assertions: the 100 TB story is only real if Catalyst
actually prunes columns, pushes filters into the parquet scan, broadcasts
small dimensions, and keeps profile expressions inside whole-stage
codegen. These tests pin that down so a refactor can't silently regress
the plan (SURVEY §4: anti-patterns; SCALE.md per-operator arguments).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import *  # noqa: F401,F403  (spark, sf_dir fixtures)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _simple(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cosine_topk_prunes_to_two_columns(spark, sf_dir):
    """Top-k similarity must read only (id, vector) from parquet — a scan
    that drags every column along is wrong at any scale."""
    from dataprofiler_spark.operators import similarity as sim

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    extra = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    plan = _formatted(sim.cosine_topk(emb, "vec_id", "embedding", 0, 10))
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas, plan
    for rs in schemas:
        assert "vec_id" in rs and "embedding" in rs
        for other in extra:  # any extra columns must be pruned
            assert other not in rs
    # the query-vector probe filter reaches the scan
    assert any("PushedFilters" in ln and "EqualTo(vec_id,0)" in ln
               for ln in plan.splitlines()), plan


def test_numeric_profile_prunes_string_columns(spark, sf_dir):
    from dataprofiler_spark.operators import numeric as num

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    plan = _formatted(num.numeric_profile_exact(li))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    for rs in scans:
        assert "l_comment" not in rs and "l_shipinstruct" not in rs


def test_validator_filter_pushed_to_scan(spark, sf_dir):
    """Range/list predicates must reach the parquet reader as
    PushedFilters, not run post-scan only."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    q = li.where(F.col("l_quantity").between(10, 20)).select("l_quantity")
    plan = _formatted(q)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "GreaterThanOrEqual(l_quantity" in pushed
    assert "LessThanOrEqual(l_quantity" in pushed


def test_referential_integrity_broadcasts_small_parent(spark, sf_dir):
    """FK→PK orphan check against a small parent must be a broadcast
    join (no shuffle of the big child)."""
    from dataprofiler_spark.operators import rowstats as rs

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orphans = customer.join(nation,
                            customer["c_nationkey"] == nation["n_nationkey"],
                            "left_anti")
    assert "BroadcastHashJoin" in _simple(orphans) or \
        "BroadcastNestedLoopJoin" in _simple(orphans)
    # and the operator's end-to-end result agrees with plain counts
    out = rs.referential_integrity(customer, nation,
                                   "c_nationkey", "n_nationkey").collect()[0]
    assert out["n_orphans"] == orphans.count()


def test_profile_wide_agg_plan_shape(spark, sf_dir):
    """The wide profile aggregation's load-bearing plan properties:
    map-side partial aggregation (one row per partition crosses the
    single Exchange), vectorized parquet scan, and zero Python-eval
    nodes. (At profile width the agg exceeds spark.sql.codegen.maxFields
    so Spark correctly falls back from whole-stage codegen — the 64KB
    method limit — which is why we assert shape, not codegen.)"""
    from dataprofiler_spark.plans.profile_plan import Profiler, _column_kinds

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    groups = Profiler(li)._wide_agg_expr_groups(_column_kinds(li.schema))
    agg = li.agg(*[e for g in groups for e in g])
    plan = _simple(agg)
    assert "partial_" in plan                       # map-side combine
    assert plan.count("Exchange") == 1              # one row/partition shuffle
    assert "Batched: true" in plan                  # vectorized scan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_narrow_numeric_agg_uses_codegen(spark, sf_dir):
    """A moderate-width numeric aggregation DOES stay inside whole-stage
    codegen — the fallback above is strictly a width effect."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    agg = li.agg(F.min("l_quantity"), F.max("l_quantity"),
                 F.avg("l_extendedprice"), F.var_samp("l_discount"))
    # AQE wraps the plan pre-execution; the codegen explain mode shows
    # the compiled subtrees regardless.
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen" in plan, plan


def test_word_count_single_shuffle(spark, sf_dir):
    """explode → groupBy word is ONE shuffle (map-side partial agg), plus
    the final top-k single-partition rank."""
    from dataprofiler_spark.operators import textstats as ts

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    counts = (docs.where(F.col("text").isNotNull())
              .select(F.explode(F.regexp_extract_all(
                  F.lower(F.col("text")), F.lit(r"\S+"), 0)).alias("word"))
              .groupBy("word").count())
    plan = _simple(counts)
    assert plan.count("Exchange") == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    """Every top-k finalization must compile to TakeOrderedAndProject
    (distributed per-partition heaps), never a global single-partition
    Window over all candidates (round-1 anti-pattern, VERDICT r1 #2)."""
    from dataprofiler_spark.operators import histogram as hg
    from dataprofiler_spark.operators import similarity as sim
    from dataprofiler_spark.operators import textstats as ts

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    for df in (
        sim.cosine_topk(emb, "vec_id", "embedding", 0, 10),
        sim.lsh_topk(emb, "vec_id", "embedding", 0, 10),
        ts.word_counts(docs, "text", 20),
        hg.modes(li, "l_quantity", 5),
    ):
        plan = _simple(df)
        assert "TakeOrderedAndProject" in plan, plan


def test_no_unpartitioned_window_over_data(spark, sf_dir):
    """No operator may sort the full dataset into one partition: any
    Window with an empty partition spec must sit on top of a limit(k) or
    an already-tiny input. We assert the physical plans contain no
    'Window' whose required child distribution is SinglePartition over an
    unlimited scan — approximated here by requiring every Exchange
    SinglePartition to be preceded by a TakeOrderedAndProject or
    per-bucket aggregate in the same plan."""
    from dataprofiler_spark.operators import events as ev
    from dataprofiler_spark.operators import order as od

    from dataprofiler_spark.queries import T

    events = T(spark, sf_dir, "events")
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    for df in (
        ev.rolling_avg(events, "event_id", "value", 100),
        od.order_profile(li, "l_orderkey", ["l_orderkey", "l_linenumber"]),
    ):
        plan = _simple(df)
        if "Exchange SinglePartition" in plan:
            # the only single-partition segments allowed are the k-row /
            # B-row finalizations, which always follow a HashAggregate or
            # TakeOrderedAndProject reduction
            assert ("TakeOrderedAndProject" in plan
                    or "HashAggregate" in plan), plan


def test_wide_agg_groups_bounded(spark, sf_dir):
    """Codegen-compile guard: every wide-agg group stays under the
    bounded width (superlinear Janino cost past ~40 aggregates), and the
    per-type groups together carry every column's battery exactly once."""
    import os
    from dataprofiler_spark.plans.profile_plan import (WIDE_AGG_GROUP_WIDTH,
                                                       Profiler,
                                                       _column_kinds)
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    p = Profiler(li)
    kinds = _column_kinds(li.schema)
    groups = p._wide_agg_expr_groups(kinds)
    assert len(groups) >= 2
    # group 0 (row-level) width scales with column count; per-type groups
    # are hard-bounded by the group width
    for g in groups[1:]:
        assert len(g) <= WIDE_AGG_GROUP_WIDTH
    # every per-column battery lands in exactly one group, whole
    battery = [e for c in kinds.numeric for e in p._numeric_col_exprs(c)] \
        + [e for c in kinds.string for e in p._string_col_exprs(c)] \
        + [e for c in kinds.datetime for e in p._dt_col_exprs(c)]
    assert sum(len(g) for g in groups[1:]) == len(battery)


def test_text_fanout_tokenizes_once(spark, sf_dir):
    """The regexp tokenizer must appear exactly once in each text-fan-out
    plan: explode_no_prefilter prevents InferFiltersFromGenerate from
    duplicating the array expression below the Exchange, and tokens are
    materialized as a column so HOF lambdas never re-tokenize per
    element (O(tokens^2))."""
    from dataprofiler_spark.operators import curation as cu
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _simple(cu.crossdoc_ngram_dup_summary(docs, "doc_id", "text"))
    assert plan.count("regexp_extract_all") == 1, plan
    # substring_dup reuses the occurrence stream on both sides of the
    # corpus-count join (recompute beats caching the window stream at
    # scale) — once per branch, never a third inferred-filter copy.
    plan = _simple(cu.substring_dup_signals(docs, "doc_id", "text"))
    assert plan.count("regexp_extract_all") == 2, plan


def test_repetition_tokenizes_once_per_branch(spark, sf_dir):
    # repetition_signals self-joins (base + bigram agg), so the tokenize
    # projection appears once per branch — but never more (the inferred
    # generate filter would add a third).
    from dataprofiler_spark.operators import curation as cu
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _simple(cu.repetition_signals(docs, "doc_id", "text"))
    assert plan.count("regexp_extract_all") <= 2, plan


def test_grouped_numeric_profile_single_partial_agg(spark, sf_dir):
    """Segmented battery: one partial->final HashAggregate pair (map-side
    combine), no extra shuffles beyond the group exchange."""
    from dataprofiler_spark.operators.numeric import numeric_profile_by_group
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    plan = _simple(numeric_profile_by_group(li, "l_returnflag",
                                            "l_extendedprice"))
    assert plan.count("Exchange") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial -> final


def test_quality_rollup_single_pass(spark, sf_dir):
    """ROLLUP expands grouping sets before the shuffle: one scan, one
    Exchange (plus AQE final), no join between group and total rows."""
    from dataprofiler_spark.operators.textanalysis import quality_rollup
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _simple(quality_rollup(docs, "text", "source"))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "Expand" in plan, plan  # grouping-sets expansion, not a union


def test_funnel_single_user_exchange(spark, sf_dir):
    """All funnel step windows share the user partitioning: one Exchange
    for the window chain + the final 1-row aggregate's Exchange."""
    from dataprofiler_spark.operators.events import funnel
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    plan = _simple(funnel(ev, ["view", "click", "purchase"]))
    # exactly ONE data shuffle keyed on the user column for the whole
    # window chain (the remaining Exchanges belong to the 1-row-output
    # multi-count_distinct Expand aggregation)
    assert plan.count("hashpartitioning(u#") == 1, plan
    assert plan.count("Window") == 3  # one window op per step, same stage


def test_explode_no_prefilter_matches_explode(spark):
    """The helper must be row-for-row equivalent to plain explode() for
    null-free-element arrays (its documented domain): empty arrays and
    NULL arrays drop, elements pass through."""
    from dataprofiler_spark.session import explode_no_prefilter
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, []), (3, None), (4, ["c"])],
        "id long, arr array<string>")
    plain = sorted((r["id"], r["x"]) for r in
                   df.select("id", F.explode("arr").alias("x")).collect())
    helper = sorted((r["id"], r["x"]) for r in
                    explode_no_prefilter(df, "arr", "x", "id").collect())
    assert plain == helper == [(1, "a"), (1, "b"), (4, "c")]


def test_interval_join_no_nested_loop(spark, sf_dir):
    """The bucketized interval join must plan as an EQUI-join on
    (key, bucket) — never BroadcastNestedLoopJoin/CartesianProduct,
    which is what a naive inequality range join degrades to."""
    from dataprofiler_spark.operators.intervals import (
        interval_join_first_day_counts)
    from dataprofiler_spark.queries import T

    plan = _simple(interval_join_first_day_counts(T(spark, sf_dir, "events")))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # it IS a join, just an equi-join


def test_chunking_and_tfidf_prune_scan(spark, sf_dir):
    """Chunking/TF-IDF must read only (id, text) from the documents
    parquet — dragging the embedding/source columns through a token
    explode would multiply scan bytes for nothing."""
    from dataprofiler_spark.operators.chunking import (chunk_summary,
                                                       tfidf_top_terms)
    from dataprofiler_spark.queries import T

    docs = T(spark, sf_dir, "documents")
    for df in (chunk_summary(docs, "doc_id", "text"),
               tfidf_top_terms(docs, "doc_id", "text")):
        plan = _simple(df)
        scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert scans, plan
        data_scans = [ln for ln in scans if "struct<>" not in ln]
        # exactly ONE data scan (tfidf's doc-count scan is metadata-only
        # struct<> — free); df-frequency must NOT re-scan the corpus
        assert len(data_scans) == 1, plan
        assert "doc_id" in data_scans[0] and "text" in data_scans[0]
        assert "embedding" not in data_scans[0]


def test_unigram_logprob_stateless_plan(spark, sf_dir):
    """unigram_logprob_scores is STATELESS: the corpus token total is a
    separate one-column map-side aggregate (second FileScan, text only)
    instead of a persisted per-doc partial — nothing is cached, so
    repeated calls leak no storage memory (the embedding_neardup
    lesson). The expensive explode+groupBy+window lineage still runs
    exactly once (only the final projection reads it)."""
    from dataprofiler_spark.operators.textanalysis import (
        unigram_logprob_scores)
    from dataprofiler_spark.queries import T

    df = unigram_logprob_scores(T(spark, sf_dir, "documents"),
                                "doc_id", "text")
    plan = _simple(df)
    assert "InMemoryTableScan" not in plan, plan
    # the heavy lineage (explode -> tf groupBy -> term window) appears
    # once; the totals branch is a plain scan+agg with no Generate
    assert plan.count("Generate") == 1, plan
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                 .toArray())
    df.count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                .toArray())
    assert after - before == set(), "unigram_logprob persisted state"


def test_mixture_prunes_scan_columns(spark, sf_dir):
    """Mixture sampling must read only (group, id, text) from parquet —
    at 100 TB the keep/drop decision cannot justify dragging the other
    columns through the scan; split_manifest needs only (id, text)."""
    from dataprofiler_spark.operators import mixture as mx
    from dataprofiler_spark.queries import T

    docs = T(spark, sf_dir, "documents")
    summ = mx.data_mixture_summary(docs, "source", "doc_id", "text",
                                   {"src0": 0.5, "src1": 0.5}, 1000)
    plan = _simple(summ)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    for rs in scans:
        assert "n_chars" not in rs and "lang" not in rs, plan

    manifest = mx.split_manifest(docs, "doc_id", "text")
    plan = _simple(manifest)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    for rs in scans:
        assert "source" not in rs and "lang" not in rs, plan


def test_bm25_term_filter_precedes_shuffle(spark, sf_dir):
    """The BM25 candidate-term filter must run directly on the exploded
    token stream (map-side, before any Exchange), so the tf shuffle only
    moves candidate rows; the top-k must be TakeOrderedAndProject and
    the collection constants a broadcast."""
    from dataprofiler_spark.operators import retrieval as rtv

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _simple(rtv.bm25_topk(docs, "doc_id", "text",
                                 "spark window merge vector", k=10))
    assert "TakeOrderedAndProject" in plan, plan
    # The IN-filter on the generated term column appears below the first
    # hash Exchange in the plan text (plans print top-down).
    filt = plan.index(" IN (spark,window,merge,vector)")
    first_hash_exchange = plan.index("Exchange hashpartitioning")
    assert filt > first_hash_exchange, plan  # deeper in tree = later in text
    gen = plan.index("Generate explode")
    assert filt < gen, plan  # filter sits directly above the explode
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_bigram_windows_share_one_exchange(spark, sf_dir):
    """Both corpus-count windows (w1) and (w1,w2) must reuse a single
    hash(w1) exchange — hash(w1) clusters (w1,w2) too."""
    import re

    from dataprofiler_spark.operators import textanalysis as ta

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = _simple(ta.bigram_logprob_scores(docs, "doc_id", "text"))
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    w1_only = [e for e in exchanges if "w1" in e and "w2" not in e]
    w1w2 = [e for e in exchanges if "w1" in e and "w2" in e and "id" not in e]
    assert len(w1_only) == 1, exchanges
    assert not w1w2, exchanges  # the (w1,w2) window reuses hash(w1)


def test_markup_and_domain_plans_stay_jvm_side(spark, sf_dir):
    """Round-6 operators: markup_signals fuses into the scan (zero
    Exchange, zero Python); domain_rollup's plan is two hash
    aggregations + joins with no Python eval and no cartesian blowup;
    zipf's top-terms selection is distributed TakeOrdered."""
    import os

    from dataprofiler_spark.operators import domains as dmn
    from dataprofiler_spark.operators import textanalysis as ta
    from dataprofiler_spark.queries import _DOC_URL_EXPR
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    mk = ta.markup_signals(docs, "doc_id", "text")
    plan = _formatted(mk)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    dr = dmn.domain_rollup(docs.withColumn("url", F.expr(_DOC_URL_EXPR)),
                           "url", "text")
    plan = _formatted(dr)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan, plan
    # column pruning: the dup-hash/quality projection needs text only
    assert "n_chars" not in plan.split("ReadSchema")[-1]

    zf = ta.zipf_vocab_stats(docs, "text", max_rank=50)
    plan = _formatted(zf)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_flat_report_consistent_with_deterministic_slice(spark):
    """The untruncated flat report (full_report_* — rows-only by
    construction, see NO_ORACLE_REASON) must agree value-for-value with
    the ORACLED deterministic slice wherever the two overlap: the flat
    format is the same state rendered another way, so a divergence
    means the flat renderer corrupted a stat the driver hash-checks
    elsewhere."""
    from dataprofiler_spark import Profiler
    from dataprofiler_spark.report import (build_report,
                                           deterministic_report_rows,
                                           flat_dict)

    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    state = Profiler(df).profile()
    flat = flat_dict(build_report(state, output_format="compact"))
    slice_rows = deterministic_report_rows(state)

    # global stats land under global_stats.*
    byname = {(c, s): (vn, vs) for c, s, vn, vs in slice_rows}
    assert float(flat["global_stats.row_count"]) == \
        byname[("__dataset", "row_count")][0]

    # data_stats is positional in the flat format — index it by name
    idx = {v: k.split(".")[1] for k, v in flat.items()
           if k.startswith("data_stats.") and k.endswith(".column_name")}

    # per-column overlap: null_count, min, max, num_zeros/negatives
    checked = 0
    for (col, stat), (vn, vs) in byname.items():
        if col == "__dataset" or vn is None or col not in idx:
            continue
        if stat in ("null_count", "min", "max", "num_zeros",
                    "num_negatives"):
            key = f"data_stats.{idx[col]}.statistics.{stat}"
            if key in flat:
                assert float(flat[key]) == vn, (col, stat)
                checked += 1
    assert checked >= 20  # the overlap is real, not vacuously empty


def _count_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted through a job group. The group
    is a local property of this thread; the plans' thread pools submit
    through ``session.submit_inheriting``, which copies it into their
    threads, so it reaches every job the call submits
    (test_count_jobs_sees_pool_jobs)."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_vector_ops_job_budgets(spark, sf_dir, tmp_path):
    """Per-operator job budgets for the k-means / PQ / ADC family: an
    added Spark action fails here instead of surfacing later as a bench
    drift. kmeans_fit = init collect + 2 per Lloyd round (AQE runs the
    shuffle map stage as its own job); pq_fit = one fused fit; the
    build adds its own fit, the write and the centroid table; the first
    query against an index reads the centroid table and the vectors
    relation into ann_index's driver cache and scans the probed cells,
    a second query against the same index only scans."""
    from dataprofiler_spark.operators import ann_index as ai
    from dataprofiler_spark.operators import clustering as cl

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    path = str(tmp_path / "ivfpq")
    q = [float(x) for x in emb.orderBy("vec_id").head()["embedding"]]
    counts = {
        "kmeans_fit": _count_jobs(spark, lambda: cl.kmeans_fit(
            emb, "vec_id", "embedding", k=4, iters=2)),
        "pq_fit": _count_jobs(spark, lambda: cl.pq_fit(
            emb, "vec_id", "embedding", m=4, k_codes=4, iters=1)),
        "ivf_build": _count_jobs(spark, lambda: ai.ivf_build(
            emb, "vec_id", "embedding", path, n_centroids=4,
            quantizer="det", iters=1, pq_m=4, pq_codes=4, pq_iters=1)),
        "ivf_query_adc": _count_jobs(spark, lambda: ai.ivf_query_adc(
            spark, path, q, k=5, nprobe=2).collect()),
        "ivf_query_adc_warm": _count_jobs(spark, lambda: ai.ivf_query_adc(
            spark, path, q[::-1], k=5, nprobe=2).collect()),
    }
    assert counts == {"kmeans_fit": 5, "pq_fit": 3, "ivf_build": 8,
                      "ivf_query_adc": 4, "ivf_query_adc_warm": 1}


def _next_job_id(spark) -> int:
    """The scheduler's global job counter: every job the session ran,
    from any thread."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_count_jobs_sees_pool_jobs(spark, sf_dir):
    """The profile plan runs its wide-agg groups and its sample job on
    pool threads; each must carry the caller's job group, or
    ``sc.cancelJobGroup`` misses them and a budget undercounts."""
    from dataprofiler_spark import Profiler

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    j0 = _next_job_id(spark)
    n = _count_jobs(spark, lambda: Profiler(li).profile())
    assert n == _next_job_id(spark) - j0


def test_profile_releases_input_checkpoint(spark, sf_dir):
    """The profile plan localCheckpoints an under-partitioned input and
    frees that snapshot once its passes are done: a profile, or a run
    of micro-batch updates, leaves no persisted RDD behind."""
    from dataprofiler_spark import Profiler, StreamingProfiler
    from dataprofiler_spark.queries import T
    from dataprofiler_spark.session import ensure_parallelism

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    assert ensure_parallelism(li) is not li   # the checkpointed path
    before = persisted()
    Profiler(li).profile()
    assert persisted() - before == set()
    ev = T(spark, sf_dir, "events")
    sp = StreamingProfiler()
    for i in range(3):
        sp.update(ev.where(F.col("event_id") % 3 == i))
    assert persisted() - before == set()


def test_profile_engine_job_budgets(spark, sf_dir):
    """Per-operator job budgets for the profile engine, counted as the
    scheduler's global job counter counts them. A profile is one job
    per wide-agg group, the fused counts pass and its AQE stage jobs,
    the sample job and the input checkpoint; the diff adds the bounds
    and side split; each monitor update is one melted pass; the chain's
    components take one round per hop, one action each; pagerank is
    the node count and one eager checkpoint per round, each split into
    AQE stage jobs."""
    from dataprofiler_spark import Profiler, StreamingDriftMonitor
    from dataprofiler_spark.operators.graph import (connected_components,
                                                    pagerank)
    from dataprofiler_spark.plans.diff_plan import diff_snapshots
    from dataprofiler_spark.queries import T
    from dataprofiler_spark.streaming.markov import StreamingMarkov

    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    ev = T(spark, sf_dir, "events")
    batch = ev.where(F.col("event_id") % 4 == 0)
    mon = StreamingDriftMonitor(ev, {"event_type": "categorical",
                                     "value": "numeric"})
    chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "src long, dst long")
    counts = {
        "profile_small": _count_jobs(
            spark, lambda: Profiler(nation).profile()),
        "profile_lineitem": _count_jobs(
            spark, lambda: Profiler(li).profile()),
        "diff_snapshots": _count_jobs(
            spark, lambda: diff_snapshots(ev, "ts")),
        "drift_update": _count_jobs(spark, lambda: mon.update(batch)),
        "markov_update": _count_jobs(
            spark, lambda: StreamingMarkov().update(batch)),
        "connected_components": _count_jobs(
            spark, lambda: connected_components(
                chain, "src", "dst").collect()),
        "pagerank": _count_jobs(
            spark, lambda: pagerank(chain, "src", "dst", iters=3).collect()),
    }
    assert counts == {"profile_small": 17, "profile_lineitem": 22,
                      "diff_snapshots": 21, "drift_update": 2,
                      "markov_update": 5, "connected_components": 31,
                      "pagerank": 28}


def test_connected_components_raises_when_not_converged(spark):
    """A chain needs one round per hop: capped below its diameter the
    propagation is still changing labels, which must raise instead of
    returning a split component; uncapped it converges to one."""
    from dataprofiler_spark.operators.graph import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "src long, dst long")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(chain, "src", "dst", max_iter=2)
    rows = connected_components(chain, "src", "dst").collect()
    assert len(rows) == 6 and {r["component"] for r in rows} == {0}


def test_graph_ops_read_input_once(spark):
    """Each graph operator evaluates its edge input once: a caller's
    edge plan (in the near-dup clusters, the whole MinHash-LSH pair
    plan) is not recomputed per branch or per round. The input is
    tapped with a non-deterministic Python UDF that counts the rows it
    evaluates. A string-id graph with NULL endpoints and a self-loop
    keeps its components: a NULL endpoint leaves the other side an
    isolated node, a self-loop is a singleton."""
    from dataprofiler_spark.operators.graph import (connected_components,
                                                    pagerank)

    evaluated = spark.sparkContext.accumulator(0)

    def tap(x):
        evaluated.add(1)
        return x

    tap_udf = F.udf(tap, "long").asNondeterministic()
    raw = spark.createDataFrame([(0, i) for i in range(1, 21)],
                                "src long, dst long")
    edges = raw.select(tap_udf("src").alias("src"), "dst")
    rows = connected_components(edges, "src", "dst").collect()
    assert len(rows) == 21 and {r["component"] for r in rows} == {0}
    assert evaluated.value == 20
    evaluated.value = 0
    assert len(pagerank(edges, "src", "dst", iters=3).collect()) == 21
    assert evaluated.value == 20

    g = spark.createDataFrame(
        [("a", "b"), ("c", "c"), (None, "d"), ("e", "f"), ("g", "f"),
         (None, None)], "src string, dst string")
    comps = dict(tuple(r) for r in
                 connected_components(g, "src", "dst").collect())
    assert comps == {"a": "a", "b": "a", "c": "c", "d": "d",
                     "e": "e", "f": "e", "g": "e"}


def test_graph_outputs_release_through_unpersist_plan(spark, sf_dir):
    """connected_components and pagerank return their last round's
    localCheckpoint; it is registered on the result, and the operators
    built on the components carry it forward with their own caches. So
    after the final action, unpersist_plan on each output leaves the
    session's persisted RDDs as they were (compared as id sets: earlier
    tests' snapshots may be collected meanwhile). canonical_sample and
    the leakage-free splits are built on neardup_clusters and carry its
    handles too."""
    from dataprofiler_spark.operators.dedup import (canonical_sample,
                                                    neardup_clusters)
    from dataprofiler_spark.operators.graph import (component_summary,
                                                    connected_components,
                                                    pagerank)
    from dataprofiler_spark.operators.mixture import (
        leakage_free_split, leakage_free_split_manifest)
    from dataprofiler_spark.operators.similarity import (
        embedding_neardup_clusters)
    from dataprofiler_spark.session import unpersist_plan

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    chain = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "src long, dst long")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    outputs = {
        "connected_components": lambda: connected_components(
            chain, "src", "dst"),
        "pagerank": lambda: pagerank(chain, "src", "dst", iters=2),
        "component_summary": lambda: component_summary(chain, "src", "dst"),
        "neardup_clusters": lambda: neardup_clusters(docs, "doc_id", "text"),
        "embedding_neardup_clusters": lambda: embedding_neardup_clusters(
            emb, "vec_id", "embedding", threshold=0.9),
        "canonical_sample": lambda: canonical_sample(
            docs, "doc_id", "text", fraction=0.5),
        "leakage_free_split": lambda: leakage_free_split(
            docs, "doc_id", "text"),
        "leakage_free_split_manifest": lambda: leakage_free_split_manifest(
            docs, "doc_id", "text"),
    }
    for name, build in outputs.items():
        before = persisted()
        out = build()
        out.collect()
        assert unpersist_plan(out) > 0, name
        assert persisted() - before == set(), name


def test_counts_cdf_outputs_release_through_unpersist_plan(spark, sf_dir):
    """histogram.counts_cdf takes a localCheckpoint of the range-chunked
    counts and registers it on its frames; every operator built on it
    carries it to its result. So after the final action, unpersist_plan
    on each output leaves the session's persisted RDDs as they were."""
    from dataprofiler_spark.operators import correlation as corr
    from dataprofiler_spark.operators import drift as dr
    from dataprofiler_spark.operators import events as evo
    from dataprofiler_spark.operators import histogram as H
    from dataprofiler_spark.operators.numeric import robust_stats
    from dataprofiler_spark.operators.validators import roc_auc
    from dataprofiler_spark.queries import T
    from dataprofiler_spark.session import unpersist_plan

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    ev = T(spark, sf_dir, "events")
    cols = ["l_quantity", "l_extendedprice"]
    early = F.col("o_orderdate") < "1996-01-01"
    outputs = {
        "spearman_matrix": lambda: corr.spearman_matrix(li, cols),
        "cdf_quantiles": lambda: H.cdf_quantiles(
            li, "l_extendedprice", [0.5]),
        "quantiles": lambda: H.quantiles(li, "l_extendedprice", [0.5]),
        "median_mad": lambda: H.median_mad(li, "l_quantity"),
        "decile_stats": lambda: H.decile_stats(li, "l_extendedprice"),
        "grouped_quantiles": lambda: H.grouped_quantiles(
            li, "l_returnflag", "l_extendedprice", [0.5]),
        "robust_stats": lambda: robust_stats(li, cols),
        "roc_auc": lambda: roc_auc(
            li.select("l_quantity",
                      (F.col("l_returnflag") == "R").alias("y")),
            "l_quantity", "y"),
        "quantile_shift": lambda: dr.quantile_shift(
            orders.where(early), orders.where(~early), "o_totalprice"),
        "daily_volume_anomalies": lambda: evo.daily_volume_anomalies(ev),
        "interarrival_stats": lambda: evo.interarrival_stats(ev),
        "session_stats": lambda: evo.session_stats(ev),
    }
    for name, build in outputs.items():
        before = persisted()
        out = build()
        out.collect()
        assert unpersist_plan(out) > 0, name
        assert persisted() - before == set(), name


def test_spearman_job_budget(spark, sf_dir):
    """spearman_matrix ranks each column through counts_cdf: per column
    the CDF's materializing probe (with its AQE stage jobs), then one
    Pearson aggregate over the rank joins. Four columns at sf0.001."""
    from dataprofiler_spark.operators.correlation import spearman_matrix

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    assert _count_jobs(
        spark, lambda: spearman_matrix(li, cols).collect()) == 30


def test_warm_calls_reuse_generated_code(spark, sf_dir):
    """A warm call must not recompile generated code. One pass of the
    profile / diff / streaming sequence below needs more distinct
    generated classes than Spark's default codegen cache (100) holds,
    so at that size the LRU evicts every class before its next use and
    the second pass recompiles them all. get_spark sizes the cache to
    the engine's working set, so the second pass compiles nothing."""
    from dataprofiler_spark import (Profiler, StreamingDriftMonitor,
                                    StreamingProfiler)
    from dataprofiler_spark.plans.diff_plan import diff_snapshots
    from dataprofiler_spark.queries import T
    from dataprofiler_spark.streaming.markov import StreamingMarkov

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics

    def compilations() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    ev = T(spark, sf_dir, "events")
    batch = ev.where(F.col("event_id") % 4 == 0)
    mon = StreamingDriftMonitor(ev, {"event_type": "categorical",
                                     "value": "numeric"})

    def run():
        Profiler(li).profile()
        diff_snapshots(ev, "ts")
        StreamingProfiler().update(batch)
        mon.update(batch)
        StreamingMarkov().update(batch)

    c0 = compilations()
    run()
    first = compilations() - c0
    c0 = compilations()
    run()
    assert compilations() - c0 == 0, f"warm pass recompiled ({first} cold)"
