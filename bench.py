"""Benchmark harness: headline engine queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each row times the implementation its registered query runs, so a row
named after a query measures the code that query's DuckDB oracle checks.

Isolation (VERDICT r4 item 4): co-scheduling ~35 query families in one
JVM pressures the codegen cache and made round-over-round MEANS drift on
otherwise-unchanged operators. By default the suite now runs as one
subprocess PER GROUP (a fresh JVM each: profile / dedup / text / events /
embedding / labeler), so a group's numbers can't be polluted by another
group's compiled-class churn. Headline stays min-of-n within the group.
Set SPARK_GRAFT_BENCH_ISOLATE=0 for the old single-JVM run (fast local
iteration), or SPARK_GRAFT_BENCH_GROUP=<name> to run one group inline.
"""

from __future__ import annotations

import json
import os
import sys
import time

# r7 (VERDICT r6 item 4): the single "embedding" group grew to 14
# queries in one JVM and its numbers degraded uniformly with zero code
# change (codegen-cache crowding). Split into similarity / clustering /
# serving so per-query regression signal returns.
# r11 (VERDICT r10 items 2-3): the "profile" group had grown to 23 —
# decile/grouped-quantiles/benford drifted with zero code change, the
# same crowding signature. Split: "profile" keeps the 7 profiler-plan
# rows (incl. the headline), "stats" the 13 statistical aggregates,
# "joins" the 3 join-strategy rows. jvm_group_of in the payload makes
# future crowding diagnosable from the artifact alone (item 10).
GROUP_ORDER = ["profile", "stats", "joins", "dedup", "text", "events",
               "similarity", "clustering", "serving", "labeler"]


def build_runners(spark, sf_dir):
    """name -> (group, thunk). Import-heavy: only called in worker mode."""
    from pyspark.sql import functions as F

    from dataprofiler_spark import Profiler
    from dataprofiler_spark.operators import categorical as cat
    from dataprofiler_spark.operators import chunking as ck
    from dataprofiler_spark.operators import clustering as clus
    from dataprofiler_spark.operators import correlation as corr
    from dataprofiler_spark.operators import curation as cu
    from dataprofiler_spark.operators import dedup as dd
    from dataprofiler_spark.operators import drift as dr
    from dataprofiler_spark.operators import events as ev
    from dataprofiler_spark.operators import intervals as iv
    from dataprofiler_spark.operators import mixture as mx
    from dataprofiler_spark.operators import numeric as num
    from dataprofiler_spark.operators import rowstats as rs
    from dataprofiler_spark.operators import similarity as sim
    from dataprofiler_spark.operators import textanalysis as ta
    from dataprofiler_spark.operators import validators as vd
    from dataprofiler_spark.queries import T as _T

    def tbl(name):
        return _T(spark, sf_dir, name)

    lineitem = tbl("lineitem")
    orders = tbl("orders")
    documents = tbl("documents")
    embeddings = tbl("embeddings")
    events = tbl("events")

    r: dict[str, tuple[str, object]] = {}

    def add(group, name, fn):
        r[name] = (group, fn)

    # ---- profile group (headline: the full 3-job profile; reference:
    # StructuredProfiler run) ----
    add("profile", "full_profile_lineitem",
        lambda: Profiler(lineitem).report())
    add("profile", "full_profile_orders", lambda: Profiler(orders).report())

    # merge time (reference harness records it separately —
    # structured_space_time_analysis.py): profile two disjoint halves,
    # time only the state `+`. Driver-side algebra; at scale this is the
    # per-partition combine AND the public multi-batch API.
    _halves: dict = {}

    def _merge_setup():
        _halves["a"] = Profiler(
            lineitem.where(F.col("l_orderkey") % 2 == 0)).profile()
        _halves["b"] = Profiler(
            lineitem.where(F.col("l_orderkey") % 2 == 1)).profile()

    def _merge():
        return _halves["a"] + _halves["b"]
    _merge.setup = _merge_setup  # untimed: the halves are inputs
    add("profile", "profile_merge_lineitem", _merge)

    add("profile", "numeric_profile_lineitem",
        lambda: num.numeric_profile_exact(
            lineitem, ["l_quantity", "l_extendedprice", "l_discount",
                       "l_tax"]).collect())

    def _categorical():
        cand = cat.candidate_columns(lineitem)
        counts = cat.category_counts(lineitem, cand).cache()
        cat.categorical_stats(counts).collect()
        cat.top_k_categories(counts, 5).collect()
        counts.unpersist()
    add("profile", "categorical_profile_lineitem", _categorical)

    add("profile", "row_stats_lineitem",
        lambda: rs.row_stats(lineitem, hashing_method="hll").collect())
    add("stats", "robust_stats_lineitem",
        lambda: num.robust_stats(
            lineitem, ["l_quantity", "l_extendedprice", "l_discount",
                       "l_tax"]).collect())
    add("stats", "benford_lineitem",
        lambda: num.benford_test(
            lineitem, ["l_quantity", "l_extendedprice", "l_discount",
                       "l_tax"]).collect())
    add("stats", "entropy_lineitem",
        lambda: cat.column_entropy(
            lineitem, ["l_returnflag", "l_linestatus", "l_quantity",
                       "l_linenumber"]).collect())

    def _pattern():
        cust = tbl("customer")
        cat.pattern_profile(cust, ["c_name", "c_mktsegment",
                                   "c_acctbal"], k=3).collect()
    add("profile", "pattern_profile_customer", _pattern)

    def _fd():
        vd.fd_check(lineitem, [("l_orderkey", "l_shipdate"),
                               ("l_linenumber", "l_returnflag")]).collect()
    add("stats", "fd_check_lineitem", _fd)

    def _incl():
        cust = tbl("customer")
        vd.inclusion_profile(orders, ["o_custkey", "o_orderkey"],
                             cust, ["c_custkey", "c_nationkey"]).collect()
    add("stats", "inclusion_orders_customer", _incl)

    def _theil():
        corr.theils_u_pair(lineitem, "l_returnflag",
                           "l_linestatus").collect()
    add("stats", "theils_u_lineitem", _theil)

    def _ghist():
        from dataprofiler_spark.operators import histogram as hg
        hg.grouped_histogram(lineitem, "l_extendedprice",
                             "l_returnflag", 12).collect()
    add("stats", "grouped_histogram_lineitem", _ghist)

    def _skewjoin():
        from dataprofiler_spark.operators.skew import skew_join
        li = lineitem.select(F.col("l_orderkey").alias("k"),
                             F.col("l_quantity").alias("qty"))
        od = orders.select(F.col("o_orderkey").alias("k"),
                           F.col("o_totalprice").alias("total"))
        skew_join(li, od, "k", hot_threshold=5).count()
    add("joins", "skew_join_lineitem_orders", _skewjoin)

    # skew_join vs AQE head-to-head (VERDICT r6 item 7): ~1/3 of
    # lineitem rows collapse onto ONE synthetic mega-key; the identical
    # join runs once through skew_join (hot side broadcast, hot rows
    # never shuffle) and once as a plain shuffle join under AQE's
    # skewJoin splitting. The ratio is the operator's reason to exist.
    def _mega_inputs():
        li = lineitem.select(
            F.when(F.col("l_orderkey") % 3 == 0, F.lit(1).cast("long"))
             .otherwise(F.col("l_orderkey")).alias("k"),
            F.col("l_quantity").alias("qty"))
        od = orders.select(F.col("o_orderkey").alias("k"),
                           F.col("o_totalprice").alias("total"))
        return li, od

    def _skew_mega():
        from dataprofiler_spark.operators.skew import skew_join
        li, od = _mega_inputs()
        skew_join(li, od, "k", hot_threshold=50_000).count()
    add("joins", "skew_join_megakey", _skew_mega)

    def _plain_mega():
        li, od = _mega_inputs()
        li.join(od, "k").count()
    add("joins", "plain_join_aqe_megakey", _plain_mega)
    def _kendall():
        corr.kendall_tau_b(lineitem, "l_quantity", "l_discount").collect()
    add("stats", "kendall_tau_lineitem", _kendall)

    def _decile():
        from dataprofiler_spark.operators import histogram as hg
        hg.decile_stats(lineitem, "l_extendedprice").collect()
    add("stats", "decile_stats_lineitem", _decile)

    def _roc():
        li = lineitem.select("l_quantity",
                             F.expr("l_returnflag = 'R'").alias("y"))
        vd.roc_auc(li, "l_quantity", "y").collect()
    add("stats", "roc_auc_lineitem", _roc)

    def _woe():
        od = orders.select("o_orderstatus", F.expr(
            "o_orderpriority IN ('1-URGENT', '2-HIGH')").alias("y"))
        vd.woe_iv(od, "o_orderstatus", "y").collect()
    add("stats", "woe_iv_orders", _woe)

    def _gq():
        from dataprofiler_spark.operators import histogram as hg
        hg.grouped_quantiles(lineitem, "l_returnflag",
                             "l_extendedprice",
                             [0.25, 0.5, 0.75, 0.95]).collect()
    add("stats", "grouped_quantiles_lineitem", _gq)

    add("stats", "correlation_lineitem",
        lambda: corr.correlation_matrix(
            lineitem, ["l_quantity", "l_extendedprice", "l_discount",
                       "l_tax"]).collect())

    # ---- dedup group ----
    # bands=2 x rows=6: selective operating point — the synthetic corpus
    # is inherently near-dup (median pairwise jaccard ~0.46), so shallow
    # bands would make most of the 12.5M pairs true candidates.
    add("dedup", "minhash_lsh_documents",
        lambda: dd.minhash_lsh_pairs(documents, "doc_id", "text",
                                     num_hashes=12, bands=2,
                                     threshold=0.8).collect())
    add("dedup", "winnow_neardup_pairs_documents",
        lambda: dd.winnow_neardup_pairs(documents, "doc_id", "text",
                                        min_shared=20,
                                        max_fp_freq=50).count())
    add("dedup", "simhash_documents",
        lambda: dd.simhash(documents, "doc_id", "text").collect())
    add("dedup", "repetition_signals_documents",
        lambda: cu.repetition_signals(documents, "doc_id", "text").count())
    add("dedup", "crossdoc_ngram_dup_documents",
        lambda: cu.crossdoc_ngram_dup_summary(documents, "doc_id",
                                              "text").collect())
    add("dedup", "substring_dup_documents",
        lambda: cu.substring_dup_signals(documents, "doc_id",
                                         "text").count())
    add("dedup", "paragraph_dup_documents",
        lambda: cu.paragraph_dup_signals(documents, "doc_id",
                                         "text").count())
    add("dedup", "decontaminate_documents",
        lambda: cu.decontaminate(
            documents, "doc_id", "text",
            documents.where(F.col("doc_id") % 29 == 0), "doc_id", "text"
        ).count())
    # auto-cap LSH (r10): the cap ladder rides the guard's own
    # bucket-size aggregate — row exists to price the auto mode vs the
    # fixed-cap row above
    add("dedup", "minhash_lsh_autocap_documents",
        lambda: dd.minhash_lsh_pairs(documents, "doc_id", "text",
                                     num_hashes=12, bands=2,
                                     threshold=0.8,
                                     max_bucket_size="auto",
                                     pair_budget_per_doc=20).count())

    # ---- text group ----
    add("text", "quality_features_documents",
        lambda: ta.quality_features(documents, "doc_id", "text").count())
    add("text", "language_id_documents",
        lambda: ta.language_id(documents, "doc_id", "text").count())
    add("text", "quality_rollup_documents",
        lambda: ta.quality_rollup(documents, "text", "source").collect())

    def _domain():
        from dataprofiler_spark.operators import domains as dmn
        from dataprofiler_spark.queries import _DOC_URL_EXPR
        docs = documents.withColumn("url", F.expr(_DOC_URL_EXPR))
        dmn.domain_rollup(docs, "url", "text").collect()
    add("text", "domain_rollup_documents", _domain)
    add("text", "markup_signals_documents",
        lambda: ta.markup_signals(documents, "doc_id", "text").count())
    add("text", "zipf_vocab_documents",
        lambda: ta.zipf_vocab_stats(documents, "text").collect())
    add("text", "chunk_summary_documents",
        lambda: ck.chunk_summary(documents, "doc_id", "text",
                                 chunk_tokens=64, overlap_tokens=8
                                 ).collect())
    add("text", "tfidf_top_terms_documents",
        lambda: ck.tfidf_top_terms(documents, "doc_id", "text",
                                   k=3).count())
    add("text", "data_mixture_documents",
        lambda: mx.data_mixture_summary(
            documents, "source", "doc_id", "text",
            {"src0": 0.5, "src1": 0.2, "src2": 0.2, "src3": 0.1},
            5_000).collect())
    add("text", "split_manifest_documents",
        lambda: mx.split_manifest(documents, "doc_id", "text").collect())
    add("text", "quality_weighted_sample_documents",
        lambda: mx.quality_weighted_sample_summary(
            documents, "doc_id", "text", strength=1.2).collect())
    def _bm25():
        from dataprofiler_spark.operators import retrieval as rtv
        rtv.bm25_topk(documents, "doc_id", "text",
                      "spark window merge vector", k=10).collect()
    add("text", "bm25_topk_documents", _bm25)
    add("text", "bigram_logprob_documents",
        lambda: ta.bigram_logprob_scores(documents, "doc_id",
                                         "text").count())
    def _lmdiv():
        a = documents.where(F.col("source").isin(
            "src0", "src1", "src2", "src3", "src4"))
        b = documents.where(~F.col("source").isin(
            "src0", "src1", "src2", "src3", "src4"))
        ta.lm_divergence(a, b, "text").collect()
    add("text", "lm_divergence_documents", _lmdiv)

    add("text", "collocations_pmi_documents",
        lambda: ta.collocations_pmi(documents, "text", k=20,
                                    min_count=5).collect())
    add("text", "packing_stats_documents",
        lambda: ck.packing_stats(documents, "doc_id", "text",
                                 context_len=256).collect())
    add("text", "pack_manifest_documents",
        lambda: ck.pack_manifest(documents, "doc_id", "text",
                                 context_len=256, n_shards=8).count())

    def _nb():
        from dataprofiler_spark.operators import nbclassify as nbc
        nbc.nb_confusion(documents, "doc_id", "text", "source",
                         vocab_cap=30).collect()
    add("text", "nb_confusion_documents", _nb)

    # ---- events group ----
    add("events", "active_users_events",
        lambda: ev.active_users_rollup(events).collect())
    add("events", "interarrival_events",
        lambda: ev.interarrival_stats(events).collect())
    add("events", "interval_join_events",
        lambda: iv.interval_join_first_day_counts(events).count())
    add("events", "funnel_events",
        lambda: ev.funnel(events, ["view", "click", "purchase"]).collect())
    add("events", "sessionize_events", lambda: ev.sessionize(events).count())
    add("events", "expectations_orders",
        lambda: vd.expectation_report(orders, [
            vd.Expectation("unique", "o_orderkey"),
            vd.Expectation("row_count_between", low=1000),
            vd.Expectation("nonnull_ratio_at_least", "o_custkey", low=0.99),
            vd.Expectation("mean_between", "o_totalprice", low=1000.0,
                           high=1_000_000.0),
        ]).collect())

    def _drift():
        a = orders.where(F.col("o_orderdate") < "1998-01-01")
        b = orders.where(F.col("o_orderdate") >= "1998-01-01")
        dr.categorical_psi(a, b, "o_orderpriority").collect()
        dr.welch_t(a, b, "o_totalprice").collect()
    add("events", "drift_orders", _drift)
    add("events", "type_cooccurrence_events",
        lambda: ev.type_cooccurrence(events).collect())
    add("events", "markov_transitions_events",
        lambda: ev.markov_transitions(events).collect())
    add("events", "calendar_gaps_events",
        lambda: ev.calendar_gaps(events, group_col="event_type")
                  .collect())

    def _profile_diff():
        # composed .diff() end-to-end (r8): two full profiles over
        # midpoint time-slices + the diff algebra
        from dataprofiler_spark.queries.q_flagship import \
            profile_diff_events as _pde
        return _pde(spark, sf_dir).collect()
    add("events", "profile_diff_events", _profile_diff)

    def _profile_diff_fused():
        # fused snapshot diff (r9): both slice profiles from ONE
        # side-split scan (plans/diff_plan.py) — same oracle, ~half
        # the scans of the composed row above
        from dataprofiler_spark.queries.q_flagship import \
            profile_diff_fused_events as _pdf
        return _pdf(spark, sf_dir).collect()
    add("events", "profile_diff_fused_events", _profile_diff_fused)

    # ---- similarity group ----
    add("similarity", "cosine_topk_embeddings",
        lambda: sim.cosine_topk(embeddings, "vec_id", "embedding", 0,
                                10).collect())
    add("similarity", "embedding_decontaminate_embeddings",
        lambda: sim.embedding_decontaminate(
            embeddings, embeddings.where(F.col("vec_id") % 37 == 0),
            "vec_id", "embedding", threshold=0.8).count())
    add("similarity", "embedding_decontaminate_bucketed",
        lambda: sim.embedding_decontaminate_bucketed(
            embeddings, embeddings.where(F.col("vec_id") % 37 == 0),
            "vec_id", "embedding", threshold=0.8,
            bands=4, planes_per_band=4).count())
    add("similarity", "embedding_neardup_pairs",
        lambda: sim.embedding_neardup_pairs(
            embeddings, "vec_id", "embedding", threshold=0.5,
            bands=4, planes_per_band=4, max_bucket_size=100).count())

    def _cov():
        from dataprofiler_spark.operators import vectorstats as vs
        vs.embedding_covariance(embeddings, "embedding").count()
    add("similarity", "embedding_covariance", _cov)

    # ---- clustering group ----
    add("clustering", "semantic_dedup_embeddings",
        lambda: clus.semantic_dedup(embeddings, "vec_id", "embedding",
                                    k_clusters=8, iters=2,
                                    threshold=0.3).count())
    add("clustering", "kmeans_embeddings",
        lambda: clus.kmeans_assign(embeddings, "vec_id", "embedding",
                                   k=4, iters=2).count())
    # the high-k scale path (r12): the hierarchical quantizer (coarse
    # fit + per-cell local Lloyd) gets a per-round number at bench
    # scale. Target 2 resolves k = n/2 (1,000 at sf0.1), below
    # TWO_LEVEL_MIN_K, so the threshold is lowered around the call —
    # otherwise the row would time the flat path.
    def _semdedup_two_level():
        saved = clus.TWO_LEVEL_MIN_K
        clus.TWO_LEVEL_MIN_K = 1
        try:
            clus.semantic_dedup(embeddings, "vec_id", "embedding",
                                target_cell_size=2, iters=2,
                                threshold=0.9).count()
        finally:
            clus.TWO_LEVEL_MIN_K = saved
    add("clustering", "semantic_dedup_two_level_embeddings",
        _semdedup_two_level)
    add("clustering", "ivf_topk_embeddings",
        lambda: clus.ivf_topk_det(embeddings, "vec_id", "embedding",
                                  k_clusters=8, iters=2, nprobe=2,
                                  n_queries=5, k=5).collect())
    add("clustering", "ivf_recall_embeddings",
        lambda: clus.ivf_recall(embeddings, "vec_id", "embedding",
                                k_clusters=8, iters=2, nprobe=2,
                                n_queries=5, k=5).collect())
    add("clustering", "ivf_pq_topk_embeddings",
        lambda: clus.ivf_pq_topk(embeddings, "vec_id", "embedding",
                                 k_clusters=4, iters=1, m=4, k_codes=4,
                                 pq_iters=1, nprobe=2, n_queries=5,
                                 k=5, dim=64).collect())
    add("clustering", "pq_audit_embeddings",
        lambda: clus.pq_audit(embeddings, "vec_id", "embedding", m=4,
                              k_codes=4, iters=1, dim=64).collect())

    # Persisted-index serving cost (VERDICT r5 item 6): the codes-only
    # ADC path vs the raw-vector path against the SAME index, so
    # SCALE.md's "measure before you commit" workflow has the number.
    # Index build is setup (untimed — it's a one-time cost amortized
    # over the query stream).
    _ann: dict = {}

    def _ann_setup():
        import tempfile

        from dataprofiler_spark.operators import ann_index as ai
        if "path" in _ann:
            return
        path = os.path.join(tempfile.gettempdir(), "bench_ann_index")
        ai.ivf_build(embeddings, "vec_id", "embedding", path,
                     n_centroids=8, pq_m=4, pq_codes=16,
                     fit_fraction=0.2)
        q = (embeddings.where(F.col("vec_id") == 0)
             .select("embedding").first()[0])
        _ann["path"], _ann["q"] = path, [float(x) for x in q]

    def _adc():
        from dataprofiler_spark.operators import ann_index as ai
        ai.ivf_query_adc(spark, _ann["path"], _ann["q"], k=10,
                         nprobe=2).collect()
    _adc.setup = _ann_setup
    add("serving", "ivf_query_adc_embeddings", _adc)

    def _raw():
        from dataprofiler_spark.operators import ann_index as ai
        ai.ivf_query(spark, _ann["path"], _ann["q"], k=10,
                     nprobe=2).collect()
    _raw.setup = _ann_setup
    add("serving", "ivf_query_raw_embeddings", _raw)

    # ---- labeler group ----
    def _trainable_fit():
        from dataprofiler_spark.labeler.trainable import \
            train_structured_labeler
        cust = tbl("customer").select("c_name", "c_acctbal", "c_mktsegment")
        train_structured_labeler(cust)
    add("labeler", "trainable_fit_customer", _trainable_fit)

    def _ner():
        from dataprofiler_spark.labeler.ner import (entity_span_counts,
                                                    predict_text_spans)
        blob = orders.where(F.col("o_orderkey") <= 2000).select(
            F.col("o_orderkey").alias("id"),
            F.concat_ws(" ", F.lit("order"),
                        F.col("o_orderkey").cast("string"),
                        F.lit("placed"),
                        F.date_format("o_orderdate", "yyyy-MM-dd"),
                        F.lit("total"),
                        F.col("o_totalprice").cast("string")).alias("t"))
        entity_span_counts(predict_text_spans(blob, "id", "t")).collect()
    add("labeler", "ner_spans_orders", _ner)

    return r


def run_group(group: str, sf_dir: str) -> tuple[dict, dict, dict]:
    """Run one group's queries in THIS process; return
    (min, mean, warm_mean) per query. warm_mean drops run 1 of each
    query (the cold-JVM/codegen run) — the regression-tracking number
    (VERDICT r5 item 4: per-group cold JVMs polluted round-over-round
    mean comparisons)."""
    from dataprofiler_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{group}",
                      extra_conf={"spark.ui.enabled": "false"})
    runners = build_runners(spark, sf_dir)
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # warm the JVM + file listing once (not counted)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    # SPARK_GRAFT_BENCH_ONLY=a,b,c: restrict to named queries — the
    # isolated fresh-JVM A/B probe (VERDICT r10 item 3: suite numbers
    # move with group composition; single-query runs are the clean
    # signal when a row regresses without a code change).
    only = {s for s in os.environ.get(
        "SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
    timings: dict[str, float] = {}
    timings_mean: dict[str, float] = {}
    timings_warm: dict[str, float] = {}
    for name, (g, fn) in runners.items():
        if g != group or (only and name not in only):
            continue
        if hasattr(fn, "setup"):
            fn.setup()
        # n runs; headline = min (steady-state, JIT/codegen-cache warm —
        # the number comparable to the reference's steady state), mean
        # kept alongside so run-to-run noise is visible in the artifact.
        ts = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        timings[name] = round(min(ts), 3)
        timings_mean[name] = round(sum(ts) / len(ts), 3)
        warm = ts[1:] if len(ts) > 1 else ts
        timings_warm[name] = round(sum(warm) / len(warm), 3)
    spark.stop()
    return timings, timings_mean, timings_warm


def _cpu_steal_total() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — (0, 0) when
    unreadable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # first 8 fields only (user..steal): guest/guest_nice are
        # already accounted inside user/nice — including them would
        # double-count and deflate the steal%% (ADVICE r12)
        return steal, sum(vals[:8])
    except (OSError, ValueError, IndexError):
        return 0, 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    group = os.environ.get("SPARK_GRAFT_BENCH_GROUP")
    if group:
        # loadavg before/after the group: the r11 driver artifact read
        # as a 13% regression that was machine load, not code — carry
        # the contamination evidence in the artifact itself. r12 adds
        # hypervisor steal% over the group's wall time (the r12 box
        # showed 2-10x swings on UNCHANGED queries at loadavg ~1 with
        # /proc/stat steal spiking — loadavg alone cannot see a noisy
        # host neighbor).
        la0 = round(os.getloadavg()[0], 2)
        st0, tt0 = _cpu_steal_total()
        timings, timings_mean, timings_warm = run_group(group, sf_dir)
        st1, tt1 = _cpu_steal_total()
        steal_pct = (round(100.0 * (st1 - st0) / (tt1 - tt0), 2)
                     if tt1 > tt0 else None)
        print(json.dumps({"group": group, "queries": timings,
                          "queries_mean": timings_mean,
                          "queries_warm_mean": timings_warm,
                          "loadavg": [la0, round(os.getloadavg()[0], 2)],
                          "steal_pct": steal_pct}))
        return

    timings: dict[str, float] = {}
    timings_mean: dict[str, float] = {}
    timings_warm: dict[str, float] = {}
    groups: dict[str, str] = {}   # query -> JVM group (VERDICT r10
    # item 10: crowding must be diagnosable from the artifact alone)
    loadavg_by_group: dict[str, list] = {}
    steal_by_group: dict[str, float | None] = {}
    isolate = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "1") != "0"
    if isolate:
        import subprocess
        me = os.path.abspath(__file__)
        for g in GROUP_ORDER:
            env = dict(os.environ, SPARK_GRAFT_BENCH_GROUP=g)
            # A hung group must not abort the suite and lose every
            # previously collected timing — record it failed and move on.
            try:
                out = subprocess.run([sys.executable, me], env=env,
                                     capture_output=True, text=True,
                                     timeout=1800)
            except subprocess.TimeoutExpired:
                timings[f"__group_{g}_failed"] = -1.0
                sys.stderr.write(f"group {g}: timed out after 1800s\n")
                continue
            parsed = None
            for line in reversed(out.stdout.strip().splitlines()):
                try:
                    parsed = json.loads(line)
                    break
                except json.JSONDecodeError:
                    continue
            if parsed is None:
                timings[f"__group_{g}_failed"] = -1.0
                sys.stderr.write(out.stderr[-2000:] + "\n")
                continue
            timings.update(parsed["queries"])
            timings_mean.update(parsed["queries_mean"])
            timings_warm.update(parsed.get("queries_warm_mean", {}))
            groups.update({q: g for q in parsed["queries"]})
            if "loadavg" in parsed:
                loadavg_by_group[g] = parsed["loadavg"]
            if "steal_pct" in parsed:
                steal_by_group[g] = parsed["steal_pct"]
    else:
        for g in GROUP_ORDER:
            t, m, w = run_group(g, sf_dir)
            timings.update(t)
            timings_mean.update(m)
            timings_warm.update(w)
            groups.update({q: g for q in t})

    # Drift canary (VERDICT r11 item 7): re-run the headline query in a
    # fresh JVM at suite END and compare to its suite-START number. A
    # big delta means the machine's load changed under the suite — the
    # per-query numbers of late groups are inflated by environment, not
    # code. Cheap: one query, one JVM.
    canary: dict | None = None
    if isolate and timings.get("full_profile_lineitem", 0) > 0:
        import subprocess
        env = dict(os.environ, SPARK_GRAFT_BENCH_GROUP="profile",
                   SPARK_GRAFT_BENCH_ONLY="full_profile_lineitem",
                   SPARK_GRAFT_BENCH_RUNS="2")
        try:
            out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                                 env=env, capture_output=True, text=True,
                                 timeout=600)
            for line in reversed(out.stdout.strip().splitlines()):
                try:
                    parsed = json.loads(line)
                except json.JSONDecodeError:
                    continue
                end = parsed["queries"].get("full_profile_lineitem")
                if end:
                    start = timings["full_profile_lineitem"]
                    canary = {"headline_start_sec": start,
                              "headline_end_sec": end,
                              "delta_ratio": round(end / start, 3),
                              "loadavg": parsed.get("loadavg")}
                break
        except subprocess.TimeoutExpired:
            canary = {"error": "canary timed out"}

    total = round(sum(v for v in timings.values() if v > 0), 3)

    # Reference comparison (BASELINE.md "Measured on this machine"):
    # constants recorded by `python baseline_harness.py <sf_dir> lineitem`
    # on this container; SPARK_GRAFT_MEASURE_REF=1 re-measures live.
    ref = {"profile_default_sampling_sec": 23.1,
           "profile_full_data_sec": 87.8, "sf": 0.1, "source": "recorded"}
    if os.environ.get("SPARK_GRAFT_MEASURE_REF") == "1":
        import subprocess
        out = subprocess.run(
            ["python", os.path.join(os.path.dirname(__file__) or ".",
                                    "baseline_harness.py"), sf_dir],
            capture_output=True, text=True, timeout=900)
        for line in reversed(out.stdout.strip().splitlines()):
            try:
                meas = json.loads(line)
                ref = {"profile_default_sampling_sec":
                       meas["profile_default_sampling_sec"],
                       "profile_full_data_sec": meas["profile_full_data_sec"],
                       "sf": float(sf), "source": "measured"}
                break
            except (json.JSONDecodeError, KeyError):
                continue
    ours = timings.get("full_profile_lineitem")
    baseline_ref = dict(ref)
    same_sf = str(ref.get("sf")) == sf or ref.get("sf") == (
        float(sf) if sf.replace(".", "").isdigit() else None)
    if not same_sf:
        # recorded reference numbers are for a different scale factor —
        # a cross-sf ratio would be meaningless, so omit it.
        baseline_ref["ratio_note"] = (
            f"bench sf={sf} != reference sf={ref.get('sf')}; no ratio")
    if ours and ref.get("profile_full_data_sec") and same_sf:
        baseline_ref["ours_full_profile_lineitem_sec"] = ours
        baseline_ref["ratio_vs_ref_full_data"] = round(
            ours / ref["profile_full_data_sec"], 3)
        baseline_ref["ratio_vs_ref_default_sampling"] = round(
            ours / ref["profile_default_sampling_sec"], 3)

    payload = {
        "metric": "profile_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_mean": timings_mean,
        "queries_warm_mean": timings_warm,
        "n_runs": max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))),
        "isolated_jvm_groups": isolate,
        "jvm_group_of": groups,
        "loadavg_by_group": loadavg_by_group,
        "steal_pct_by_group": steal_by_group,
        "drift_canary": canary,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "baseline_ref": baseline_ref,
    }
    # The driver only preserves a truncated TAIL of stdout in
    # BENCH_r{N}.json (VERDICT r5 item 4) — persist the complete
    # payload to a repo file so per-query numbers survive. Round number
    # inferred from the driver's own artifacts: this bench run feeds
    # BENCH_r{max+1}.
    try:
        import re
        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [int(m.group(1)) for f in os.listdir(here)
                  if (m := re.match(r"BENCH_r(\d+)\.json$", f))]
        n = (max(rounds) + 1) if rounds else 1
        with open(os.path.join(here, f"bench_full_r{n:02d}.json"),
                  "w") as f:
            json.dump(payload, f, indent=1)
    except OSError as exc:  # never fail the bench over the side file
        sys.stderr.write(f"bench_full write failed: {exc}\n")

    print(json.dumps(payload))


if __name__ == "__main__":
    main()
