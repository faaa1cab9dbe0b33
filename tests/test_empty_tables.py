"""Empty-input contract: every registered query, run against 0-row
tables with the real schemas, must either (a) match its DuckDB oracle,
or (b) refuse LOUDLY with a documented ValueError — never crash with an
engine internal error, and never silently diverge outside the
documented exclusion classes below.

Why it matters at 100 TB: an over-aggressive filter, a brand-new
partition, or an empty source shard hands every operator a 0-row frame
sooner or later; "works on the happy path" is not a contract. The r7
audit that seeded this file found two genuine crashes (row_stats ANSI
divide-by-zero; histogram driver-side float(None)) and three silent
divergences (ROLLUP grand-total row, vocab NULL-vs-0) — all fixed.
"""

from __future__ import annotations

import duckdb
import pytest

from dataprofiler_spark.queries import ORACLE_SQL, SPARK_QUERIES

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Operators whose CONTRACT is a loud refusal on empty input (their
# docstrings say so): fitting k centroids needs k vectors; a classifier
# fit needs labeled rows; PageRank needs edges; the trainable labeler
# needs samples. The refusal must be a ValueError whose message names
# the condition — an engine internal error still fails this test.
LOUD_REFUSAL = {
    "kmeans_assign_embeddings", "kmeans_clusters_embeddings",
    "cluster_sample_embeddings", "embedding_outliers_embeddings",
    "ivf_topk_embeddings", "ivf_recall_embeddings",
    "ivf_pq_topk_embeddings", "ivf_pq_residual_topk_embeddings",
    "pq_audit_embeddings", "ann_index_query_embeddings",
    "ann_index_pq_query_embeddings", "semantic_dedup_embeddings",
    "semantic_dedup_auto_embeddings", "semantic_dedup_streaming_embeddings",
    "corpus_semantic_curation_auto_documents",
    "semantic_dedup_centroid_embeddings",
    "corpus_semantic_curation_documents",
    "nb_source_confusion_documents", "embedding_group_cosines",
    "label_centroid_audit_embeddings", "pagerank_nation",
    "trained_labeler_customer", "cnn_head_tuned_customer",
    # a time-slice of an empty/all-null-ts table has no midpoint
    "profile_diff_events", "profile_diff_fused_events",
}

# Documented divergence classes on EMPTY input (not on real data):
# - fixture-pinned oracles (cnn/ner rows are sf0.01 goldens; an empty
#   table can't reproduce them by construction)
# (the full_profile family's coalesce-vs-NULL divergence was CLOSED in
# r10: oracle_full_profile_sql now COALESCEs its SUM-shaped stats, so
# those queries compare exactly even at n=0)
KNOWN_EMPTY_DIVERGENCE = {
    "cnn_labeler_customer", "ner_spans_orders", "ner_redact_orders",
    "embedding_spectrum_embeddings",  # sf0.01 golden by construction
    "av_profile_documents",
    # grouped profile: an empty table has NO groups (0 rows) while the
    # oracle hardcodes the group values (A/N/R) — divergence exists
    # only at n=0; real-data parity is profile_by_returnflag_lineitem
    "profile_by_returnflag_lineitem",
}


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_sf"))
    for t in TABLES:
        (spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
         .limit(0).write.mode("overwrite").parquet(f"{d}/{t}.parquet"))
    return d


@pytest.fixture(scope="module")
def empty_duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM"
                f" '/root/testdata/sf0.001/{t}.parquet' LIMIT 0")
    return con


# Queries that fit on the packaged char-CNN and have no other base:
# without its weights they cannot run at all (see
# tests/test_trainable.py, which skips their golden alike).
NEEDS_PACKAGED_CNN = {"cnn_head_tuned_customer"}


def _case(name):
    if name not in NEEDS_PACKAGED_CNN:
        return name
    from dataprofiler_spark.labeler.np_cnn import load_default_model
    return pytest.param(name, marks=pytest.mark.skipif(
        load_default_model() is None,
        reason="packaged reference model not readable here"))


@pytest.mark.parametrize("name", [_case(n) for n in sorted(SPARK_QUERIES)])
def test_empty_input_contract(name, spark, empty_dir, empty_duck):
    fn = SPARK_QUERIES[name]
    try:
        sdf = fn(spark, empty_dir).toPandas()
    except ValueError as e:
        assert name in LOUD_REFUSAL, \
            f"{name}: undocumented ValueError on empty input: {e}"
        return
    assert name not in LOUD_REFUSAL, \
        f"{name}: documented as loud-refusal but returned rows"
    if name not in ORACLE_SQL or name in KNOWN_EMPTY_DIVERGENCE:
        return
    ddf = empty_duck.sql(ORACLE_SQL[name]).df()
    cols = sorted(sdf.columns)
    a = sdf.reindex(cols, axis=1).sort_values(by=cols) \
        .reset_index(drop=True)
    b = ddf.reindex(sorted(ddf.columns), axis=1) \
        .sort_values(by=sorted(ddf.columns)).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows on empty"
    import pandas as pd

    def vals(s, as_repr):
        return ["<null>" if pd.isna(x)
                else (repr(x) if as_repr else str(x)) for x in s]

    for c in a.columns:
        fa = a[c].dtype.kind in "fc" or b[c].dtype.kind in "fc"
        va, vb = vals(a[c], fa), vals(b[c], fa)
        assert va == vb, f"{name}.{c}: {va[:3]} vs {vb[:3]}"
