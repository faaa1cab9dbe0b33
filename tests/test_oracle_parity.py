"""Every registered query must hash-match its DuckDB oracle (the driver's
t2 gate, run here at sf0.001 for speed — the driver uses sf0.01)."""

from __future__ import annotations

import pytest

from dataprofiler_spark.queries import ORACLE_SQL, SPARK_QUERIES
from tests.oracle_utils import assert_frames_match


# Oracles whose expected values are golden fixtures computed at sf0.01
# (the driver's sf): at any other sf the values differ by construction,
# so the local run degrades to a rows-only check. test_np_cnn covers the
# sf0.01 golden itself.
SF001_PINNED = {"cnn_labeler_customer", "ner_spans_orders",
                "trained_labeler_customer", "ner_redact_orders",
                "embedding_spectrum_embeddings",
                "cnn_head_tuned_customer"}


# The vector family (k-means / IVF / PQ / ADC / SemDeDup) replays in the
# default gate: these rows share one assignment, fit and ADC
# implementation, so a drift there must fail every run, not only the
# nightly one.
VECTOR_FAMILY = [
    "kmeans_assign_embeddings", "kmeans_clusters_embeddings",
    "cluster_sample_embeddings", "embedding_outliers_embeddings",
    "ivf_topk_embeddings", "label_centroid_audit_embeddings",
    "pq_audit_embeddings", "ivf_pq_topk_embeddings",
    "ivf_pq_residual_topk_embeddings", "ann_index_query_embeddings",
    "ann_index_pq_query_embeddings", "semantic_dedup_embeddings",
]

# The graph family replays in the default gate: component stats,
# pagerank and both near-dup cluster operators share one connected
# components / pagerank implementation (operators/graph.py).
GRAPH_FAMILY = [
    "graph_components_nation", "pagerank_nation",
    "neardup_clusters_documents", "embedding_neardup_clusters",
]


@pytest.mark.nightly
@pytest.mark.parametrize("name", sorted(SPARK_QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    _assert_matches_oracle(name, spark, duck, sf_dir)


@pytest.mark.parametrize("name", VECTOR_FAMILY)
def test_vector_family_matches_oracle(name, spark, duck, sf_dir):
    assert name in ORACLE_SQL
    _assert_matches_oracle(name, spark, duck, sf_dir)


@pytest.mark.parametrize("name", GRAPH_FAMILY)
def test_graph_family_matches_oracle(name, spark, duck, sf_dir):
    assert name in ORACLE_SQL
    _assert_matches_oracle(name, spark, duck, sf_dir)


def _assert_matches_oracle(name, spark, duck, sf_dir):
    sdf = SPARK_QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLE_SQL or (
            name in SF001_PINNED and not sf_dir.rstrip("/").endswith("sf0.01")):
        assert len(sdf) >= 0  # rows-only check for non-SQL-expressible ops
        return
    ddf = duck.sql(ORACLE_SQL[name]).df()
    assert_frames_match(sdf, ddf, name)


def test_driver_window_all_oracled():
    """The 50 driver-checked slots must all resolve and carry oracles —
    enforced here (cheap failure) rather than at import (an ImportError
    would red-line every driver row)."""
    from dataprofiler_spark.queries import (_DRIVER_WINDOW, ORACLE_SQL,
                                            SPARK_QUERIES)

    assert len(_DRIVER_WINDOW) == 50  # exactly the driver-checked count
    missing = [n for n in _DRIVER_WINDOW if n not in SPARK_QUERIES]
    unoracled = [n for n in _DRIVER_WINDOW if n not in ORACLE_SQL]
    assert not missing and not unoracled, (missing, unoracled)
    first50 = list(SPARK_QUERIES)[:50]
    assert first50 == _DRIVER_WINDOW
    assert all(n in ORACLE_SQL for n in first50)


def test_driver_window_freshness_sla():
    """Evidence-freshness SLA (VERDICT r8 item 8): no oracled registry
    row may go unchecked by the driver for more than 3 rounds. The set
    of due rows is DERIVED from the cumulative CORRECTNESS_r0*.json
    history, not hand-listed — when a cohort ages past the SLA, this
    test fails until the rows are rotated into _DRIVER_WINDOW (or the
    window of the upcoming round covers them). Never-checked oracled
    rows must be in the window too."""
    import glob
    import json
    import os
    import re

    from dataprofiler_spark.queries import (_DRIVER_WINDOW, ORACLE_SQL,
                                            SPARK_QUERIES)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # NOT "r0*": that glob silently dropped CORRECTNESS_r10.json and
    # froze the SLA clock at round 10 (found at the r10->r11 boundary).
    files = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no driver CORRECTNESS history in this environment")
    latest: dict[str, int] = {}
    for f in files:
        rnd = int(re.search(r"_r(\d+)\.json$", f).group(1))
        for q in json.load(open(f)):
            latest[q] = max(latest.get(q, 0), rnd)
    upcoming = max(latest.values()) + 1     # the round this window runs in
    sla_floor = upcoming - 3
    window = set(_DRIVER_WINDOW)
    overdue = sorted(
        q for q in SPARK_QUERIES
        if q in ORACLE_SQL
        and latest.get(q, 0) < sla_floor
        and q not in window)
    assert not overdue, (
        f"{len(overdue)} oracled rows have no driver check since round "
        f"{sla_floor - 1} and are not in the upcoming window — rotate "
        f"them into _DRIVER_WINDOW: {overdue}")


def test_unoracled_rows_carry_justification():
    """Every registry row without an oracle must say WHY (VERDICT r11
    item 8): rows-only is a deliberate, documented state — "forgot the
    oracle" fails here. The reason must point at the covering
    evidence (a substantive sentence, not a placeholder)."""
    from dataprofiler_spark.queries import ORACLE_SQL, SPARK_QUERIES
    from dataprofiler_spark.queries._registry import NO_ORACLE_REASON

    unoracled = [q for q in SPARK_QUERIES if q not in ORACLE_SQL]
    missing = [q for q in unoracled if not NO_ORACLE_REASON.get(q)]
    assert not missing, (
        f"registry rows without an oracle AND without a justification: "
        f"{missing} — add oracle SQL or a no_oracle_reason")
    for q in unoracled:
        assert len(NO_ORACLE_REASON[q]) > 80, q  # substantive, not a stub
    stale = [q for q in NO_ORACLE_REASON if q in ORACLE_SQL]
    assert not stale, f"rows with BOTH oracle and justification: {stale}"
