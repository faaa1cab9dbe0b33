"""Corpus-curation operators: repetition signals, cross-doc n-gram
duplication, PII redaction (operators/curation.py). Registered-query
oracle parity is covered by test_oracle_parity; these tests pin edge
cases and plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataprofiler_spark.operators import curation as cu


def test_repetition_edge_cases(spark):
    df = spark.createDataFrame(
        [(1, ""),                       # empty → all zeros
         (2, "one"),                    # single token → no bigrams
         (3, "a a a a"),                # fully repeated
         (4, "w x y z")],               # fully distinct
        ["id", "text"])
    rows = {r["id"]: r for r in
            cu.repetition_signals(df, "id", "text").collect()}
    assert rows[1]["n_tokens"] == 0 and rows[1]["dup_word_fraction"] == 0.0
    assert rows[2]["top_bigram_count"] == 0
    assert rows[2]["top_bigram_fraction"] == 0.0
    # "a a a a": 1 distinct of 4 tokens; bigram "a a" fills all 3 slots
    assert rows[3]["dup_word_fraction"] == 0.75
    assert rows[3]["top_bigram_count"] == 3
    assert rows[3]["top_bigram_fraction"] == 1.0
    assert rows[4]["dup_word_fraction"] == 0.0
    assert rows[4]["top_bigram_count"] == 1


def test_crossdoc_ngram_dup_counts(spark):
    # doc1 and doc2 share exactly one 3-gram ("b c d"); doc3 too short.
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e"), (3, "x y")], ["id", "text"])
    row = cu.crossdoc_ngram_dup_summary(df, "id", "text", n=3).collect()[0]
    # distinct 3-grams: {a b c, b c d, c d e} → 3; shared: {b c d} → 1
    assert row["n_distinct_ngrams"] == 3
    assert row["n_shared_ngrams"] == 1
    assert row["max_docs_per_ngram"] == 2


def test_crossdoc_ngram_within_doc_repeat_not_shared(spark):
    # the same 2-gram repeated WITHIN one doc must not count as shared
    # (per-doc distinct before the corpus groupBy)
    df = spark.createDataFrame([(1, "p q p q")], ["id", "text"])
    row = cu.crossdoc_ngram_dup_summary(df, "id", "text", n=2).collect()[0]
    assert row["n_shared_ngrams"] == 0
    assert row["max_docs_per_ngram"] == 1


def test_pii_redact_handcrafted(spark):
    df = spark.createDataFrame(
        [(1, "call 12-345-678-9012 or mail a.b+c@ex-ample.org now"),
         (2, "ssn 123-45-6789 twice 987-65-4321"),
         (3, "clean text")],
        ["id", "text"])
    rows = {r["id"]: r for r in cu.pii_redact(df, "id", "text").collect()}
    assert rows[1]["redacted"] == "call [PHONE] or mail [EMAIL] now"
    assert rows[1]["n_phone"] == 1 and rows[1]["n_email"] == 1
    assert rows[2]["redacted"] == "ssn [SSN] twice [SSN]"
    assert rows[2]["n_ssn"] == 2
    assert rows[3]["redacted"] == "clean text"
    assert (rows[3]["n_email"], rows[3]["n_phone"], rows[3]["n_ssn"]) == (0, 0, 0)


def test_pii_redact_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "text"])
    plan = cu.pii_redact(df, "id", "text")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_no_unpartitioned_window(spark, sf_dir):
    import os
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    plan = cu.repetition_signals(docs, "doc_id", "text")._jdf \
        .queryExecution().executedPlan().toString()
    assert "Window" not in plan  # pure groupBy aggregation, no windows


def test_substring_dup_semantics(spark):
    # doc1/doc2 share the window "a b c"; doc3 repeats its own window
    # ("r s r s r s" → windows "r s r", "s r s", "r s r" — within-doc
    # multiplicity counts); doc4 too short → 0 windows.
    df = spark.createDataFrame(
        [(1, "a b c x"), (2, "z a b c"), (3, "r s r s r"), (4, "p q")],
        ["id", "text"])
    rows = {r["id"]: r for r in
            cu.substring_dup_signals(df, "id", "text", window=3).collect()}
    assert rows[1]["n_windows"] == 2 and rows[1]["n_dup_windows"] == 1
    assert rows[2]["n_windows"] == 2 and rows[2]["n_dup_windows"] == 1
    # doc3 windows: "r s r", "s r s", "r s r" → "r s r" occurs twice
    assert rows[3]["n_windows"] == 3 and rows[3]["n_dup_windows"] == 2
    assert rows[4]["n_windows"] == 0
    assert rows[4]["dup_window_fraction"] == 0.0


def test_decontaminate_overlap_and_flag(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),   # contains bench 3-gram
         (2, "totally unrelated words here"),
         (3, "short")],
        ["id", "text"])
    bench = spark.createDataFrame(
        [(100, "quick brown fox leaps high")], ["bid", "btext"])
    rows = {r["id"]: r for r in
            cu.decontaminate(docs, "id", "text", bench, "bid", "btext",
                             n=3, min_overlap=1).collect()}
    assert rows[1]["contaminated"] and rows[1]["n_overlap_ngrams"] == 1
    assert not rows[2]["contaminated"] and rows[2]["n_overlap_ngrams"] == 0
    assert not rows[3]["contaminated"]


def test_decontaminate_broadcasts_benchmark(spark):
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], ["id", "text"])
    bench = spark.createDataFrame([(2, "c d e f g h i j")], ["id", "text"])
    plan = cu.decontaminate(docs, "id", "text", bench, "id", "text")._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles


def test_decontaminate_by_benchmark_attributes_hits(spark):
    """Each contaminated doc reports WHICH labeled benchmark it leaks;
    clean docs and clean (doc, benchmark) pairs emit no row."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),    # hits bench 'b1' only
         (2, "alpha beta gamma delta echo"),  # hits bench 'b2' only
         (3, "totally unrelated words here")],
        ["id", "text"])
    bench = spark.createDataFrame(
        [(100, "quick brown fox leaps", "b1"),
         (101, "alpha beta gamma punch", "b2"),
         (102, "beta gamma delta kick", "b2")],
        ["bid", "btext", "bname"])
    rows = {(r["id"], r["benchmark"]): r["n_overlap_ngrams"] for r in
            cu.decontaminate_by_benchmark(docs, "id", "text", bench,
                                          "bid", "btext", "bname",
                                          n=3, min_overlap=1).collect()}
    assert rows == {(1, "b1"): 1, (2, "b2"): 2}


def test_decontaminate_by_benchmark_broadcasts_suite(spark):
    docs = spark.createDataFrame([(1, "a b c d e f g h i")], ["id", "text"])
    bench = spark.createDataFrame([(2, "c d e f g h i j", "x")],
                                  ["id", "text", "lbl"])
    plan = cu.decontaminate_by_benchmark(
        docs, "id", "text", bench, "id", "text", "lbl") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_neardup_clusters_partition_and_canonical(spark):
    from dataprofiler_spark.operators import dedup as dd
    # two identical docs + one distinct → one 2-cluster + singletons
    df = spark.createDataFrame(
        [(10, "aaaa bbbb cccc dddd"), (20, "aaaa bbbb cccc dddd"),
         (30, "zzzz yyyy xxxx wwww")],
        ["id", "text"])
    rows = {r["id"]: r for r in
            dd.neardup_clusters(df, "id", "text", num_hashes=12, bands=2,
                                threshold=0.9).collect()}
    assert rows[10]["cluster_id"] == rows[20]["cluster_id"] == 10
    assert rows[10]["cluster_size"] == 2
    assert rows[10]["is_canonical"] and not rows[20]["is_canonical"]
    assert rows[30]["cluster_id"] == 30 and rows[30]["cluster_size"] == 1
    assert rows[30]["is_canonical"]


# ---------------------------------------------------------------------------
# Property tests (hypothesis): invariants that must hold for ANY corpus
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_words = st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]),
                  min_size=0, max_size=12)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_words, min_size=1, max_size=6))
def test_repetition_signal_bounds(spark, docs):
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["id", "text"])
    for r in cu.repetition_signals(df, "id", "text").collect():
        assert 0.0 <= r["dup_word_fraction"] <= 1.0
        assert 0.0 <= r["top_bigram_fraction"] <= 1.0
        assert r["top_bigram_count"] >= 0
        ws = docs[r["id"]]
        assert r["n_tokens"] == len(ws)
        if len(ws) >= 2:
            assert r["top_bigram_count"] >= 1


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_words, min_size=1, max_size=5))
def test_crossdoc_shared_never_exceeds_distinct(spark, docs):
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["id", "text"])
    row = cu.crossdoc_ngram_dup_summary(df, "id", "text", n=2).collect()[0]
    assert 0 <= row["n_shared_ngrams"] <= row["n_distinct_ngrams"]
    assert row["max_docs_per_ngram"] is None or \
        row["max_docs_per_ngram"] <= len(docs)


def test_materialize_corpus_roundtrip(spark, sf_dir, tmp_path):
    """The curation sink writes exactly the curated keep-set with the
    input schema, partitioned by source, and the manifest matches."""
    import os
    from dataprofiler_spark.operators.pipeline import (curate_corpus,
                                                       materialize_corpus)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "curated")
    manifest = materialize_corpus(docs, "doc_id", "text", path,
                                  partition_by="source")
    expected = curate_corpus(docs, "doc_id", "text").count()
    assert manifest["rows_out"] == expected
    assert manifest["rows_in"] == docs.count()
    assert sum(manifest["partitions"].values()) == expected

    back = spark.read.parquet(path)
    assert set(back.columns) == set(docs.columns)
    kept_ids = {r["doc_id"] for r in back.select("doc_id").collect()}
    truth = {r["id"] for r in
             curate_corpus(docs, "doc_id", "text").select("id").collect()}
    assert kept_ids == truth


def test_funnel_ordering_and_dropoff(spark):
    """Funnel steps must occur in order: a user who clicked BEFORE their
    first view does not convert at step 2."""
    from dataprofiler_spark.operators.events import funnel
    rows = [
        # u1: full ordered funnel
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 00:05:00"),
        (1, "purchase", "2024-01-01 00:10:00"),
        # u2: click before view → stops at step 1
        (2, "click", "2024-01-01 00:00:00"),
        (2, "view", "2024-01-01 00:05:00"),
        # u3: view only
        (3, "view", "2024-01-01 00:00:00"),
        # u4: never viewed → not even step 1
        (4, "purchase", "2024-01-01 00:00:00"),
    ]
    df = (spark.createDataFrame(rows, "user_id long, event_type string, ts_s string")
          .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s"))
    got = {r["step"]: r for r in
           funnel(df, ["view", "click", "purchase"]).collect()}
    assert got[1]["n_users"] == 3
    assert got[2]["n_users"] == 1          # only u1 clicked after viewing
    assert got[3]["n_users"] == 1
    assert got[2]["pct_of_prev"] == round(1 / 3, 6)
    assert got[3]["pct_of_prev"] == 1.0


def test_funnel_conversion_window(spark):
    """within_seconds bounds step gaps: a click 2h after the first view
    falls outside a 1h conversion window."""
    from dataprofiler_spark.operators.events import funnel
    rows = [
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 00:30:00"),   # inside 1h window
        (2, "view", "2024-01-01 00:00:00"),
        (2, "click", "2024-01-01 02:00:00"),   # outside 1h window
    ]
    df = (spark.createDataFrame(rows, "user_id long, event_type string, ts_s string")
          .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s"))
    unbounded = {r["step"]: r["n_users"] for r in
                 funnel(df, ["view", "click"]).collect()}
    bounded = {r["step"]: r["n_users"] for r in
               funnel(df, ["view", "click"], within_seconds=3600).collect()}
    assert unbounded[2] == 2
    assert bounded[2] == 1


def test_curate_and_profile_matches_keepset(spark, sf_dir):
    import os
    from dataprofiler_spark.operators.pipeline import (curate_and_profile,
                                                       curate_corpus)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    report = curate_and_profile(docs, "doc_id", "text")
    expected = curate_corpus(docs, "doc_id", "text").count()
    assert report["global_stats"]["samples_used"] == expected
    cols = {d["column_name"] for d in report["data_stats"]}
    assert "text" in cols and "doc_id" in cols


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_words, min_size=1, max_size=5))
def test_substring_dup_bounds_and_totals(spark, docs):
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["id", "text"])
    rows = cu.substring_dup_signals(df, "id", "text", window=2).collect()
    assert len(rows) == len(docs)  # every doc present, even zero-window
    for r in rows:
        assert 0 <= r["n_dup_windows"] <= r["n_windows"]
        assert 0.0 <= r["dup_window_fraction"] <= 1.0
        expected_windows = max(len(docs[r["id"]]) - 1, 0)
        assert r["n_windows"] == expected_windows


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_words, min_size=2, max_size=5))
def test_decontaminate_self_benchmark_flags_all(spark, docs):
    """Using the corpus itself as the benchmark: every doc with >= n
    tokens must be flagged (it shares its own n-grams); shorter docs
    have no n-grams and never flag."""
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["id", "text"])
    rows = {r["id"]: r for r in
            cu.decontaminate(df, "id", "text", df, "id", "text",
                             n=2).collect()}
    for i, ws in enumerate(docs):
        if len(ws) >= 2:
            assert rows[i]["contaminated"], (i, ws)
        else:
            assert rows[i]["n_overlap_ngrams"] == 0


def test_quality_rollup_null_group_distinct_from_total(spark, duck):
    """A NULL group value must surface as '(null)', never colliding with
    the rollup grand-total '(all)' row — in the Spark plan AND the
    DuckDB oracle (GROUPING(), not COALESCE)."""
    from dataprofiler_spark.operators.textanalysis import (
        oracle_quality_rollup_sql, quality_rollup)
    from tests.oracle_utils import assert_frames_match

    rows = [(1, "some reasonable document text here", "web"),
            (2, "another document with plenty of words", None),
            (3, "third document text for the null group", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = quality_rollup(df, "text", "source").toPandas()
    groups = set(out["source"])
    assert groups == {"web", "(null)", "(all)"}
    n = dict(zip(out["source"], out["n_docs"]))
    assert n["(null)"] == 2 and n["(all)"] == 3
    duck.sql("CREATE OR REPLACE VIEW qr_null_t AS SELECT * FROM (VALUES "
             "(1, 'some reasonable document text here', 'web'),"
             "(2, 'another document with plenty of words', NULL),"
             "(3, 'third document text for the null group', NULL))"
             " AS t(doc_id, text, source)")
    ddf = duck.sql(oracle_quality_rollup_sql("qr_null_t", "text", "source")).df()
    assert_frames_match(out, ddf, "quality_rollup_null_group")


def test_interval_join_semantics(spark):
    """Half-open [start, end) bounds; intervals spanning many buckets
    match events in every covered bucket exactly once."""
    from dataprofiler_spark.operators.intervals import interval_join

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 11:59:59"),
         (1, "2024-01-01 12:00:00"),   # == end: excluded (half-open)
         (1, "2023-12-31 23:59:59"),   # before start
         (2, "2024-01-01 05:00:00")],  # other key, no interval
        "user_id long, ts string").withColumn("ts", F.to_timestamp("ts"))
    intervals = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2024-01-01 12:00:00")],
        "user_id long, w_start string, w_end string") \
        .withColumn("w_start", F.to_timestamp("w_start")) \
        .withColumn("w_end", F.to_timestamp("w_end"))
    # granularity 1h: the 12h interval explodes into 12 buckets
    out = interval_join(events, intervals, "user_id", "ts",
                        "w_start", "w_end", granularity_seconds=3600)
    matched = sorted(str(r["ts"]) for r in out.collect())
    assert matched == ["2024-01-01 00:00:00", "2024-01-01 11:59:59"]
    # each match appears exactly once despite the multi-bucket explode
    assert out.count() == out.distinct().count() == 2


def test_chunk_documents_semantics(spark):
    """Window/overlap arithmetic: exact-size docs yield one chunk; the
    final partial window is kept; consecutive chunks overlap by exactly
    overlap_tokens; de-overlapped concatenation rebuilds the doc."""
    from dataprofiler_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),   # == chunk size
         (2, " ".join(f"u{i}" for i in range(17))),   # chunk + partial
         (3, "single"),
         (4, "")],                                    # empty: dropped
        "doc_id long, text string")
    out = chunk_documents(docs, "doc_id", "text",
                          chunk_tokens=10, overlap_tokens=3)
    rows = {(r["id"], r["chunk_index"]): r for r in out.collect()}
    assert {k[0] for k in rows} == {1, 2, 3}
    assert sum(1 for k in rows if k[0] == 1) == 1
    assert rows[(1, 0)]["n_tokens"] == 10
    # doc 2 (n=17): stride 7 -> starts 0, 7; window at 7 reaches token
    # 17 so coverage is complete with TWO chunks (no redundant tail)
    two = sorted((k[1], rows[k]["n_tokens"]) for k in rows if k[0] == 2)
    assert two == [(0, 10), (1, 10)]
    # overlap check: last 3 tokens of chunk 0 == first 3 of chunk 1
    c0 = rows[(2, 0)]["chunk_text"].split()
    c1 = rows[(2, 1)]["chunk_text"].split()
    assert c0[-3:] == c1[:3]
    # reconstruction: chunk0 + de-overlapped tail rebuilds the stream
    rebuilt = c0 + c1[3:]
    assert rebuilt == [f"u{i}" for i in range(17)]
    assert rows[(3, 0)]["n_tokens"] == 1


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    from dataprofiler_spark.operators.chunking import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "the the the zebra zebra quark"),
         (2, "the the common words here"),
         (3, "the common words again here")],
        "doc_id long, text string")
    out = tfidf_top_terms(docs, "doc_id", "text", k=2)
    top1 = {r["rank"]: r["term"] for r in out.where("id = 1").collect()}
    # 'zebra' (tf=2, df=1) outscores 'the' (tf=3, df=3)
    assert top1[1] == "zebra"


def test_interval_join_equals_naive_inequality_join(spark):
    """Randomized equivalence: the bucketized interval join returns
    exactly the rows of the naive (nested-loop) inequality join, across
    bucket-boundary-straddling intervals and several granularities."""
    import random

    from dataprofiler_spark.operators.intervals import interval_join

    rnd = random.Random(1234)
    base = 1_700_000_000
    events = [(rnd.randrange(1, 6), base + rnd.randrange(0, 200_000))
              for _ in range(300)]
    ivs = []
    for _ in range(40):
        s = base + rnd.randrange(0, 200_000)
        ivs.append((rnd.randrange(1, 6), s, s + rnd.randrange(1, 30_000)))
    edf = (spark.createDataFrame(events, "k long, t long")
           .withColumn("ts", F.timestamp_seconds("t")).drop("t"))
    idf = (spark.createDataFrame(ivs, "k long, s long, e long")
           .withColumn("w_start", F.timestamp_seconds("s"))
           .withColumn("w_end", F.timestamp_seconds("e"))
           .drop("s", "e"))
    naive = (edf.alias("e").join(
        idf.alias("i"),
        (F.col("e.k") == F.col("i.k"))
        & (F.col("e.ts") >= F.col("i.w_start"))
        & (F.col("e.ts") < F.col("i.w_end")))
        .select(F.col("e.k"), F.col("e.ts"),
                F.col("i.w_start"), F.col("i.w_end")))
    want = sorted(map(tuple, naive.collect()))
    for g in (60, 3600, 100_000):
        got = sorted(map(tuple, interval_join(
            edf, idf, "k", "ts", "w_start", "w_end",
            granularity_seconds=g).collect()))
        assert got == want, f"granularity={g}"


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_words, min_size=1, max_size=8),
       st.integers(min_value=2, max_value=6),
       st.integers(min_value=0, max_value=3))
def test_chunking_invariants(spark, docs, chunk_tokens, overlap):
    """For ANY corpus and window config: every token is covered, chunk
    lengths never exceed the window, de-overlapped concatenation
    rebuilds each doc exactly."""
    from dataprofiler_spark.operators.chunking import chunk_documents

    if overlap >= chunk_tokens:
        overlap = chunk_tokens - 1
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], ["id", "text"])
    out = chunk_documents(df, "id", "text", chunk_tokens, overlap)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        assert 1 <= r["n_tokens"] <= chunk_tokens
        by_doc.setdefault(r["id"], []).append(
            (r["chunk_index"], r["chunk_text"].split()))
    for i, ws in enumerate(docs):
        if not ws:
            assert i not in by_doc  # empty docs yield no chunks
            continue
        chunks = [c for _, c in sorted(by_doc[i])]
        rebuilt = list(chunks[0])
        for c in chunks[1:]:
            assert rebuilt[-overlap:] == c[:overlap] if overlap else True
            rebuilt.extend(c[overlap:])
        assert rebuilt == ws


def test_interval_join_explode_guard(spark):
    """A degenerate interval spanning more buckets than the cap fails
    loudly (a silent cap would drop matches)."""
    import pytest

    from dataprofiler_spark.operators.intervals import interval_join

    events = (spark.createDataFrame([(1, 1_700_000_000)], "k long, t long")
              .withColumn("ts", F.timestamp_seconds("t")).drop("t"))
    wide = (spark.createDataFrame(
        [(1, 1_700_000_000, 1_700_000_000 + 86400 * 365)],
        "k long, s long, e long")
        .withColumn("w_start", F.timestamp_seconds("s"))
        .withColumn("w_end", F.timestamp_seconds("e")).drop("s", "e"))
    with pytest.raises(Exception, match="buckets"):
        interval_join(events, wide, "k", "ts", "w_start", "w_end",
                      granularity_seconds=60,
                      max_buckets_per_interval=1000).collect()
    # under the cap: fine
    assert interval_join(events, wide, "k", "ts", "w_start", "w_end",
                         granularity_seconds=86400).count() == 1


def test_unigram_logprob_orders_quality(spark):
    """Docs made of corpus-common tokens score higher (less negative)
    than docs of one-off rare tokens; n_tokens is exact."""
    from dataprofiler_spark.operators.textanalysis import (
        unigram_logprob_scores)

    rows = [(i, "the cat sat on the mat") for i in range(5)]
    rows += [(100, "the cat sat on the mat"),      # all-common doc
             (101, "zqx wvu ptk jhg bnm lkj")]     # all-unique doc
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in
           unigram_logprob_scores(df, "doc_id", "text").collect()}
    assert out[100]["n_tokens"] == 6 and out[101]["n_tokens"] == 6
    assert out[100]["avg_logprob"] > out[101]["avg_logprob"]
    assert out[101]["avg_logprob"] < -3.0  # ~ln(1/42)


def test_bigram_logprob_separates_word_salad(spark):
    """Shuffled word salad keeps the SAME unigram distribution as the
    coherent corpus but scores lower on bigram transitions — the
    signal the bigram scorer adds over the unigram one."""
    from dataprofiler_spark.operators.textanalysis import (
        bigram_logprob_scores, unigram_logprob_scores)

    coherent = "the cat sat on the mat"
    rows = [(i, coherent) for i in range(6)]
    rows += [(100, coherent),
             (101, "mat the on sat cat the")]   # same tokens, salad order
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni = {r["id"]: r["avg_logprob"] for r in
           unigram_logprob_scores(df, "doc_id", "text").collect()}
    bi = {r["id"]: r for r in
          bigram_logprob_scores(df, "doc_id", "text").collect()}
    # Unigram can't separate them; bigram can.
    assert uni[100] == uni[101]
    assert bi[100]["avg_logprob"] > bi[101]["avg_logprob"]
    assert bi[100]["n_bigrams"] == 5
    # A doc of always-repeated transitions scores ln(1) = 0 ceiling.
    assert bi[100]["avg_logprob"] <= 0.0


def test_bigram_logprob_short_and_null_docs_excluded(spark):
    from dataprofiler_spark.operators.textanalysis import (
        bigram_logprob_scores)

    df = spark.createDataFrame(
        [(1, "a b"), (2, "only"), (3, None), (4, ""), (5, "   ")],
        "doc_id long, text string")
    out = bigram_logprob_scores(df, "doc_id", "text").collect()
    assert [r["id"] for r in out] == [1]
    # Single doc, single bigram: P(b|a) = 1 → avg_logprob exactly 0.
    assert out[0]["n_bigrams"] == 1 and out[0]["avg_logprob"] == 0.0


def test_bigram_logprob_oracle_parity_dirty(spark, tmp_path):
    import duckdb

    from dataprofiler_spark.operators.textanalysis import (
        bigram_logprob_scores, oracle_bigram_logprob_sql)
    from tests.oracle_utils import assert_frames_match

    rows = [(1, "the cat sat on the mat"), (2, None), (3, ""),
            (4, "solo"), (5, "THE CAT the cat"), (6, "a a a a a a"),
            (7, "ünï çödé ünï çödé"), (8, "x " * 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p = str(tmp_path / "docs.parquet")
    df.write.mode("overwrite").parquet(p)
    got = bigram_logprob_scores(spark.read.parquet(p),
                                "doc_id", "text").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM '{p}/*.parquet'")
    want = con.execute(oracle_bigram_logprob_sql(
        "docs", "doc_id", "text")).fetchdf()
    assert_frames_match(got, want, "bigram_dirty")


def test_collocations_pmi_finds_fixed_phrase(spark):
    """A rigid two-word phrase scores the PMI ceiling; a pair of
    independent common words scores near zero and ranks below it."""
    import math

    import pytest

    from dataprofiler_spark.operators.textanalysis import collocations_pmi

    # "hong kong" always together; "the" pairs promiscuously.
    rows = [(i, "hong kong the end the start") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = collocations_pmi(df, "text", k=10, min_count=5).collect()
    top = out[0]
    assert (top["w1"], top["w2"]) == ("hong", "kong")
    # PMI("hong","kong") = ln(cb·N²/(Nb·c1·c2)) with cb=c1=c2=10,
    # N=60, Nb=50: ln(3600/(50·10)) = ln 7.2.
    assert top["pmi"] == pytest.approx(math.log(7.2), abs=1e-6)
    ranked = {(r["w1"], r["w2"]): r["rank"] for r in out}
    assert ranked[("hong", "kong")] < ranked[("the", "end")]


def test_collocations_pmi_min_count_filters(spark):
    from dataprofiler_spark.operators.textanalysis import collocations_pmi

    rows = [(1, "rare pair"), (2, None), (3, "")]
    rows += [(10 + i, "common duo") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = collocations_pmi(df, "text", k=10, min_count=5).collect()
    assert [(r["w1"], r["w2"]) for r in out] == [("common", "duo")]


def test_packing_stats_identities(spark, sf_dir):
    """The packing audit's columns satisfy exact accounting identities:
    usable + truncated = total, padding = n_docs*context - usable, and
    the window lower bound is tight (ceil of usable/context)."""
    import math

    from dataprofiler_spark.operators.chunking import packing_stats
    from dataprofiler_spark.queries import T

    ctx = 256
    r = packing_stats(T(spark, sf_dir, "documents"), "doc_id", "text",
                      context_len=ctx).collect()[0]
    usable = r["total_tokens"] - r["truncated_tokens"]
    assert r["padding_waste_1doc"] == r["n_docs"] * ctx - usable
    assert r["packed_windows_lb"] == math.ceil(usable / ctx)
    assert 0.0 < r["packing_efficiency"] <= 1.0
    assert 0 <= r["docs_over_context"] <= r["n_docs"]


def test_hashed_doc_vectors_bridge_semantics(spark):
    """The hashing-trick vectors behave like document vectors: identical
    docs map to identical vectors; disjoint-vocabulary docs share no
    nonzero dimension contributions beyond hash collisions; every doc
    emits exactly dim dense rows."""
    from dataprofiler_spark.operators.textanalysis import hashed_doc_vectors

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "zeta eta theta iota kappa")],
        ["id", "text"])
    rows = hashed_doc_vectors(df, "id", "text", dim=8).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], {})[r["dpos"]] = r["value"]
    assert all(len(v) == 8 for v in by_id.values())
    assert by_id[1] == by_id[2]                     # identical docs
    assert by_id[1] != by_id[3]
    # token multiplicity accumulates: "alpha alpha" doubles alpha's slot
    df2 = spark.createDataFrame([(1, "alpha"), (2, "alpha alpha")],
                                ["id", "text"])
    v: dict = {}
    for r in hashed_doc_vectors(df2, "id", "text", dim=8).collect():
        v.setdefault(r["id"], {})[r["dpos"]] = r["value"]
    assert {d: 2 * x for d, x in v[1].items()} == v[2]


def test_hashed_cosine_topk_finds_duplicate(spark):
    """A near-duplicate of the query doc ranks first with cosine ~1;
    an unrelated doc ranks below it."""
    from dataprofiler_spark.operators.textanalysis import hashed_cosine_topk

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),      # exact dup of 1
         (3, "alpha beta gamma delta zeta"),          # near dup
         (4, "omicron pi rho sigma tau")],            # unrelated
        ["id", "text"])
    rows = hashed_cosine_topk(df, "id", "text", query_id=1, k=3,
                              dim=64).collect()
    ranked = sorted(rows, key=lambda r: r["rank"])
    assert ranked[0]["id"] == 2 and abs(ranked[0]["cosine"] - 1.0) < 1e-9
    assert ranked[1]["id"] == 3 and ranked[1]["cosine"] > 0.5
    ids = [r["id"] for r in ranked]
    assert ids.index(2) < ids.index(4) if 4 in ids else True


def test_zipf_vocab_stats_semantics(spark):
    """A perfectly Zipfian corpus (freq = C/rank) fits slope ~ -1; all
    richness counters are exact."""
    from dataprofiler_spark.operators import textanalysis as ta

    # term t_r appears floor(120/r) times, r = 1..12
    words = []
    for r in range(1, 13):
        words += [f"w{r:02d}"] * (120 // r)
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    row = ta.zipf_vocab_stats(df, "text", max_rank=12).collect()[0]
    assert row["vocab_size"] == 12
    assert row["n_tokens"] == sum(120 // r for r in range(1, 13))
    assert row["top_freq"] == 120
    assert row["hapax_count"] == 0
    assert -1.05 < row["zipf_slope"] < -0.95

    # hapax-heavy corpus: every word unique -> slope 0 (flat), ttr 1
    uniq = spark.createDataFrame(
        [(1, " ".join(f"u{i}" for i in range(50)))],
        "doc_id long, text string")
    r2 = ta.zipf_vocab_stats(uniq, "text", max_rank=50).collect()[0]
    assert r2["type_token_ratio"] == 1.0 and r2["hapax_ratio"] == 1.0
    assert r2["zipf_slope"] == 0.0


def test_markup_signals_semantics(spark):
    from dataprofiler_spark.operators import textanalysis as ta

    rows = [
        (0, "<div class='x'>hello</div> &amp; <b>world</b>"),
        (1, "clean prose with no markup at all in a longer sentence"),
        (2, "mojibake �� here"),
        (3, "ctrl\x01\x02 chars"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in
           ta.markup_signals(df, "doc_id", "text").collect()}
    assert out[0]["tag_count"] == 4 and out[0]["entity_count"] == 1
    assert out[0]["is_markupy"]
    assert out[1]["tag_count"] == 0 and not out[1]["is_markupy"]
    assert out[2]["replacement_count"] == 2
    assert out[3]["control_char_count"] == 2
    assert out[4]["n_chars"] == 0 and not out[4]["is_markupy"]


def test_paragraph_dup_signals_semantics(spark):
    """Shared paragraphs flag on BOTH docs; short blocks don't count;
    char-weighting reflects the duplicated share; NULL/para-less docs
    report zeros."""
    from dataprofiler_spark.operators import curation as cu

    boiler = ("subscribe to our newsletter for more great content "
              "delivered daily to your inbox")
    uniq_a = "a genuinely unique analytical paragraph about spark plans"
    uniq_b = "another unique paragraph that appears exactly once only"
    rows = [
        (1, uniq_a + "\n\n" + boiler),
        (2, uniq_b + "\n\n" + boiler + "\n\nhi"),   # "hi" < min_chars
        (3, "one single unique paragraph with no duplication at all"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in cu.paragraph_dup_signals(
        df, "doc_id", "text").collect()}
    assert out[1]["n_paras"] == 2 and out[1]["n_dup_paras"] == 1
    assert out[2]["n_paras"] == 2 and out[2]["n_dup_paras"] == 1
    assert out[1]["dup_para_ratio"] == 0.5
    # char weighting: boiler is longer than uniq_a -> ratio > 0.5
    assert out[1]["dup_char_ratio"] > 0.5
    assert out[3]["n_dup_paras"] == 0 and out[3]["dup_char_ratio"] == 0.0
    assert out[4]["n_paras"] == 0 and out[4]["dup_para_ratio"] == 0.0

    # whitespace normalization: reflowed copies still match
    reflow = spark.createDataFrame(
        [(1, "shared paragraph with   extra  spaces inside this block"),
         (2, "shared paragraph with extra spaces inside this block")],
        "doc_id long, text string")
    o2 = {r["id"]: r for r in cu.paragraph_dup_signals(
        reflow, "doc_id", "text").collect()}
    assert o2[1]["n_dup_paras"] == 1 and o2[2]["n_dup_paras"] == 1


def test_funnel_keep_policy_oracle_parity(spark):
    """curate_corpus_semantic(keep="centroid_far") — the SemDeDup
    paper's exemplar rule threaded through the composed funnel — must
    hash-match its SQL twin end-to-end (the registered driver rows pin
    only the min_id default; this pins the pass-through)."""
    import duckdb

    from dataprofiler_spark.operators import pipeline as pl
    from tests.oracle_utils import assert_frames_match

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    got = pl.curate_corpus_semantic(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        semantic_threshold=0.3, k_clusters="auto", target_cell_size=100,
        iters=2, keep="centroid_far").toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{sf}/{t}.parquet'")
    want = con.execute(pl.oracle_curate_corpus_semantic_sql(
        "documents", "doc_id", "text", "embeddings", "vec_id",
        "embedding", semantic_threshold=0.3, k_clusters="auto",
        target_cell_size=100, iters=2, dim=64,
        keep="centroid_far")).fetchdf()
    assert_frames_match(got, want, "funnel_centroid_far")
    # the policy genuinely changes the exemplar set vs min_id
    base = pl.curate_corpus_semantic(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        semantic_threshold=0.3, k_clusters="auto", target_cell_size=100,
        iters=2, keep="min_id").toPandas()
    assert int(got["n_semantic_kept"][0]) != 0
    assert (int(got["n_semantic_kept"][0])
            != int(base["n_semantic_kept"][0])
            or int(got["total_tokens_out"][0])
            != int(base["total_tokens_out"][0]))


def test_funnel_missing_embedding_audit(spark):
    """n_missing_embedding (VERDICT r11 item 9): text-stage survivors
    with no embedding row are dropped from the semantic stage — the
    funnel report must COUNT them, not lose them silently. Pin: strip
    half the embedding rows; the audit column equals the survivors
    that lost their vector, and n_semantic_kept + the drops still
    bound n_text_curated."""
    from dataprofiler_spark.operators import pipeline as pl

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    emb_half = emb.where(F.col("vec_id") % 2 == 0)

    full = pl.curate_corpus_semantic(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        k_clusters="auto", target_cell_size=100, iters=2
    ).toPandas().iloc[0]
    half = pl.curate_corpus_semantic(
        docs, "doc_id", "text", emb_half, "vec_id", "embedding",
        k_clusters="auto", target_cell_size=100, iters=2
    ).toPandas().iloc[0]

    assert int(full["n_missing_embedding"]) == 0
    # exact expected count: curated survivors whose doc_id is odd
    # (vec_id == doc_id in the testdata embeddings table)
    from dataprofiler_spark.operators.pipeline import curate_corpus
    curated_ids = {r["id"] for r in
                   curate_corpus(docs, "doc_id", "text").collect()}
    emb_ids = {r["vec_id"] for r in emb_half.select("vec_id").collect()}
    assert int(half["n_missing_embedding"]) == len(curated_ids - emb_ids)
    assert (int(half["n_semantic_kept"]) + int(half["n_missing_embedding"])
            <= int(half["n_text_curated"]))


def test_unpersist_plan_releases_operator_caches(spark, monkeypatch):
    """ADVICE r11: operators that persist shared intermediates pinned
    them with no release handle. register_persisted/unpersist_plan is
    that handle — after the final action + unpersist_plan, the
    session's persistent RDD set is back where it started (funnel
    propagates its semantic stage's frames too)."""
    from dataprofiler_spark.operators import clustering as cl
    from dataprofiler_spark.operators import dedup as dd
    from dataprofiler_spark.operators import pipeline as pl
    from dataprofiler_spark.session import unpersist_plan

    spark.catalog.clearCache()
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")

    # delta-based: earlier tests in the shared session can leave final
    # localCheckpoint RDDs (graph loops) for the ContextCleaner — this
    # test asserts only what THESE calls add and release
    def pinned():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()
                   .toArray())

    before = pinned()
    pairs = dd.winnow_neardup_pairs(docs, "doc_id", "text")
    pairs.count()
    assert len(pinned() - before) == 1
    assert unpersist_plan(pairs) == 1
    assert pinned() - before == set()

    # (operator output, handles it registers): the signature frame; the
    # wide aggregate + bucket sizes + bucket keys of the auto cap; the
    # assign frame of the two-level semantic path
    # (built one at a time: semantic_dedup materializes its frame eagerly)
    monkeypatch.setattr(cl, "TWO_LEVEL_MIN_K", 1)
    for build, n_handles in (
            (lambda: dd.simhash_neardup_pairs(docs, "doc_id", "text"), 1),
            (lambda: dd.minhash_lsh_pairs(docs, "doc_id", "text",
                                          max_bucket_size="auto"), 3),
            (lambda: cl.semantic_dedup(emb, "vec_id", "embedding",
                                       target_cell_size=50, iters=2), 1)):
        out = build()
        out.collect()
        assert len(pinned() - before) == n_handles
        assert unpersist_plan(out) == n_handles
        assert pinned() - before == set()
    monkeypatch.undo()

    rep = pl.curate_corpus_semantic(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        k_clusters="auto", target_cell_size=100, iters=2)
    rep.collect()
    assert unpersist_plan(rep) == 2   # curated keep-set + assign frame
    assert pinned() - before == set()
    assert unpersist_plan(rep) == 0   # idempotent


def test_funnel_two_level_passthrough(spark, monkeypatch):
    """curate_corpus_semantic routes the semantic stage through the
    hierarchical quantizer once k reaches TWO_LEVEL_MIN_K: same report
    schema, sane counts, and forcing it at tiny scale (the constant
    lowered to 1) still produces a valid funnel row (kept + guarded
    bounded by the text survivors)."""
    from dataprofiler_spark.operators import clustering as cl
    from dataprofiler_spark.operators import pipeline as pl

    monkeypatch.setattr(cl, "TWO_LEVEL_MIN_K", 1)

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    row = pl.curate_corpus_semantic(
        docs, "doc_id", "text", emb, "vec_id", "embedding",
        target_cell_size=50, iters=2).toPandas().iloc[0]
    assert int(row["n_semantic_kept"]) > 0
    assert (int(row["n_semantic_kept"])
            <= int(row["n_text_curated"]) - int(row["n_missing_embedding"]))
    assert int(row["n_semantic_guarded"]) == 0
