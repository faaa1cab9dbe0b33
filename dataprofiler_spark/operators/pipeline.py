"""Corpus curation pipeline — the composed training-data use case.

Chains the engine's operators the way a real 100 TB pretraining-data
job does:

    raw docs ─ quality filter ─ exact dedup (keep lowest id per
    fingerprint) ─ near-dup drop (SimHash bucket, keep lowest id) ─
    token budget report

Every stage is expression-only, so Catalyst pipelines the quality filter
INTO the scan (predicate pushdown on a derived column's inputs), the
dedup is one shuffle on the fingerprint, and the near-dup stage one
shuffle on the simhash — three shuffles end-to-end regardless of corpus
size, each keyed on a uniform hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dataprofiler_spark.session import register_persisted


def curate_corpus(df: DataFrame, id_col: str, text_col: str,
                  min_quality: float = 0.45) -> DataFrame:
    """Returns the curated corpus (id, n_tokens) after quality filtering,
    exact dedup, and simhash near-dup collapse (deterministic keeper:
    lowest id)."""
    from dataprofiler_spark.operators.dedup import simhash
    from dataprofiler_spark.operators.textanalysis import quality_features

    q = quality_features(df, id_col, text_col)
    kept = q.where(F.col("quality_score") >= min_quality).select("id", "n_tokens")

    fp = df.select(
        F.col(id_col).alias("id"),
        F.md5(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "))
         .alias("fp"))
    w_fp = Window.partitionBy("fp").orderBy("id")
    exact_keep = (fp.withColumn("rn", F.row_number().over(w_fp))
                  .where(F.col("rn") == 1).select("id"))

    sh = simhash(df, id_col, text_col)
    w_sh = Window.partitionBy("simhash").orderBy("id")
    near_keep = (sh.withColumn("rn", F.row_number().over(w_sh))
                 .where(F.col("rn") == 1).select("id"))

    return kept.join(exact_keep, "id").join(near_keep, "id")


def materialize_corpus(df: DataFrame, id_col: str, text_col: str,
                       path: str, partition_by: str | None = None,
                       min_quality: float = 0.45,
                       max_records_per_file: int = 100_000,
                       compression: str = "zstd") -> dict:
    """Run the curation pipeline and WRITE the surviving documents — the
    sink step of a pretraining-data job.

    Output: parquet at ``path``, optionally partitioned by a column
    (e.g. source), with ``maxRecordsPerFile`` bounding file sizes so
    downstream trainers get uniform shards (a 100 TB write otherwise
    produces files sized by upstream partition skew). Returns a manifest
    dict: rows in/out and per-partition row counts.

    The keep-set join is a left-semi (curated ids never widen the row),
    and the write preserves the INPUT schema — curation decides
    membership, not shape."""
    curated = curate_corpus(df, id_col, text_col, min_quality)
    keep = curated.select(F.col("id").alias(id_col))
    out = df.join(keep, id_col, "left_semi")
    writer = (out.write.mode("overwrite")
              .option("maxRecordsPerFile", max_records_per_file)
              .option("compression", compression))
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(path)

    spark = df.sparkSession
    written = spark.read.parquet(path)
    manifest = {
        "path": path,
        "rows_in": df.count(),
        "rows_out": written.count(),
        "partition_by": partition_by,
    }
    if partition_by:
        manifest["partitions"] = {
            str(r[partition_by]): r["n"]
            for r in written.groupBy(partition_by)
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
    return manifest


def curate_and_profile(df: DataFrame, id_col: str, text_col: str,
                       min_quality: float = 0.45) -> dict:
    """Curate, then run the full profiler over the SURVIVING corpus —
    the QA report a pipeline run ships alongside its output shards
    (catches curation bugs like a filter that empties a source or skews
    a length distribution before training starts).

    Returns the standard Profiler report; the curated row set is the
    same left-semi keep-set materialize_corpus writes."""
    from dataprofiler_spark.plans.profile_plan import Profiler

    keep = (curate_corpus(df, id_col, text_col, min_quality)
            .select(F.col("id").alias(id_col)))
    out = df.join(keep, id_col, "left_semi")
    return Profiler(out).report()


def corpus_report(df: DataFrame, id_col: str, text_col: str,
                  min_quality: float = 0.45) -> DataFrame:
    """(n_docs_in, n_docs_out, total_tokens_out, avg_tokens_out) — the
    one-row summary a pipeline run logs."""
    curated = curate_corpus(df, id_col, text_col, min_quality)
    n_in = df.select(F.count(F.lit(1)).alias("n_docs_in"))
    out = curated.agg(
        F.count(F.lit(1)).alias("n_docs_out"),
        F.sum("n_tokens").alias("total_tokens_out"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens_out"),
    )
    return n_in.crossJoin(out)


def _corpus_curated_ctes(table: str, id_col: str, text_col: str,
                         min_quality: float) -> str:
    """CTE chain of :func:`curate_corpus` ending at ``curated``
    (id, n_tokens) — shared by the report oracle and the composed
    semantic-curation oracle."""
    from dataprofiler_spark.operators.dedup import oracle_simhash_sql
    from dataprofiler_spark.operators.textanalysis import \
        oracle_quality_features_sql

    quality = oracle_quality_features_sql(table, id_col, text_col)
    sim = oracle_simhash_sql(table, id_col, text_col)
    return f"""q AS ({quality}),
kept AS (SELECT id, n_tokens FROM q WHERE quality_score >= {min_quality}),
fp AS (
  SELECT {id_col} AS id,
         md5(regexp_replace(TRIM(LOWER({text_col})), '\\s+', ' ', 'g')) AS fp
  FROM {table}
),
exact_keep AS (
  SELECT id FROM (
    SELECT id, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY id) AS rn FROM fp
  ) WHERE rn = 1
),
sh AS ({sim}),
near_keep AS (
  SELECT id FROM (
    SELECT id, ROW_NUMBER() OVER (PARTITION BY simhash ORDER BY id) AS rn
    FROM sh
  ) WHERE rn = 1
),
curated AS (
  SELECT kept.id, kept.n_tokens FROM kept
  JOIN exact_keep USING (id) JOIN near_keep USING (id)
)"""


def oracle_corpus_report_sql(table: str, id_col: str, text_col: str,
                             min_quality: float = 0.45) -> str:
    return f"""
WITH {_corpus_curated_ctes(table, id_col, text_col, min_quality)}
SELECT (SELECT COUNT(*) FROM {table}) AS n_docs_in,
       COUNT(*) AS n_docs_out,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens_out,
       ROUND(AVG(n_tokens), 6) AS avg_tokens_out
FROM curated
"""


def curate_corpus_semantic(df: DataFrame, id_col: str, text_col: str,
                           embeddings: DataFrame, emb_id_col: str,
                           emb_vec_col: str, min_quality: float = 0.45,
                           semantic_threshold: float = 0.3,
                           k_clusters: int | str = "auto",
                           iters: int = 2,
                           round_digits: int = 6,
                           max_cluster_size: int = 10_000,
                           target_cell_size: int = 2_000,
                           keep: str = "min_id") -> DataFrame:
    """The full modern curation chain, one composed plan:

        quality filter → exact dedup → SimHash near-dup → SemDeDup

    The semantic stage runs over the embeddings of the TEXT-STAGE
    SURVIVORS only (a doc already dropped by cheaper stages never
    knocks out a survivor, and the k-means fit sees the corpus that
    actually ships), joined ``df.{id_col} == embeddings.{emb_id_col}``;
    survivors without an embedding row are dropped — and COUNTED: the
    report row carries ``n_missing_embedding``, so an embed-lazily
    pipeline that silently lost semantic coverage shows it in the
    funnel log (the ``guarded`` audit pattern; VERDICT r11 item 9).
    Returns one row: (n_docs_in, n_text_curated, n_missing_embedding,
    n_semantic_guarded, n_semantic_kept, total_tokens_out).

    Plan: the three text stages are the three keyed shuffles of
    curate_corpus; the semantic stage adds the SemDeDup shape
    (broadcast-literal assign + cluster-keyed pair join) over the
    already-curated subset — each stage shrinks the next stage's
    input, cheapest first, the curation-funnel discipline."""
    from dataprofiler_spark.operators.clustering import semantic_dedup

    # persist: the curated keep-set feeds THREE plan subtrees (the
    # semantic join, the final join, and the n_text_curated count) —
    # without it each subtree re-runs the 3-shuffle text chain (same
    # persist discipline as minhash_lsh_pairs; the report carries the
    # release handle, see below).
    curated = curate_corpus(df, id_col, text_col, min_quality).persist()
    emb = (embeddings
           .select(F.col(emb_id_col).alias("id"),
                   F.col(emb_vec_col).alias("v"))
           .join(curated.select("id"), "id"))
    sd = semantic_dedup(emb, "id", "v", k_clusters=k_clusters,
                        iters=iters, threshold=semantic_threshold,
                        round_digits=round_digits,
                        max_cluster_size=max_cluster_size,
                        target_cell_size=target_cell_size, keep=keep)
    final = curated.join(sd.where(F.col("keep")).select("id"), "id")
    n_in = df.select(F.count(F.lit(1)).alias("n_docs_in"))
    n_text = curated.agg(F.count(F.lit(1)).alias("n_text_curated"))
    # n_missing_embedding: text-stage survivors with no embedding row —
    # they skip the semantic stage entirely (they can neither be kept
    # nor dropped by it), so a non-zero count means the funnel's
    # semantic coverage silently shrank. Anti-join on the pruned
    # (id-only) embedding scan; curated is persisted above.
    n_noemb = (curated.join(
        embeddings.select(F.col(emb_id_col).alias("id")).distinct(),
        "id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n_missing_embedding")))
    # n_semantic_guarded: rows whose cell failed OPEN (skipped pair
    # generation) — the dropped-coverage audit. A run where this isn't
    # ~0 silently deduped nothing in those cells (VERDICT r10 item 1);
    # surfacing it in the funnel's one-row report makes the pipeline
    # log carry the warning, not just the per-row operator output.
    n_guard = sd.agg(
        F.coalesce(F.sum(F.col("guarded").cast("long")), F.lit(0))
        .alias("n_semantic_guarded"))
    out = final.agg(
        F.count(F.lit(1)).alias("n_semantic_kept"),
        F.sum("n_tokens").alias("total_tokens_out"))
    report = (n_in.crossJoin(n_text).crossJoin(n_noemb)
              .crossJoin(n_guard).crossJoin(out))
    # release handle: unpersist_plan(report) drops the curated keep-set
    # AND the semantic stage's pinned assign frame (propagated from sd).
    register_persisted(report, curated,
                       *getattr(sd, "_dps_persisted", []))
    return report


def oracle_curate_corpus_semantic_sql(table: str, id_col: str,
                                      text_col: str, emb_table: str,
                                      emb_id_col: str, emb_vec_col: str,
                                      min_quality: float = 0.45,
                                      semantic_threshold: float = 0.3,
                                      k_clusters: int | str = "auto",
                                      iters: int = 2,
                                      round_digits: int = 6,
                                      max_cluster_size: int = 10_000,
                                      dim: int = 64,
                                      target_cell_size: int = 2_000,
                                      keep: str = "min_id") -> str:
    from dataprofiler_spark.operators.clustering import \
        _semantic_dedup_ctes

    emb_subq = (f"(SELECT em.{emb_id_col}, em.{emb_vec_col} "
                f"FROM {emb_table} em "
                f"JOIN curated ON em.{emb_id_col} = curated.id)")
    sem = _semantic_dedup_ctes(emb_subq, emb_id_col, emb_vec_col,
                               k_clusters, iters, semantic_threshold,
                               round_digits, max_cluster_size, dim,
                               target_cell_size, keep)
    return f"""
WITH {_corpus_curated_ctes(table, id_col, text_col, min_quality)},
{sem},
sem_keep AS (
  SELECT cells.id FROM cells
  LEFT JOIN drops ON cells.id = drops.id
  WHERE drops.id IS NULL
)
SELECT (SELECT COUNT(*) FROM {table}) AS n_docs_in,
       (SELECT COUNT(*) FROM curated) AS n_text_curated,
       (SELECT COUNT(*) FROM curated c
        WHERE NOT EXISTS (SELECT 1 FROM {emb_table} e
                          WHERE e.{emb_id_col} = c.id))
         AS n_missing_embedding,
       (SELECT CAST(COALESCE(SUM(CASE WHEN csz.n > {max_cluster_size}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM cells JOIN csz USING (cluster)) AS n_semantic_guarded,
       COUNT(*) AS n_semantic_kept,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens_out
FROM curated JOIN sem_keep USING (id)
"""


def clean_sample(df, id_col: str, text_col: str, benchmark,
                 bench_id_col: str, bench_text_col: str,
                 fraction: float = 0.2, n: int = 8, min_overlap: int = 1,
                 seed: str = "dps-sample-v1"):
    """Contamination-safe sampling: benchmark-decontaminate, keep only
    clean documents, then deterministic hash-sample — the composed
    "draw an eval-safe training subset" step, one operator call.

    The composition stays one plan: the decontamination overlap join
    (benchmark grams broadcast) feeds a pure hash filter — no extra
    scan, no extra shuffle beyond decontaminate's own doc-keyed
    groupBy. Output: (id, n_overlap_ngrams) of the sampled clean docs.
    """
    from pyspark.sql import functions as F

    from dataprofiler_spark.operators.curation import decontaminate
    from dataprofiler_spark.operators.sampling import hash_fraction_expr

    dec = decontaminate(df, id_col, text_col, benchmark,
                        bench_id_col, bench_text_col, n=n,
                        min_overlap=min_overlap)
    return (dec.where(~F.col("contaminated"))
            .where(hash_fraction_expr(F.col("id"), seed) < fraction)
            .select("id", "n_overlap_ngrams"))


def oracle_clean_sample_sql(table: str, id_col: str, text_col: str,
                            bench_filter: str, fraction: float = 0.2,
                            n: int = 8, min_overlap: int = 1,
                            seed: str = "dps-sample-v1") -> str:
    from dataprofiler_spark.operators.curation import \
        oracle_decontaminate_sql
    from dataprofiler_spark.operators.sampling import _duck_hash_fraction

    inner = oracle_decontaminate_sql(table, id_col, text_col, bench_filter,
                                     n=n, min_overlap=min_overlap)
    return f"""
SELECT id, n_overlap_ngrams FROM ({inner}) q
WHERE NOT contaminated AND {_duck_hash_fraction("id", seed)} < {fraction}
"""
