"""Training-data mixture construction: per-source token budgets and
deterministic train/val/test splits.

LLM pretraining corpora are *mixtures*: each source (web, code, books,
wiki, ...) contributes a target share of the token budget (GPT-3 /
The Pile / LLaMA-style sampling weights). The reference profiler has no
mixture surface; this module supplies the two operations every mixture
build needs, designed 100-TB-first:

- ``data_mixture``: given per-source weights and a total token budget,
  compute each source's keep-rate and sample it down with the
  deterministic md5 filter from :mod:`.sampling`. Pass 1 is one
  map-side-combined ``groupBy(source)`` whose result is O(#sources)
  (collected with an explicit cap — a mixture spec with 10^6 sources is
  a spec bug, not a scale case); pass 2 is a pure filter + one more
  ``groupBy``. No joins, no windows; the filter pushes down past column
  pruning, so the 100-TB scan reads only (group, id, text).

- ``split_manifest``: hash the document id into [0,1) and carve
  train/val/test by cumulative fraction boundaries. A pure projection +
  one ``groupBy(split)``; the same id lands in the same split on every
  engine, partitioning, and rerun (``sampling.hash_fraction_expr``
  is md5-based so DuckDB oracles reproduce the decision bit-for-bit),
  and shrinking a fraction yields a nested subset (stable holdouts as
  the corpus version advances).

Outputs are integer-only summaries (counts / floored token targets):
no float columns, so oracle value-hashes cannot drift on rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.dedup import \
    DEFAULT_MAX_BUCKET_SIZE as _DEF_BUCKET

import math

from ..dp_logging import get_logger
from .sampling import (_duck_hash_fraction, hash_fraction_expr,
                       lookup_fraction_expr, stratified_hash_sample)
from .textanalysis import TOKEN_COUNT_SQL as _TOKENS_SQL
from .textanalysis import token_count_expr

# Pass-1 collect guard: the per-group totals row count is the number of
# distinct mixture groups. Real corpora have O(10-1000) sources; beyond
# this cap the weights dict could not have been authored by hand either.
MAX_GROUPS = 10_000


def mixture_rates(df: DataFrame, group_col: str, text_col: str,
                  weights: dict[str, float], token_budget: int,
                  ) -> dict[str, tuple[int, float]]:
    """Pass 1: per-group total tokens -> {group: (total_tokens, keep_rate)}.

    keep_rate = min(1, budget * weight / total_tokens): the fraction of
    the group's documents (hence, in expectation, of its tokens) that
    hits the group's token target. Groups absent from ``weights`` get
    rate 0 (dropped from the mixture but still reported).
    """
    tc = token_count_expr(text_col)
    rows = (df.groupBy(group_col).agg(F.sum(tc).alias("t"))
              .limit(MAX_GROUPS + 1).collect())
    if len(rows) > MAX_GROUPS:
        raise ValueError(
            f"data_mixture: more than {MAX_GROUPS} distinct values in "
            f"{group_col!r}; a mixture over that many groups is a spec "
            f"error (pre-bucket the group column first)")
    out: dict[str, tuple[int, float]] = {}
    for r in rows:
        total = int(r["t"] or 0)
        w = float(weights.get(r[group_col], 0.0))
        # literal (token_budget * w) / total — the DuckDB oracle spells
        # the same double ops in the same order, so the keep/drop
        # comparison below reproduces bit-for-bit.
        rate = min(1.0, (token_budget * w) / total) if total > 0 else 0.0
        out[r[group_col]] = (total, rate)
    absent = sorted(set(weights) - set(out))
    if absent:
        # a misspelled/missing weighted source silently forfeits its
        # budget share — no corpus row exists to carry an audit line,
        # so surface it loudly here instead.
        get_logger().warning(
            "data_mixture: weighted sources absent from the corpus "
            "(their budget share is unfilled): %s", absent)
    return out


def _rate_fractions(rates: dict[str, tuple[int, float]]
                    ) -> dict[str, float]:
    """Nonzero keep-fractions only: the CASE chain stays O(#weighted
    sources) (rate-0 groups are the default branch), never O(#distinct
    groups) — a 10k-branch nested CASE would blow the Catalyst stack.
    Also keeps a NULL group key (unsortable, unmatchable by CASE
    equality anyway) out of the expression entirely."""
    return {g: r for g, (_, r) in rates.items()
            if r > 0.0 and g is not None}


def data_mixture(df: DataFrame, group_col: str, id_col: str, text_col: str,
                 weights: dict[str, float], token_budget: int,
                 seed: str = "dps-mixture-v1") -> DataFrame:
    """Sampled mixture rows: documents kept by the per-group keep-rate.

    The returned DataFrame is the *corpus* (all columns preserved) —
    feed it to ``pipeline.write_curated`` or a profiler. Use
    ``data_mixture_summary`` for the audit table.
    """
    rates = mixture_rates(df, group_col, text_col, weights, token_budget)
    return stratified_hash_sample(df, id_col, group_col,
                                  _rate_fractions(rates),
                                  default_fraction=0.0, seed=seed)


def data_mixture_summary(df: DataFrame, group_col: str, id_col: str,
                         text_col: str, weights: dict[str, float],
                         token_budget: int,
                         seed: str = "dps-mixture-v1") -> DataFrame:
    """Per-group audit: (grp, total_tokens, target_tokens, kept_docs,
    kept_tokens). One conditional aggregation over the corpus — every
    group PRESENT IN THE CORPUS appears even when its keep-rate is 0,
    so budget shortfalls (weight > 0 but source too small: rate capped
    at 1) are visible. A weighted source with zero corpus rows cannot
    carry a row; ``mixture_rates`` logs a warning for those.
    """
    rates = mixture_rates(df, group_col, text_col, weights, token_budget)
    rate = lookup_fraction_expr(F.col(group_col), _rate_fractions(rates))
    tc = token_count_expr(text_col)
    keep = hash_fraction_expr(F.col(id_col), seed) < rate
    targets = {g: float(math.floor(token_budget * float(w)))
               for g, w in weights.items()}
    target = lookup_fraction_expr(F.col(group_col), targets,
                                  0.0).cast("bigint")
    return (df.groupBy(F.col(group_col).alias("grp"))
              .agg(F.sum(tc).alias("total_tokens"),
                   F.first(target).alias("target_tokens"),
                   F.sum(F.when(keep, 1).otherwise(0)).alias("kept_docs"),
                   F.sum(F.when(keep, tc).otherwise(0)).alias("kept_tokens"))
              .orderBy("grp"))


def oracle_data_mixture_sql(table: str, group_col: str, id_col: str,
                            text_col: str, weights: dict[str, float],
                            token_budget: int,
                            seed: str = "dps-mixture-v1") -> str:
    tc = _TOKENS_SQL.format(col=f"d.{text_col}")
    # Group names are data: escape embedded quotes (SQL doubling) and
    # never .format() over the concatenated WHEN list — a group value
    # containing '{' or '}' would raise KeyError / produce broken SQL.
    wcase = (f"CASE d.{group_col} " + " ".join(
        f"WHEN '{g_.replace(chr(39), chr(39) * 2)}' THEN {float(w)!r}"
        for g_, w in sorted(weights.items()))
        + " ELSE 0.0 END")
    h = _duck_hash_fraction(f"d.{id_col}", seed)
    # LEAST(1.0, (budget * w) / total) mirrors mixture_rates() literally
    # (same double ops, same order -> identical keep/drop decisions),
    # including the total_toks = 0 guard -> rate 0.0 (a naive division
    # would give inf/NaN, which LEAST would collapse to rate 1.0). The
    # LEFT JOIN keeps NULL-group rows (never equi-matched) on the rate-0
    # default path, mirroring the Spark CASE's otherwise branch.
    rate = (f"CASE WHEN t.total_toks > 0 THEN "
            f"LEAST(1.0, ({token_budget} * {wcase}) / "
            f"CAST(t.total_toks AS DOUBLE)) ELSE 0.0 END")
    keep = f"COALESCE({h} < ({rate}), FALSE)"
    return f"""
WITH tot AS (
  SELECT {group_col} AS grp, SUM({_TOKENS_SQL.format(col=text_col)}) AS total_toks
  FROM {table} GROUP BY {group_col}
)
SELECT d.{group_col} AS grp,
       CAST(SUM({tc}) AS BIGINT) AS total_tokens,
       CAST(FLOOR({token_budget} * ({wcase})) AS BIGINT) AS target_tokens,
       CAST(SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(SUM(CASE WHEN {keep} THEN {tc} ELSE 0 END) AS BIGINT) AS kept_tokens
FROM {table} d LEFT JOIN tot t ON d.{group_col} = t.grp
GROUP BY d.{group_col}
ORDER BY grp
"""


# Composite-key mixtures (source × language × ...): the rate machinery
# is single-column, so multi-dimension strata reduce to one derived
# composite key. Each part is coalesced to a sentinel BEFORE joining —
# concat_ws would silently SKIP a NULL part, colliding ('a', NULL) with
# ('a',).
MULTI_SEP = "|"
_NULL_PART = "(null)"


def _composite_expr(group_cols: list[str]):
    return F.concat_ws(MULTI_SEP, *[
        F.coalesce(F.col(c).cast("string"), F.lit(_NULL_PART))
        for c in group_cols])


def _composite_weights(weights: dict[tuple, float]) -> dict[str, float]:
    return {MULTI_SEP.join(str(p) for p in k): float(v)
            for k, v in weights.items()}


def data_mixture_multi(df: DataFrame, group_cols: list[str], id_col: str,
                       text_col: str, weights: dict[tuple, float],
                       token_budget: int,
                       seed: str = "dps-mixture-v1") -> DataFrame:
    """``data_mixture`` over a composite stratum (e.g. source × lang):
    weights are keyed by tuples aligned with ``group_cols``. Same plan
    shape as the single-column path — the derived key is a pure
    projection, so it costs nothing extra at scan time."""
    tagged = df.withColumn("__mix_grp", _composite_expr(group_cols))
    out = data_mixture(tagged, "__mix_grp", id_col, text_col,
                       _composite_weights(weights), token_budget, seed)
    return out.drop("__mix_grp")


def data_mixture_summary_multi(df: DataFrame, group_cols: list[str],
                               id_col: str, text_col: str,
                               weights: dict[tuple, float],
                               token_budget: int,
                               seed: str = "dps-mixture-v1") -> DataFrame:
    """Composite-stratum audit table; ``grp`` is the joined key
    ('src0|en')."""
    tagged = df.withColumn("__mix_grp", _composite_expr(group_cols))
    return data_mixture_summary(tagged, "__mix_grp", id_col, text_col,
                                _composite_weights(weights), token_budget,
                                seed)


def oracle_data_mixture_multi_sql(table: str, group_cols: list[str],
                                  id_col: str, text_col: str,
                                  weights: dict[tuple, float],
                                  token_budget: int,
                                  seed: str = "dps-mixture-v1") -> str:
    """DuckDB mirror of ``data_mixture_summary_multi``: the composite
    key is rebuilt with || over per-part COALESCE (same bytes as
    Spark's concat_ws over coalesced parts)."""
    w = _composite_weights(weights)

    def gexpr(prefix: str) -> str:
        return f" || '{MULTI_SEP}' || ".join(
            f"COALESCE(CAST({prefix}{c} AS VARCHAR), '{_NULL_PART}')"
            for c in group_cols)

    tc = _TOKENS_SQL.format(col=f"d.{text_col}")
    wcase = (f"CASE {gexpr('d.')} " + " ".join(
        f"WHEN '{g_.replace(chr(39), chr(39) * 2)}' THEN {float(v)!r}"
        for g_, v in sorted(w.items()))
        + " ELSE 0.0 END")
    h = _duck_hash_fraction(f"d.{id_col}", seed)
    rate = (f"CASE WHEN t.total_toks > 0 THEN "
            f"LEAST(1.0, ({token_budget} * {wcase}) / "
            f"CAST(t.total_toks AS DOUBLE)) ELSE 0.0 END")
    keep = f"COALESCE({h} < ({rate}), FALSE)"
    return f"""
WITH tot AS (
  SELECT {gexpr('')} AS grp,
         SUM({_TOKENS_SQL.format(col=text_col)}) AS total_toks
  FROM {table} GROUP BY 1
)
SELECT {gexpr('d.')} AS grp,
       CAST(SUM({tc}) AS BIGINT) AS total_tokens,
       CAST(FLOOR({token_budget} * ({wcase})) AS BIGINT) AS target_tokens,
       CAST(SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(SUM(CASE WHEN {keep} THEN {tc} ELSE 0 END) AS BIGINT) AS kept_tokens
FROM {table} d LEFT JOIN tot t ON {gexpr('d.')} = t.grp
GROUP BY 1
ORDER BY grp
"""


def quality_weighted_sample(df: DataFrame, id_col: str, text_col: str,
                            strength: float = 1.0,
                            seed: str = "dps-qsample-v1") -> DataFrame:
    """Soft quality filter: keep a document with probability
    min(1, quality_score * strength) — the FineWeb/DCLM-style
    alternative to a hard score threshold (keeps a graded tail instead
    of a cliff). Deterministic: the md5(id) uniform is compared to the
    score, so reruns and engines agree row-for-row. Pure projection +
    filter — no shuffle, pushes down.
    """
    from .textanalysis import _quality_raw_exprs

    score = _quality_raw_exprs(text_col)["score"]
    rate = F.least(score * F.lit(float(strength)), F.lit(1.0))
    return df.where(hash_fraction_expr(F.col(id_col), seed) < rate)


def quality_weighted_sample_summary(df: DataFrame, id_col: str,
                                    text_col: str, strength: float = 1.0,
                                    seed: str = "dps-qsample-v1"
                                    ) -> DataFrame:
    """Audit: (total_docs, kept_docs, kept_tokens) under the soft
    filter. Integer-only output; one conditional aggregation."""
    from .textanalysis import _quality_raw_exprs

    e = _quality_raw_exprs(text_col)
    rate = F.least(e["score"] * F.lit(float(strength)), F.lit(1.0))
    keep = hash_fraction_expr(F.col(id_col), seed) < rate
    return df.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("kept_docs"),
        F.sum(F.when(keep, e["n_tokens"]).otherwise(0)).alias("kept_tokens"))


def oracle_quality_weighted_sample_sql(table: str, id_col: str,
                                       text_col: str,
                                       strength: float = 1.0,
                                       seed: str = "dps-qsample-v1") -> str:
    from .textanalysis import _quality_raw_sql

    e = _quality_raw_sql(text_col)
    rate = f"LEAST(({e['score']}) * {float(strength)!r}, 1.0)"
    keep = f"{_duck_hash_fraction(id_col, seed)} < {rate}"
    return f"""
SELECT COUNT(*) AS total_docs,
       CAST(SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
       CAST(SUM(CASE WHEN {keep} THEN {e['n_tokens']} ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM {table}
"""


def _validate_split_fractions(fractions: dict[str, float]) -> None:
    """A fraction <= 0 silently produces non-monotone cumulative bounds
    (the split is unreachable and every later boundary shifts) — reject
    loudly instead."""
    bad = {k: v for k, v in fractions.items() if not v > 0.0}
    if bad:
        raise ValueError(f"split fractions must be > 0: {bad}")
    if sum(fractions.values()) > 1.0 + 1e-12:
        raise ValueError("split fractions sum to > 1")


def split_manifest(df: DataFrame, id_col: str, text_col: str,
                   fractions: dict[str, float] | None = None,
                   seed: str = "dps-split-v1") -> DataFrame:
    """Deterministic train/val/test carve: (split, n_docs, n_tokens).

    ``fractions`` maps split name -> share, in insertion order; shares
    must sum to <= 1 and any remainder is labeled '_rest'. The decision
    is a pure projection of md5(id): no shuffle until the 3-row rollup,
    and re-running on a grown corpus never moves an old id between
    splits.
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    _validate_split_fractions(fractions)
    h = hash_fraction_expr(F.col(id_col), seed)
    split = F.lit("_rest")
    hi = 0.0
    branches = []
    for name, frac in fractions.items():
        hi += frac
        branches.append((name, hi))
    for name, bound in reversed(branches):
        split = F.when(h < F.lit(bound), F.lit(name)).otherwise(split)
    tc = token_count_expr(text_col)
    return (df.select(split.alias("split"), tc.alias("tc"))
              .groupBy("split")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("tc").alias("n_tokens"))
              .orderBy("split"))


def oracle_split_manifest_sql(table: str, id_col: str, text_col: str,
                              fractions: dict[str, float] | None = None,
                              seed: str = "dps-split-v1") -> str:
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    _validate_split_fractions(fractions)
    h = _duck_hash_fraction(id_col, seed)
    cases, hi = [], 0.0
    for name, frac in fractions.items():
        hi += frac
        cases.append(f"WHEN {h} < {hi!r} THEN '{name}'")
    split = "CASE " + " ".join(cases) + " ELSE '_rest' END"
    tc = _TOKENS_SQL.format(col=text_col)
    return f"""
SELECT {split} AS split, COUNT(*) AS n_docs,
       CAST(SUM({tc}) AS BIGINT) AS n_tokens
FROM {table}
GROUP BY 1 ORDER BY split
"""


# -- leakage-free (cluster-aware) splits -------------------------------------

def _split_expr(key: F.Column, fractions: dict[str, float],
                seed: str) -> F.Column:
    """Cumulative-boundary carve of md5(key) — the split_manifest rule,
    parameterized on the key so cluster-level carves reuse it."""
    h = hash_fraction_expr(key, seed)
    split = F.lit("_rest")
    hi, branches = 0.0, []
    for name, frac in fractions.items():
        hi += frac
        branches.append((name, hi))
    for name, bound in reversed(branches):
        split = F.when(h < F.lit(bound), F.lit(name)).otherwise(split)
    return split


def _split_sql_case(key_sql: str, fractions: dict[str, float],
                    seed: str) -> str:
    h = _duck_hash_fraction(key_sql, seed)
    cases, hi = [], 0.0
    for name, frac in fractions.items():
        hi += frac
        cases.append(f"WHEN {h} < {hi!r} THEN '{name}'")
    return "CASE " + " ".join(cases) + " ELSE '_rest' END"


def leakage_free_split(df: DataFrame, id_col: str, text_col: str,
                       fractions: dict[str, float] | None = None,
                       seed: str = "dps-split-v1", k: int = 3,
                       num_hashes: int = 12, bands: int = 6,
                       threshold: float = 0.5,
                       max_bucket_size: int | None = _DEF_BUCKET
                       ) -> DataFrame:
    """(id, cluster_id, split): carve train/val/test by hashing the
    NEAR-DUP CLUSTER id, not the document id — every member of a
    near-dup cluster lands in the same split, so no near-duplicate pair
    can straddle train/test (the leak ``curation.split_leakage`` audits
    for; this is the constructive counterpart).

    Scale shape: clustering is the banded-LSH + min-label-propagation
    plan of :func:`dataprofiler_spark.operators.dedup.neardup_clusters`
    (never all-pairs; ``max_bucket_size`` skew guard applies); the carve
    itself adds ZERO shuffles — a pure md5 projection of cluster_id.
    Determinism carries over from both pieces: same corpus ⇒ same
    clusters ⇒ same splits on any engine or partitioning, and documents
    added later only move an OLD doc's split if they bridge its cluster
    into a lower-id one (inherent to any cluster-consistent rule).
    """
    from dataprofiler_spark.operators.dedup import neardup_clusters
    from dataprofiler_spark.session import register_persisted

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    _validate_split_fractions(fractions)
    clusters = neardup_clusters(df, id_col, text_col, k=k,
                                num_hashes=num_hashes, bands=bands,
                                threshold=threshold,
                                max_bucket_size=max_bucket_size)
    out = clusters.select(
        "id", "cluster_id",
        _split_expr(F.col("cluster_id"), fractions, seed).alias("split"))
    return register_persisted(out, *clusters._dps_persisted)


def leakage_free_split_manifest(df: DataFrame, id_col: str, text_col: str,
                                fractions: dict[str, float] | None = None,
                                seed: str = "dps-split-v1", k: int = 3,
                                num_hashes: int = 12, bands: int = 6,
                                threshold: float = 0.5,
                                max_bucket_size: int | None = _DEF_BUCKET
                                ) -> DataFrame:
    """(split, n_docs, n_clusters) rollup of :func:`leakage_free_split`
    — one extra groupBy over the assignment."""
    from dataprofiler_spark.session import register_persisted

    assign = leakage_free_split(df, id_col, text_col, fractions, seed, k,
                                num_hashes, bands, threshold,
                                max_bucket_size)
    out = (assign.groupBy("split")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("cluster_id").alias("n_clusters"))
           .orderBy("split"))
    return register_persisted(out, *assign._dps_persisted)


def oracle_leakage_free_split_sql(table: str, id_col: str, text_col: str,
                                  fractions: dict[str, float] | None = None,
                                  seed: str = "dps-split-v1", k: int = 3,
                                  num_hashes: int = 12, bands: int = 6,
                                  threshold: float = 0.5,
                                  round_digits: int = 6,
                                  manifest: bool = False,
                                  max_bucket_size: int | None = _DEF_BUCKET
                                  ) -> str:
    """Mirror: the neardup-clusters recursive closure + the same md5
    carve on cluster_id."""
    from dataprofiler_spark.operators.dedup import neardup_comp_ctes

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    _validate_split_fractions(fractions)
    ctes = neardup_comp_ctes(table, id_col, text_col, k, num_hashes, bands,
                             threshold, round_digits,
                             max_bucket_size=max_bucket_size)
    split = _split_sql_case("cluster_id", fractions, seed)
    if manifest:
        return f"""
WITH RECURSIVE {ctes}
SELECT {split} AS split, COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters
FROM comp GROUP BY 1 ORDER BY split
"""
    return f"""
WITH RECURSIVE {ctes}
SELECT id, cluster_id, {split} AS split FROM comp
"""
