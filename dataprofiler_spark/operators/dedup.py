"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's row-uniqueness stats (profile_builder.py:2202-2258),
these are the document-level dedup primitives a 100 TB corpus pipeline
needs: exact dedup, char-shingle Jaccard, MinHash+LSH banding, and
SimHash. Design notes per operator:

* Exact dedup — hash-groupBy on content; one shuffle on the md5 key.
* MinHash — ONE md5 per shingle → 32-bit base hash; permutations are the
  universal-hash family (a·h + b) mod P in exact BIGINT arithmetic (see
  the constants below). Deterministic and oracle-checkable on any engine,
  and 12× cheaper than hashing per permutation.
* LSH banding — signature rows are grouped into bands; band-key md5 is
  the bucket. Candidate pairs come from a self-join on (band, bucket) —
  the classic shuffle-on-bucket plan. Skew note: a degenerate bucket
  (e.g. near-empty docs) can explode the pair join at scale; AQE skew
  handling plus the ``max_bucket_size`` guard cap it.
* SimHash — 32-bit, token votes weighted by frequency; one explode +
  one groupBy shuffle, bit assembly as a plain expression.

All operators use only built-in expressions (regexp/md5/array ops) — no
Python UDFs anywhere, the whole pipeline stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIMHASH_BITS = 32

# Safe-by-default skew guards (VERDICT r5 item 3). A degenerate LSH
# bucket / boilerplate fingerprint shared by f docs emits f²/2 candidate
# pairs on ONE join task — at 100 TB a forgotten cap is an executor OOM,
# not a slowdown. Pair generators therefore default to these finite
# caps; pass ``None`` to opt into the unguarded quadratic path
# explicitly. The values sit far above what a healthy (exact-deduped)
# corpus produces — a >5k-member identical-signature bucket is shared
# boilerplate that pair enumeration can't fix anyway — so the caps only
# bite where the join would have melted down. The oracle SQL generators
# share the same defaults, so Spark/DuckDB parity holds whichever side
# of the default a caller is on.
DEFAULT_MAX_BUCKET_SIZE = 5_000
DEFAULT_MAX_FP_FREQ = 1_000


# -- exact ------------------------------------------------------------------

def exact_dedup_summary(df: DataFrame, text_col: str) -> DataFrame:
    """(n_rows, n_distinct, dup_rows, dup_groups) for a content column."""
    counts = df.groupBy(F.md5(F.col(text_col)).alias("h")).agg(
        F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.sum("cnt") - F.count(F.lit(1))).alias("dup_rows"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).alias("dup_groups"),
    )


def oracle_exact_dedup_sql(table: str, text_col: str) -> str:
    return f"""
SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_distinct,
       CAST(SUM(cnt) - COUNT(*) AS BIGINT) AS dup_rows,
       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups
FROM (SELECT md5({text_col}) AS h, COUNT(*) AS cnt FROM {table} GROUP BY 1)
"""


# -- shingles / jaccard -----------------------------------------------------

def shingles_expr(text_col: str, k: int = 3) -> Column:
    """Distinct char k-grams as an array (whole string when shorter than k)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {k - 1}, 1)),"
        f" i -> substring({text_col}, i, {k})))"
    )


def ngram_jaccard_adjacent(df: DataFrame, id_col: str, text_col: str,
                           k: int = 3, round_digits: int = 6) -> DataFrame:
    """(id1, id2, jaccard) for consecutive ids — the linear-cost variant
    used for correctness checks; the all-pairs path goes through LSH."""
    sh = df.select(F.col(id_col).alias("id"), shingles_expr(text_col, k).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, F.col("a.id") + 1 == F.col("b.id"))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size(F.array_union("a.sh", "b.sh")),
                round_digits,
            ).alias("jaccard"),
        )
    )


def _duck_shingles(table: str, id_col: str, text_col: str, k: int) -> str:
    return (f"SELECT {id_col} AS id, list_distinct(list_transform("
            f"generate_series(1, greatest(length({text_col}) - {k - 1}, 1)),"
            f" i -> substr({text_col}, i, {k}))) AS sh FROM {table}")


def oracle_ngram_jaccard_adjacent_sql(table: str, id_col: str, text_col: str,
                                      k: int = 3, round_digits: int = 6) -> str:
    return f"""
WITH sh AS ({_duck_shingles(table, id_col, text_col, k)})
SELECT a.id AS id1, b.id AS id2,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), {round_digits}) AS jaccard
FROM sh a JOIN sh b ON a.id + 1 = b.id
"""


# -- minhash + LSH ----------------------------------------------------------
#
# Permutation scheme: ONE md5 per shingle yields a 32-bit base hash h =
# int(md5(s)[:8], 16); permutation j is the universal-hash family
# (a_j·h + b_j) mod P with P prime > 2^32. a_j < 2^31 so a·h < 2^63 —
# exact in BIGINT on every engine. This is 12× less hashing than
# md5-per-permutation and still fully engine-portable.

MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _perm_coeffs(num_hashes: int, seed: str = "dps-minhash-v2"
                 ) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs derived from md5 — regenerable in
    any language, a_j odd and < 2^31."""
    import hashlib
    out = []
    for j in range(num_hashes):
        d = hashlib.md5(f"{seed}|{j}".encode()).digest()
        a = (int.from_bytes(d[:4], "big") | 1) & 0x7FFFFFFF
        b = int.from_bytes(d[4:8], "big")
        out.append((a, b))
    return out


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       k: int = 3, num_hashes: int = 12) -> DataFrame:
    """Long-form signatures (id, perm, minhash). Plan: explode shingles →
    ONE md5 per (doc, shingle) → groupBy(id) with num_hashes MIN
    aggregates (map-side partial mins ⇒ the shuffle carries one row per
    doc per partition)."""
    from dataprofiler_spark.session import (ensure_parallelism,
                                            explode_no_prefilter)
    df = ensure_parallelism(df)
    coeffs = _perm_coeffs(num_hashes)
    sh = explode_no_prefilter(
        df.select(F.col(id_col).alias("id"),
                  shingles_expr(text_col, k).alias("sh")),
        "sh", "s", "id")
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long")
    rows = sh.select("id", h.alias("h"))
    mins = rows.groupBy("id").agg(*[
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME))
         .alias(f"mh{j}")
        for j, (a, b) in enumerate(coeffs)
    ])
    structs = [
        F.struct(F.lit(j).alias("perm"), F.col(f"mh{j}").alias("minhash"))
        for j in range(num_hashes)
    ]
    return mins.select(
        "id", F.explode(F.array(*structs)).alias("s")
    ).select("id", "s.perm", "s.minhash")


def oracle_minhash_signatures_sql(table: str, id_col: str, text_col: str,
                                  k: int = 3, num_hashes: int = 12) -> str:
    coeffs = _perm_coeffs(num_hashes)
    mins = ",\n       ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs))
    unions = "\nUNION ALL\n".join(
        f"SELECT id, {j} AS perm, mh{j} AS minhash FROM mins"
        for j in range(num_hashes))
    return f"""
WITH sh AS ({_duck_shingles(table, id_col, text_col, k)}),
hashes AS (
  SELECT sh.id, ('0x' || substr(md5(u.s), 1, 8))::BIGINT AS h
  FROM sh, UNNEST(sh.sh) u(s)
),
mins AS (
  SELECT id,
       {mins}
  FROM hashes GROUP BY id
)
{unions}
"""


def _minhash_wide(df: DataFrame, id_col: str, text_col: str,
                  k: int, num_hashes: int,
                  verify_k: int | None = None) -> DataFrame:
    """(id, hs, mh0..mhN): hashed shingle set + minhash signature from
    ONE explode + ONE groupBy (see minhash_lsh_pairs docstring).

    ``verify_k`` bounds ``hs`` to the doc's k SMALLEST distinct hashes —
    a bottom-k sketch (one-permutation KMV): h60 = md5 prefix is a
    uniform hash, so the k minima are an unbiased sample of the distinct
    set and support the standard bottom-k Jaccard estimator (see
    minhash_lsh_pairs). The plan changes shape to keep every shuffle
    row bounded: distinct (narrow (id, h60) rows) → per-id row_number
    window → collect_list over rn<=verify_k only (agg buffer ≤ k
    values), while the signature mins still aggregate ALL distinct
    hashes (min is duplicate-insensitive, and the min of a *permuted*
    hash need not be among the bottom-k of h60)."""
    from dataprofiler_spark.session import explode_no_prefilter

    shingle_rows = explode_no_prefilter(
        df.select(F.col(id_col).alias("id"),
                  shingles_expr(text_col, k).alias("sh")),
        "sh", "s", "id")
    h60 = F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
    hashed = shingle_rows.select("id", h60.alias("h60"))
    coeffs = _perm_coeffs(num_hashes)
    h32 = F.shiftright(F.col("h60"), 28)
    if verify_k is None:
        return hashed.groupBy("id").agg(
            F.collect_set("h60").alias("hs"),
            *[F.min((F.lit(a) * h32 + F.lit(b)) % F.lit(MINHASH_PRIME))
               .alias(f"mh{j}")
              for j, (a, b) in enumerate(coeffs)
            ])
    from pyspark.sql.window import Window
    dist = hashed.distinct()
    w = Window.partitionBy("id").orderBy("h60")
    tagged = dist.withColumn("__rn", F.row_number().over(w))
    return tagged.groupBy("id").agg(
        F.array_sort(F.collect_list(
            F.when(F.col("__rn") <= verify_k, F.col("h60")))).alias("hs"),
        *[F.min((F.lit(a) * h32 + F.lit(b)) % F.lit(MINHASH_PRIME))
           .alias(f"mh{j}")
          for j, (a, b) in enumerate(coeffs)
        ])


def _band_buckets(wide: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) from a _minhash_wide frame."""
    rows = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"mh{b * rows + r}").cast("string")
                                     for r in range(rows)]))
             .alias("bucket"),
        )
        for b in range(bands)
    ]
    return wide.select(
        "id", F.explode(F.array(*band_structs)).alias("s")
    ).select("id", "s.band", "s.bucket")


def minhash_band_buckets(df: DataFrame, id_col: str, text_col: str,
                         k: int = 3, num_hashes: int = 12,
                         bands: int = 6) -> DataFrame:
    """Public (id, band, bucket) LSH keys for a document set — the unit
    of state an incremental/streaming dedup pipeline stores and probes
    (streaming/neardup.py)."""
    return _band_buckets(_minhash_wide(df, id_col, text_col, k, num_hashes),
                         num_hashes, bands)


def _suggested_cap_df(sizes: DataFrame, bands: int,
                      pair_budget_per_doc: int, caps: tuple) -> DataFrame:
    """1-row (__cap) frame: the largest ladder cap whose capped
    candidate-pair work stays within pair_budget_per_doc × n_docs —
    the ``lsh_bucket_profile`` ladder (same formulas), computed from a
    per-(band, bucket) size frame so auto-cap mode can fold it into
    the pair plan without a second corpus scan."""
    s = F.col("__bsz")
    work = s * (s - F.lit(1))
    aggs = [F.coalesce(F.sum(s), F.lit(0)).alias("__rows")]
    for c in caps:
        aggs.append(F.coalesce(
            F.sum(F.when(s <= c, work).otherwise(F.lit(0))), F.lit(0))
            .alias(f"__w{c}"))
    row = sizes.agg(*aggs)
    n_docs = (F.col("__rows") / F.lit(bands)).cast("long")
    budget = n_docs * F.lit(int(pair_budget_per_doc))
    suggested = F.lit(int(caps[0]))
    for c in caps:  # ladder ascends: the largest within budget wins
        suggested = F.when(
            (F.col(f"__w{c}") / 2).cast("long") <= budget,
            F.lit(int(c))).otherwise(suggested)
    return row.select(suggested.cast("long").alias("__cap"))


def suggested_bucket_cap(df: DataFrame, id_col: str, text_col: str,
                         k: int = 3, num_hashes: int = 12, bands: int = 6,
                         pair_budget_per_doc: int = 50,
                         caps: tuple = (16, 64, 256, 1024)) -> int:
    """The ``max_bucket_size`` the cap ladder recommends for this
    corpus (driver-side int) — ``lsh_bucket_profile``'s suggested_cap
    as a standalone helper, for callers who want to inspect/log the
    cap before running :func:`minhash_lsh_pairs`. Inside one plan,
    pass ``max_bucket_size="auto"`` instead (no extra scan)."""
    row = lsh_bucket_profile(df, id_col, text_col, k=k,
                             num_hashes=num_hashes, bands=bands,
                             pair_budget_per_doc=pair_budget_per_doc,
                             caps=caps).select("suggested_cap").collect()
    return int(row[0][0])


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, num_hashes: int = 12, bands: int = 6,
                      threshold: float = 0.5, round_digits: int = 6,
                      max_bucket_size: int | str | None =
                      DEFAULT_MAX_BUCKET_SIZE,
                      verify_k: int | None = None,
                      pair_budget_per_doc: int = 50,
                      cap_ladder: tuple = (16, 64, 256, 1024)) -> DataFrame:
    """Near-duplicate pairs (id1, id2, jaccard ≥ threshold) via banded LSH.

    rows_per_band = num_hashes / bands; candidate recall follows the
    standard (1/bands)^(1/rows) S-curve. Plan shape: signatures (no
    shuffle) → explode bands → groupBy-free self-join on (band, bucket)
    → distinct pairs → exact jaccard verify on candidates only. The
    verify join broadcasts nothing — at scale both sides shuffle on id,
    but the candidate set is LSH-pruned, which is the whole point.

    ``max_bucket_size`` is the skew guard for 100 TB runs: one degenerate
    bucket of m members (empty docs, shared boilerplate) yields m²/2
    candidate pairs on a single join task. Capping drops buckets larger
    than the cap *before* the self-join (both sizing and self-join hash
    on the same (band, bucket) key, so the extra aggregation reuses the
    shuffle). Members of a dropped bucket can still pair through their
    other bands — recall loss is bounded to pairs whose *every* agreeing
    band is oversized, which at a sane cap means boilerplate clusters a
    curation pipeline handles with exact dedup anyway. Default
    ``DEFAULT_MAX_BUCKET_SIZE`` (safe-by-default — the oracle SQL shares
    the default, so parity holds); ``None`` opts into the unguarded
    quadratic path explicitly.

    Verify-stage representation: shingles are md5-hashed to 60-bit ints
    ONCE (map-side), and both the minhash base hash and the exact-jaccard
    set intersection run on those ints — the verify join then moves and
    intersects fixed-width ints instead of strings (~3× faster, narrower
    shuffle). The first 8 hex chars of md5 are a prefix of the first 15,
    so the 32-bit base hash is recovered as ``h60 >> 28`` and signature
    values are unchanged. The oracle derives the identical ints, so even
    the (negligible) hash-collision cases agree across engines.

    ``verify_k`` caps the per-doc verify set to its k smallest distinct
    hashes (bottom-k / KMV sketch) so multi-MB documents don't push a
    full shingle set through the shuffle and both verify joins. Jaccard
    is then the standard bottom-k estimator: with U = the k smallest of
    hs1 ∪ hs2, estimate = |{x ∈ U : x ∈ hs1 ∧ x ∈ hs2}| / |U| — an
    unbiased estimate of the true Jaccard (exact whenever both docs
    have ≤ k distinct shingles, because the sketches are then the full
    sets; stderr ≈ sqrt(J(1−J)/k) otherwise). Default None keeps the
    exact-Jaccard semantics; the oracle mirrors whichever rule is
    active.

    The wide minhash aggregate and the bucket keys are persisted — the
    band explode and both verify joins reread them, so recomputation
    would triple the shingle-hash scan, the hottest stage. They are
    registered on the result: call ``session.unpersist_plan(result)``
    after the last action over it to release them."""
    assert num_hashes % bands == 0
    from dataprofiler_spark.session import ensure_parallelism
    df = ensure_parallelism(df)
    # One explode → one codegen'd md5 per (doc, shingle) → ONE groupBy(id)
    # producing BOTH the minhash signature columns and the doc's hashed
    # shingle set (collect_set = distinct). 60 bits (15 hex chars) keeps
    # the hash exact in a signed BIGINT on both engines; the 32-bit
    # minhash base hash is the prefix h60 >> 28.
    wide = _minhash_wide(df, id_col, text_col, k, num_hashes,
                         verify_k=verify_k)
    # The band explode and the two verify joins all read from this one
    # aggregate — persist the small intermediate.
    wide = wide.persist()
    sh = wide.select("id", "hs")
    buckets = _band_buckets(wide, num_hashes, bands)
    handles = [wide]
    if max_bucket_size == "auto":
        # auto-cap (the lsh_bucket_profile dial folded into the plan):
        # the bucket-size aggregate the guard needs anyway also feeds
        # the cap ladder — the 1-row cap broadcasts back into the
        # filter, so auto mode costs no extra corpus scan. The sizes
        # frame is read twice (ladder aggregate + cap filter): persist
        # it (bounded by distinct (band, bucket) keys) so the second
        # traversal doesn't re-explode the signature frame (r12; the
        # stage probe showed the re-aggregation as auto mode's extra
        # cost over the fixed cap).
        sizes = (buckets.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("__bsz"))).persist()
        handles.append(sizes)
        capdf = _suggested_cap_df(sizes, bands, pair_budget_per_doc,
                                  cap_ladder)
        small = (sizes.crossJoin(F.broadcast(capdf))
                 .where(F.col("__bsz") <= F.col("__cap"))
                 .select("band", "bucket"))
        buckets = buckets.join(small, ["band", "bucket"], "left_semi")
    elif max_bucket_size is not None:
        small = (buckets.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("__bsz"))
                 .where(F.col("__bsz") <= max_bucket_size)
                 .select("band", "bucket"))
        buckets = buckets.join(small, ["band", "bucket"], "left_semi")
    buckets = buckets.persist()
    handles.append(buckets)

    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    # Pin the verify stage's parallelism (r13, same fix as
    # embedding_neardup_pairs): the distinct shuffles only id pairs, so
    # AQE coalesces to ~1 partition and the per-pair jaccard verify
    # (array_intersect over the shingle-hash sets) runs single-task.
    # A user-numbered hash repartition on id1 is AQE-exempt and cheap
    # (ids only, post-dedup); repartitioning on (id1, id2) would be
    # optimizer-eliminated as redundant with the distinct's own
    # partitioning and then coalesced anyway.
    pairs = pairs.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id1")
    s1 = sh.select(F.col("id").alias("id1"), F.col("hs").alias("hs1"))
    s2 = sh.select(F.col("id").alias("id2"), F.col("hs").alias("hs2"))
    if verify_k is None:
        # |A∪B| = |A|+|B|−|A∩B| (arrays are distinct) — one set op per
        # pair, over ints, instead of intersect+union over strings.
        inter = F.size(F.array_intersect("hs1", "hs2"))
        jacc = F.round(
            inter.cast("double")
            / (F.size("hs1") + F.size("hs2") - inter),
            round_digits)
    else:
        # bottom-k estimator: U = k smallest of the sketch union;
        # |U ∩ A ∩ B| / |U| (see docstring).
        u = F.slice(F.array_sort(F.array_union("hs1", "hs2")), 1, verify_k)
        inter = F.size(F.filter(
            u, lambda x: F.array_contains(F.col("hs1"), x)
            & F.array_contains(F.col("hs2"), x)))
        jacc = F.round(inter.cast("double") / F.size(u), round_digits)
    verified = (
        pairs.join(s1, "id1").join(s2, "id2")
        .select("id1", "id2", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    from dataprofiler_spark.session import register_persisted
    return register_persisted(verified, *handles)


def _lsh_oracle_ctes(table: str, id_col: str, text_col: str, k: int,
                     num_hashes: int, bands: int, threshold: float,
                     round_digits: int, verify_k: int | None = None,
                     max_bucket_size: int | str | None =
                     DEFAULT_MAX_BUCKET_SIZE,
                     pair_budget_per_doc: int = 50,
                     cap_ladder: tuple = (16, 64, 256, 1024)) -> str:
    """Shared CTE chain: shingles → 60-bit hashes → minhash → bands →
    candidate pairs → threshold-verified pairs (``vpairs``).
    ``verify_k`` mirrors the bottom-k sketch rule (sh keeps only the k
    smallest hashes per doc; jaccard is the bottom-k estimator);
    ``max_bucket_size`` mirrors the operator's skew guard — same
    default, so Spark/oracle parity holds on both sides of it.
    ``"auto"`` mirrors the operator's auto-cap mode: the cap ladder
    computes in SQL over the same bucket sizes and gates the HAVING."""
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
    if verify_k is None:
        sketch = "hs_full"
        jacc = ("CAST(len(list_intersect(s1.hs, s2.hs)) AS DOUBLE) "
                "/ (len(s1.hs) + len(s2.hs) "
                "- len(list_intersect(s1.hs, s2.hs)))")
    else:
        sketch = f"(list_sort(hs_full))[1:{verify_k}]"
        u = f"(list_sort(list_distinct(s1.hs || s2.hs)))[1:{verify_k}]"
        jacc = (f"CAST(len(list_filter({u}, x -> list_contains(s1.hs, x) "
                f"AND list_contains(s2.hs, x))) AS DOUBLE) / len({u})")
    if max_bucket_size is None:
        bucket_ctes = f"buckets AS (\n{band_selects}\n)"
    elif max_bucket_size == "auto":
        cap_sums = ",\n         ".join(
            f"CAST(COALESCE(SUM(CASE WHEN s <= {c} THEN s * (s - 1) "
            f"ELSE 0 END), 0) // 2 AS BIGINT) AS pair_work_cap{c}"
            for c in cap_ladder)
        ladder = f"{int(cap_ladder[0])}"
        for c in cap_ladder:
            ladder = (f"CASE WHEN pair_work_cap{c} <= n_docs * "
                      f"{int(pair_budget_per_doc)} THEN {int(c)} "
                      f"ELSE {ladder} END")
        bucket_ctes = f"""buckets0 AS (
{band_selects}
),
bsz AS (
  SELECT band, bucket, COUNT(*) AS s FROM buckets0 GROUP BY band, bucket
),
capw AS (
  SELECT CAST(COALESCE(SUM(s), 0) // {bands} AS BIGINT) AS n_docs,
         {cap_sums}
  FROM bsz
),
capsel AS (SELECT {ladder} AS cap FROM capw),
buckets AS (
  SELECT buckets0.id, buckets0.band, buckets0.bucket
  FROM buckets0 JOIN bsz USING (band, bucket)
  WHERE bsz.s <= (SELECT cap FROM capsel)
)"""
    else:
        bucket_ctes = f"""buckets0 AS (
{band_selects}
),
bok AS (
  SELECT band, bucket FROM buckets0
  GROUP BY band, bucket HAVING COUNT(*) <= {max_bucket_size}
),
buckets AS (
  SELECT buckets0.id, buckets0.band, buckets0.bucket
  FROM buckets0 JOIN bok USING (band, bucket)
)"""
    return f"""sh0 AS ({_duck_shingles(table, id_col, text_col, k)}),
shf AS MATERIALIZED (
  SELECT id, list_distinct(list_transform(sh,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)) AS hs_full
  FROM sh0
),
sh AS MATERIALIZED (SELECT id, {sketch} AS hs FROM shf),
hashes AS (
  SELECT shf.id, u.h60 // 268435456 AS h
  FROM shf, UNNEST(shf.hs_full) u(h60)
),
mins AS (
  SELECT id,
         {mins}
  FROM hashes GROUP BY id
),
{bucket_ctes},
pairs AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
vpairs AS MATERIALIZED (
  SELECT p.id1, p.id2,
         ROUND({jacc}, {round_digits}) AS jaccard
  FROM pairs p
  JOIN sh s1 ON s1.id = p.id1
  JOIN sh s2 ON s2.id = p.id2
  WHERE ROUND({jacc}, {round_digits}) >= {threshold}
)"""


def oracle_minhash_lsh_pairs_sql(table: str, id_col: str, text_col: str,
                                 k: int = 3, num_hashes: int = 12, bands: int = 6,
                                 threshold: float = 0.5, round_digits: int = 6,
                                 verify_k: int | None = None,
                                 max_bucket_size: int | str | None =
                                 DEFAULT_MAX_BUCKET_SIZE,
                                 pair_budget_per_doc: int = 50,
                                 cap_ladder: tuple = (16, 64, 256, 1024)
                                 ) -> str:
    ctes = _lsh_oracle_ctes(table, id_col, text_col, k, num_hashes, bands,
                            threshold, round_digits, verify_k=verify_k,
                            max_bucket_size=max_bucket_size,
                            pair_budget_per_doc=pair_budget_per_doc,
                            cap_ladder=cap_ladder)
    return f"WITH {ctes}\nSELECT id1, id2, jaccard FROM vpairs"


def neardup_clusters(df: DataFrame, id_col: str, text_col: str,
                     k: int = 3, num_hashes: int = 12, bands: int = 6,
                     threshold: float = 0.5, round_digits: int = 6,
                     max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                     max_iter: int = 20) -> DataFrame:
    """Near-duplicate clusters: (id, cluster_id, cluster_size,
    is_canonical) for EVERY document — the keep/drop decision step a
    dedup pipeline runs after pair generation (MinHash → LSH pairs →
    connected components → keep one canonical doc per cluster).

    cluster_id = min reachable doc id (deterministic); singletons are
    their own cluster; canonical = the min-id member, the row a
    ``WHERE is_canonical`` filter keeps.

    Scale shape: pair generation is the banded-LSH plan of
    :func:`minhash_lsh_pairs`; components are iterative min-label
    propagation (operators/graph.py) — the pair plan is evaluated once,
    then O(component diameter) rounds of one join + one groupBy, whose
    aggregate also answers the convergence check; lineage truncated per
    round via localCheckpoint. Near-dup graphs have tiny diameters
    (clusters are cliques-ish by construction), so rounds ≈ 3-5 in
    practice; a pair graph that has not converged after ``max_iter``
    rounds raises ``RuntimeError`` (see ``connected_components``). The
    size/canonical assembly is one groupBy + one shuffle join on
    cluster_id. Release the pairs' caches and the components' snapshot
    with ``session.unpersist_plan(result)`` after the last action."""
    from dataprofiler_spark.operators.graph import connected_components

    pairs = minhash_lsh_pairs(df, id_col, text_col, k=k,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold, round_digits=round_digits,
                              max_bucket_size=max_bucket_size)
    labels = connected_components(pairs, "id1", "id2", max_iter=max_iter)
    comps = labels.withColumnRenamed("node", "id")
    docs = df.select(F.col(id_col).alias("id"))
    lab = (docs.join(comps, "id", "left")
           .select("id",
                   F.coalesce("component", F.col("id")).alias("cluster_id")))
    sizes = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    out = (lab.join(sizes, "cluster_id")
           .select("id", "cluster_id", "cluster_size",
                   (F.col("id") == F.col("cluster_id")).alias("is_canonical")))
    # carry the pairs stage's caches and the components' snapshot
    from dataprofiler_spark.session import register_persisted
    return register_persisted(out, *getattr(pairs, "_dps_persisted", []),
                              *labels._dps_persisted)


def neardup_comp_ctes(table: str, id_col: str, text_col: str,
                      k: int = 3, num_hashes: int = 12,
                      bands: int = 6, threshold: float = 0.5,
                      round_digits: int = 6,
                      max_bucket_size: int | None =
                      DEFAULT_MAX_BUCKET_SIZE) -> str:
    """Recursive-CTE transitive closure over the verified LSH pairs,
    through a ``comp(id, cluster_id)`` CTE — quadratic, fine at oracle
    scale; the distributed side iterates instead (see neardup_clusters).
    Reused by the cluster query oracle and the leakage-free split oracle
    (operators/mixture.py) so both mirror the same clustering."""
    ctes = _lsh_oracle_ctes(table, id_col, text_col, k, num_hashes, bands,
                            threshold, round_digits,
                            max_bucket_size=max_bucket_size)
    return f"""{ctes},
nodes AS (SELECT {id_col} AS id FROM {table}),
bi AS MATERIALIZED (
  SELECT id1 AS src, id2 AS dst FROM vpairs
  UNION
  SELECT id2, id1 FROM vpairs
),
reach AS (
  SELECT id AS node, id AS peer FROM nodes
  UNION
  SELECT r.node, b.dst FROM reach r JOIN bi b ON r.peer = b.src
),
comp AS (
  SELECT node AS id, MIN(peer) AS cluster_id FROM reach GROUP BY node
)"""


def oracle_neardup_clusters_sql(table: str, id_col: str, text_col: str,
                                k: int = 3, num_hashes: int = 12,
                                bands: int = 6, threshold: float = 0.5,
                                round_digits: int = 6,
                                max_bucket_size: int | None =
                                DEFAULT_MAX_BUCKET_SIZE) -> str:
    ctes = neardup_comp_ctes(table, id_col, text_col, k, num_hashes, bands,
                             threshold, round_digits,
                             max_bucket_size=max_bucket_size)
    return f"""
WITH RECURSIVE {ctes},
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.id, c.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
       c.id = c.cluster_id AS is_canonical
FROM comp c JOIN sizes s USING (cluster_id)
"""


# -- simhash ----------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) — frequency-weighted token votes on md5-derived bit
    hashes. Portable: hash = int(md5(token)[:8], 16); bit b set when the
    vote sum is strictly positive."""
    from dataprofiler_spark.session import (ensure_parallelism,
                                            explode_no_prefilter)
    df = ensure_parallelism(df)
    toks = explode_no_prefilter(
        df.select(F.col(id_col).alias("id"),
                  F.regexp_extract_all(F.lower(F.col(text_col)),
                                       F.lit(r"[^ \t\n\x0B\f\r]+"), 0).alias("toks")),
        "toks", "tok", "id")
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
    votes = toks.select("id", h.alias("h")).groupBy("id").agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ])
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("id", sim.cast("long").alias("simhash"))


def oracle_simhash_sql(table: str, id_col: str, text_col: str,
                       bits: int = SIMHASH_BITS) -> str:
    vote_cols = ",\n         ".join(
        f"SUM(CASE WHEN (h // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS id,
         ('0x' || substr(md5(UNNEST(regexp_extract_all(LOWER({text_col}), '[^ \\t\\n\\x0b\\f\\r]+'))), 1, 8))::BIGINT AS h
  FROM {table}
),
votes AS (
  SELECT id,
         {vote_cols}
  FROM toks GROUP BY id
)
SELECT id, CAST({assemble} AS BIGINT) AS simhash FROM votes
"""


def simhash_neardup_pairs(df: DataFrame, id_col: str, text_col: str,
                          bits: int = SIMHASH_BITS, bands: int = 4,
                          max_hamming: int = 3,
                          max_bucket_size: int | None =
                          DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """Near-duplicate pairs (id1, id2, hamming ≤ max_hamming) via SimHash
    multi-index banding (Manku et al., WWW'07 shape).

    The signature frame is persisted (read by the band explode and the
    verify join) and registered on the result: call
    ``session.unpersist_plan(result)`` after the last action over it.

    The ``bits``-bit signature splits into ``bands`` equal slices; by
    pigeonhole, any pair within Hamming distance ``bands − 1`` agrees on
    at least one full slice, so candidate generation (self-join on
    (band, slice-value)) is COMPLETE for max_hamming ≤ bands − 1 — no
    all-pairs scan. Verification is one xor + bit_count per candidate.

    Plan shape mirrors minhash_lsh_pairs: signatures (one groupBy on id)
    → explode bands → self-join on (band, bucket) → distinct → verify.
    ``max_bucket_size`` is the same pre-join skew guard."""
    assert bits % bands == 0
    assert max_hamming <= bands - 1, "banding incomplete past bands-1"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1

    sig = simhash(df, id_col, text_col, bits).persist()
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
             .bitwiseAND(mask).alias("bucket"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        "id", F.explode(F.array(*band_structs)).alias("s")
    ).select("id", "s.band", "s.bucket")
    if max_bucket_size is not None:
        small = (buckets.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("__bsz"))
                 .where(F.col("__bsz") <= max_bucket_size)
                 .select("band", "bucket"))
        buckets = buckets.join(small, ["band", "bucket"], "left_semi")

    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    h1 = sig.select(F.col("id").alias("id1"), F.col("simhash").alias("h1"))
    h2 = sig.select(F.col("id").alias("id2"), F.col("simhash").alias("h2"))
    out = (
        pairs.join(h1, "id1").join(h2, "id2")
        .select("id1", "id2",
                F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
                 .cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
    from dataprofiler_spark.session import register_persisted
    return register_persisted(out, sig)


def oracle_simhash_neardup_pairs_sql(table: str, id_col: str, text_col: str,
                                     bits: int = SIMHASH_BITS,
                                     bands: int = 4,
                                     max_hamming: int = 3,
                                     max_bucket_size: int | None =
                                     DEFAULT_MAX_BUCKET_SIZE) -> str:
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sig_sql = oracle_simhash_sql(table, id_col, text_col, bits)
    if max_bucket_size is None:
        bucket_ctes = f"""buckets AS (
  SELECT id, b.band, (simhash // (1 << (b.band * {band_bits}))) & {mask}
           AS bucket
  FROM sig, (SELECT UNNEST(range({bands})) AS band) b
)"""
    else:
        bucket_ctes = f"""buckets0 AS (
  SELECT id, b.band, (simhash // (1 << (b.band * {band_bits}))) & {mask}
           AS bucket
  FROM sig, (SELECT UNNEST(range({bands})) AS band) b
),
bok AS (
  SELECT band, bucket FROM buckets0
  GROUP BY band, bucket HAVING COUNT(*) <= {max_bucket_size}
),
buckets AS (
  SELECT buckets0.id, buckets0.band, buckets0.bucket
  FROM buckets0 JOIN bok USING (band, bucket)
)"""
    return f"""
WITH sig AS ({sig_sql}),
{bucket_ctes},
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT c.id1, c.id2,
       CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN sig s1 ON s1.id = c.id1
JOIN sig s2 ON s2.id = c.id2
WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {max_hamming}
"""


def canonical_sample(df: DataFrame, id_col: str, text_col: str,
                     fraction: float, k: int = 3, num_hashes: int = 12,
                     bands: int = 6, threshold: float = 0.5,
                     seed: str = "dps-sample-v1") -> DataFrame:
    """Dedup-aware corpus sampling: keep one canonical doc per near-dup
    cluster, then a deterministic hash-sample of the canonicals — the
    composed "dedup then subsample" step a training-data pipeline runs
    before materialization. Returns (id, cluster_id, cluster_size) of
    the kept docs.

    Scale shape: the cluster pipeline of :func:`neardup_clusters` plus a
    pure hash filter (operators/sampling.py) — no extra shuffle beyond
    clustering, and the sample decision is reproducible on any engine,
    at any scale, under any partitioning."""
    from dataprofiler_spark.operators.sampling import hash_fraction_expr

    from dataprofiler_spark.session import register_persisted

    clusters = neardup_clusters(df, id_col, text_col, k=k,
                                num_hashes=num_hashes, bands=bands,
                                threshold=threshold)
    out = (clusters.where(F.col("is_canonical"))
           .where(hash_fraction_expr(F.col("id"), seed) < fraction)
           .select("id", "cluster_id", "cluster_size"))
    return register_persisted(out, *clusters._dps_persisted)


def oracle_canonical_sample_sql(table: str, id_col: str, text_col: str,
                                fraction: float, k: int = 3,
                                num_hashes: int = 12, bands: int = 6,
                                threshold: float = 0.5,
                                seed: str = "dps-sample-v1") -> str:
    from dataprofiler_spark.operators.sampling import _duck_hash_fraction

    inner = oracle_neardup_clusters_sql(table, id_col, text_col, k=k,
                                        num_hashes=num_hashes, bands=bands,
                                        threshold=threshold)
    return f"""
SELECT id, cluster_id, cluster_size
FROM ({inner}) c
WHERE is_canonical AND {_duck_hash_fraction('id', seed)} < {fraction}
"""


def cross_source_dup_matrix(df: DataFrame, id_col: str, text_col: str,
                            source_col: str, k: int = 3,
                            num_hashes: int = 12, bands: int = 6,
                            threshold: float = 0.5,
                            max_bucket_size: int | None =
                            DEFAULT_MAX_BUCKET_SIZE,
                            round_digits: int = 6) -> DataFrame:
    """(source_a, source_b, n_pairs, avg_jaccard): near-duplicate pair
    counts BETWEEN sources — the provenance view of duplication ("which
    feeds copy from which") that decides what a mixture re-weights or
    drops. Diagonal rows (source_a == source_b) measure internal
    duplication. Pair generation is the banded-LSH plan of
    :func:`minhash_lsh_pairs` (same skew guard); the source labels join
    in on doc id and the matrix aggregates to at most |sources|² rows.
    Pair orientation is normalized (least/greatest) so each unordered
    source pair appears once; NULL sources label as '(null)' — a pair
    involving an unlabeled doc is still a duplication fact.
    avg_jaccard averages the 6-digit-rounded verified similarities via
    integer sums (order-independent, engine-exact)."""
    pairs = minhash_lsh_pairs(df, id_col, text_col, k=k,
                              num_hashes=num_hashes, bands=bands,
                              threshold=threshold,
                              round_digits=round_digits,
                              max_bucket_size=max_bucket_size)
    src = df.select(F.col(id_col).alias("id"),
                    F.coalesce(F.col(source_col).cast("string"),
                               F.lit("(null)")).alias("src"))
    lab = (pairs
           .join(src.select(F.col("id").alias("id1"),
                            F.col("src").alias("s1")), "id1")
           .join(src.select(F.col("id").alias("id2"),
                            F.col("src").alias("s2")), "id2")
           .select(F.least("s1", "s2").alias("source_a"),
                   F.greatest("s1", "s2").alias("source_b"),
                   F.round(F.col("jaccard") * 1e6, 0)
                    .cast("long").alias("j6")))
    return (lab.groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.sum("j6").cast("double") / 1e6
                         / F.count(F.lit(1)),
                         round_digits).alias("avg_jaccard")))


def oracle_cross_source_dup_matrix_sql(table: str, id_col: str,
                                       text_col: str, source_col: str,
                                       k: int = 3, num_hashes: int = 12,
                                       bands: int = 6,
                                       threshold: float = 0.5,
                                       round_digits: int = 6,
                                       max_bucket_size: int | None =
                                       DEFAULT_MAX_BUCKET_SIZE) -> str:
    ctes = _lsh_oracle_ctes(table, id_col, text_col, k, num_hashes, bands,
                            threshold, round_digits,
                            max_bucket_size=max_bucket_size)
    return f"""
WITH {ctes},
src AS (
  SELECT {id_col} AS id,
         COALESCE(CAST({source_col} AS VARCHAR), '(null)') AS src
  FROM {table}
),
lab AS (
  SELECT LEAST(s1.src, s2.src) AS source_a,
         GREATEST(s1.src, s2.src) AS source_b,
         CAST(ROUND(jaccard * 1000000.0, 0) AS BIGINT) AS j6
  FROM vpairs
  JOIN src s1 ON vpairs.id1 = s1.id
  JOIN src s2 ON vpairs.id2 = s2.id
)
SELECT source_a, source_b, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(j6) AS DOUBLE) / 1000000.0 / COUNT(*),
             {round_digits}) AS avg_jaccard
FROM lab
GROUP BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS algorithm). Char-k-gram hashes, window-min selection: guarantees
# any shared substring of length >= k + window - 1 shares a fingerprint,
# while keeping the fingerprint density ~2/(window+1) — position-robust
# local dedup between full-text MinHash and exact-substring scanning.
# ---------------------------------------------------------------------------

def _winnow_gram_hashes_expr(norm_col: str, k: int) -> F.Column:
    """array<bigint> of 60-bit md5 hashes of the char k-grams. MUST be
    materialized as its own projection before the window-min pass —
    inlining it into the per-window lambda would re-hash the whole gram
    array once per window (O(n²) md5 calls per doc)."""
    return F.expr(
        f"CASE WHEN {norm_col} IS NULL OR length({norm_col}) < {k} "
        f"THEN cast(array() as array<bigint>) "
        f"ELSE transform(sequence(1, length({norm_col}) - {k} + 1), i -> "
        f"cast(conv(substring(md5(cast(substr({norm_col}, i, {k}) "
        f"as binary)), 1, 15), 16, 10) as bigint)) END")


def _winnow_fps_expr(gh_col: str, window: int) -> F.Column:
    """array<bigint> fingerprints from a MATERIALIZED gram-hash array
    column: per-window minima → distinct. Empty gram arrays fingerprint
    to the empty set; fewer than ``window`` grams contribute their
    single global minimum."""
    return F.expr(f"""
        CASE WHEN size({gh_col}) = 0
               THEN cast(array() as array<bigint>)
             WHEN size({gh_col}) < {window}
               THEN array(array_min({gh_col}))
             ELSE array_distinct(transform(
                    sequence(1, size({gh_col}) - {window} + 1),
                    i -> array_min(slice({gh_col}, i, {window}))))
        END""")


def _winnow_norm(text_col: str) -> F.Column:
    return F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, window: int = 4) -> DataFrame:
    """(id, fp): the winnowing fingerprint set of each document —
    computed entirely map-side (one scan, no shuffle before the
    consumer's); whitespace-normalized lowercase text, so formatting
    changes don't move fingerprints."""
    from dataprofiler_spark.session import (ensure_parallelism,
                                            explode_no_prefilter)

    base = ensure_parallelism(
        df.select(F.col(id_col).alias("id"),
                  _winnow_norm(text_col).alias("__n"))
        .select("id", _winnow_gram_hashes_expr("__n", k).alias("__gh"))
        .select("id", _winnow_fps_expr("__gh", window).alias("fps")))
    return explode_no_prefilter(base, "fps", "fp", "id")


def winnow_neardup_pairs(df: DataFrame, id_col: str, text_col: str,
                         k: int = 5, window: int = 4,
                         min_shared: int = 2,
                         max_fp_freq: int | None = DEFAULT_MAX_FP_FREQ,
                         round_digits: int = 6) -> DataFrame:
    """(id1, id2, n_shared, overlap): document pairs sharing at least
    ``min_shared`` winnowing fingerprints; ``overlap`` is the overlap
    coefficient n_shared / min(|fp₁|, |fp₂|). Localized copying (one
    plagiarized paragraph inside an otherwise-unique doc) surfaces here
    while a global-similarity MinHash misses it.

    ``max_fp_freq`` is the skew guard (the LSH max_bucket_size pattern):
    a boilerplate fingerprint appearing in f docs would emit f²/2
    candidate rows on one join task — fingerprints more frequent than
    the cap are dropped BEFORE the self-join (frequency sizing reuses
    the same fp-keyed shuffle). Deterministic, so the oracle mirrors it
    exactly.

    The capped fingerprint frame is persisted — it feeds the per-doc
    counts AND both sides of the fp self-join, and the MOSS char-gram
    md5 extraction above it is the expensive part (it would otherwise
    run up to 3x). As for ``minhash_lsh_pairs``, it is registered on the
    result: release it with ``session.unpersist_plan(result)``."""
    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    if max_fp_freq is not None:
        from pyspark.sql.window import Window
        fps = (fps.withColumn("__f", F.count(F.lit(1))
                              .over(Window.partitionBy("fp")))
               .where(F.col("__f") <= max_fp_freq).drop("__f"))
    fps = fps.persist()
    counts = fps.groupBy("id").agg(F.count(F.lit(1)).alias("c"))
    a = fps.select(F.col("id").alias("id1"), "fp")
    b = fps.select(F.col("id").alias("id2"), "fp")
    shared = (a.join(b, "fp")
              .where(F.col("id1") < F.col("id2"))
              .groupBy("id1", "id2")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .where(F.col("n_shared") >= min_shared))
    out = (shared
           .join(counts.select(F.col("id").alias("id1"),
                               F.col("c").alias("c1")), "id1")
           .join(counts.select(F.col("id").alias("id2"),
                               F.col("c").alias("c2")), "id2")
           .select("id1", "id2", "n_shared",
                   F.round(F.col("n_shared").cast("double")
                           / F.least("c1", "c2"),
                           round_digits).alias("overlap")))
    from dataprofiler_spark.session import register_persisted
    return register_persisted(out, fps)


def _winnow_oracle_fps_cte(table: str, id_col: str, text_col: str,
                           k: int, window: int) -> str:
    norm = (f"regexp_replace(TRIM(LOWER({text_col})), '\\s+', ' ', 'g')")
    gh = (f"[ ('0x' || substr(md5(substr(n, CAST(i AS INT), {k})), 1, 15))"
          f"::BIGINT for i in range(1, GREATEST(LEN(n) - {k} + 1, 0) + 1) ]")
    return f"""nrm AS (
  SELECT {id_col} AS id, {norm} AS n FROM {table}
  WHERE {text_col} IS NOT NULL
),
grams AS (
  SELECT id, {gh} AS gh FROM nrm WHERE LEN(n) >= {k}
),
winnowed AS (
  SELECT id,
         CASE WHEN LEN(gh) < {window} THEN [list_min(gh)]
              ELSE list_distinct([ list_min(
                     gh[CAST(i AS INT):CAST(i AS INT) + {window} - 1])
                   for i in range(1, LEN(gh) - {window} + 2) ])
         END AS fps
  FROM grams
),
fps AS (
  SELECT id, UNNEST(fps) AS fp FROM winnowed
)"""


def oracle_winnow_fingerprints_sql(table: str, id_col: str, text_col: str,
                                   k: int = 5, window: int = 4) -> str:
    ctes = _winnow_oracle_fps_cte(table, id_col, text_col, k, window)
    return f"WITH {ctes}\nSELECT id, fp FROM fps"


def oracle_winnow_neardup_pairs_sql(table: str, id_col: str, text_col: str,
                                    k: int = 5, window: int = 4,
                                    min_shared: int = 2,
                                    max_fp_freq: int | None =
                                    DEFAULT_MAX_FP_FREQ,
                                    round_digits: int = 6) -> str:
    ctes = _winnow_oracle_fps_cte(table, id_col, text_col, k, window)
    freq_filter = ""
    if max_fp_freq is not None:
        freq_filter = f""",
kept AS (
  SELECT id, fp FROM (
    SELECT id, fp, COUNT(*) OVER (PARTITION BY fp) AS f FROM fps)
  WHERE f <= {max_fp_freq}
)"""
    src = "kept" if max_fp_freq is not None else "fps"
    return f"""
WITH {ctes}{freq_filter},
counts AS (SELECT id, COUNT(*) AS c FROM {src} GROUP BY id),
shared AS (
  SELECT a.id AS id1, b.id AS id2, COUNT(*) AS n_shared
  FROM {src} a JOIN {src} b ON a.fp = b.fp AND a.id < b.id
  GROUP BY a.id, b.id
  HAVING COUNT(*) >= {min_shared}
)
SELECT id1, id2, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / LEAST(c1.c, c2.c),
             {round_digits}) AS overlap
FROM shared
JOIN counts c1 ON shared.id1 = c1.id
JOIN counts c2 ON shared.id2 = c2.id
"""


def neardup_threshold_sweep(df: DataFrame, id_col: str, text_col: str,
                            thresholds: list[float] | None = None,
                            k: int = 3, num_hashes: int = 12,
                            bands: int = 6, round_digits: int = 6,
                            max_bucket_size: int | None =
                            DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """(threshold, n_pairs): how many verified near-dup pairs survive
    each candidate Jaccard threshold — the tuning table you read BEFORE
    committing a dedup threshold to a 100 TB run ("0.8 keeps 1.2k
    pairs, 0.7 keeps 41k: which cliff is real?"). One LSH+verify pass
    at min(thresholds); every higher threshold is a conditional count
    over the SAME verified pairs frame — the jaccard doubles and the
    literal cutoffs are identical in both engines, so counts are exact.

    Candidate-generation caveat (documented, matches the oracle): the
    LSH band parameters are FIXED across the sweep, so recall at each
    threshold is the recall of that one banding — the sweep compares
    thresholds under the banding you would actually deploy, not an
    oracle-perfect all-pairs scan."""
    thresholds = sorted(thresholds or [0.5, 0.6, 0.7, 0.8, 0.9])
    pairs = minhash_lsh_pairs(df, id_col, text_col, k=k,
                              num_hashes=num_hashes, bands=bands,
                              threshold=min(thresholds),
                              round_digits=round_digits,
                              max_bucket_size=max_bucket_size)
    aggs = [F.coalesce(
        F.sum((F.col("jaccard") >= F.lit(float(t))).cast("long")),
        F.lit(0)).alias(f"__n{i}") for i, t in enumerate(thresholds)]
    row = pairs.agg(*aggs)
    structs = [F.struct(F.lit(float(t)).alias("threshold"),
                        F.col(f"__n{i}").cast("long").alias("n_pairs"))
               for i, t in enumerate(thresholds)]
    return (row.select(F.explode(F.array(*structs)).alias("s"))
            .select("s.*"))


def oracle_neardup_threshold_sweep_sql(table: str, id_col: str,
                                       text_col: str,
                                       thresholds: list[float] | None =
                                       None,
                                       k: int = 3, num_hashes: int = 12,
                                       bands: int = 6,
                                       round_digits: int = 6,
                                       max_bucket_size: int | None =
                                       DEFAULT_MAX_BUCKET_SIZE) -> str:
    thresholds = sorted(thresholds or [0.5, 0.6, 0.7, 0.8, 0.9])
    inner = oracle_minhash_lsh_pairs_sql(
        table, id_col, text_col, k=k, num_hashes=num_hashes,
        bands=bands, threshold=min(thresholds),
        round_digits=round_digits, max_bucket_size=max_bucket_size)
    outs = "\nUNION ALL\n".join(
        f"SELECT {float(t)!r} AS threshold,"
        f" CAST(COALESCE(SUM(CASE WHEN jaccard >= {float(t)!r}"
        f" THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs FROM pairs"
        for t in thresholds)
    return f"WITH pairs AS ({inner})\n{outs}"


def lsh_bucket_profile(df: DataFrame, id_col: str, text_col: str,
                       k: int = 3, num_hashes: int = 12, bands: int = 6,
                       pair_budget_per_doc: int = 50,
                       caps: tuple = (16, 64, 256, 1024)) -> DataFrame:
    """Bucket-size distribution of a prospective LSH run — the
    measurement that TUNES ``max_bucket_size`` before paying for the
    self-join (SCALE.md §32: on a dup-dense corpus candidate pairs grow
    quadratically in group size; the cap is the knob, and this is the
    dial that reads it).

    One row: bucket counts (total / singleton / max size), the total
    candidate-pair WORK Σ s·(s−1)/2 summed over (band, bucket) — join
    work, counting a pair once per agreeing band, which is what the
    self-join actually pays — the same sum under each ladder cap, and
    ``suggested_cap`` = the largest ladder cap whose capped work stays
    within ``pair_budget_per_doc × n_docs`` (16 when even the smallest
    cap exceeds it: the corpus needs exact dedup first). Plan: the
    signature scan + ONE (band, bucket) groupBy + a 1-row fold — no
    join, integer-exact, so the DuckDB oracle matches bit-for-bit.
    ``n_docs`` is recovered as Σs / bands (each doc lands in exactly
    ``bands`` buckets) — no second scan.
    """
    wide = _minhash_wide(df, id_col, text_col, k, num_hashes)
    sizes = (_band_buckets(wide, num_hashes, bands)
             .groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("s")))
    s = F.col("s")
    work = s * (s - F.lit(1))  # 2x pair count; halve after the sum
    # coalesce every sum: an EMPTY corpus reads 0 (and the cap ladder
    # then resolves to the largest cap over a 0 budget, matching the
    # oracle's COALESCE arithmetic) instead of NULL-poisoning the CASEs
    aggs = [
        F.count(F.lit(1)).alias("n_buckets"),
        F.coalesce(F.sum(F.when(s == 1, 1).otherwise(0)), F.lit(0))
         .alias("singleton_buckets"),
        F.max(s).alias("max_bucket"),
        F.coalesce(F.sum(s), F.lit(0)).alias("__rows"),
        F.coalesce(F.sum(work), F.lit(0)).alias("__w"),
    ]
    for c in caps:
        aggs.append(F.coalesce(
            F.sum(F.when(s <= c, work).otherwise(F.lit(0))), F.lit(0))
            .alias(f"__w{c}"))
    row = sizes.agg(*aggs)
    n_docs = (F.col("__rows") / F.lit(bands)).cast("long")
    budget = n_docs * F.lit(int(pair_budget_per_doc))
    suggested = F.lit(int(caps[0]))
    for c in caps:  # ladder ascends: the largest within budget wins
        suggested = F.when(
            (F.col(f"__w{c}") / 2).cast("long") <= budget,
            F.lit(int(c))).otherwise(suggested)
    out_cols = [
        n_docs.alias("n_docs"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        F.col("singleton_buckets").cast("long").alias("singleton_buckets"),
        F.col("max_bucket").cast("long").alias("max_bucket"),
        (F.col("__w") / 2).cast("long").alias("cand_pair_work"),
    ]
    for c in caps:
        out_cols.append((F.col(f"__w{c}") / 2).cast("long")
                        .alias(f"pair_work_cap{c}"))
    out_cols.append(suggested.cast("long").alias("suggested_cap"))
    return row.select(*out_cols)


def oracle_lsh_bucket_profile_sql(table: str, id_col: str, text_col: str,
                                  k: int = 3, num_hashes: int = 12,
                                  bands: int = 6,
                                  pair_budget_per_doc: int = 50,
                                  caps: tuple = (16, 64, 256, 1024)) -> str:
    ctes = _lsh_oracle_ctes(table, id_col, text_col, k, num_hashes,
                            bands, threshold=0.0, round_digits=6,
                            max_bucket_size=None)
    cap_sums = ",\n  ".join(
        f"CAST(COALESCE(SUM(CASE WHEN s <= {c} THEN s * (s - 1) "
        f"ELSE 0 END), 0) // 2 AS BIGINT) AS pair_work_cap{c}"
        for c in caps)
    ladder = f"{int(caps[0])}"
    for c in caps:
        ladder = (f"CASE WHEN pair_work_cap{c} <= n_docs * "
                  f"{int(pair_budget_per_doc)} THEN {int(c)} "
                  f"ELSE {ladder} END")
    return f"""
WITH {ctes},
sizes AS (
  SELECT band, bucket, COUNT(*) AS s FROM buckets GROUP BY 1, 2
),
summary AS (
  SELECT
  CAST(COALESCE(SUM(s), 0) // {bands} AS BIGINT) AS n_docs,
  CAST(COUNT(*) AS BIGINT) AS n_buckets,
  CAST(COALESCE(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS singleton_buckets,
  CAST(MAX(s) AS BIGINT) AS max_bucket,
  CAST(COALESCE(SUM(s * (s - 1)), 0) // 2 AS BIGINT) AS cand_pair_work,
  {cap_sums}
  FROM sizes
)
SELECT summary.*, CAST({ladder} AS BIGINT) AS suggested_cap FROM summary
"""
