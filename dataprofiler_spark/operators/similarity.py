"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline: one broadcast of the
query vector, one scan, one top-k — the right plan at any scale when k is
small (no shuffle except the final ordered limit). The scale path is
random-hyperplane LSH: a deterministic set of hyperplanes (generated from
an md5-seeded PRNG in Python, embedded as literals, so Spark and the SQL
oracle share them bit-for-bit) maps each vector to a bucket; candidates
come only from the probe's bucket. An IVF variant would swap the
hyperplane code for k-means centroids — same plan shape.

Dot products are sequential left-folds over zip_with products in double —
matching DuckDB's list_sum(list_transform(...)) element order, so
cosines are bit-identical across engines (verified: see tests).
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.operators.dedup import \
    DEFAULT_MAX_BUCKET_SIZE


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine with a zero-norm guard: a zero vector is similar to
    nothing (cosine 0.0) rather than crashing the whole query — under
    Spark's ANSI mode the raw division would throw DIVIDE_BY_ZERO on
    the first degenerate embedding in a 100 TB corpus. Every DuckDB
    cosine oracle mirrors the rule (duck_cosine)."""
    den = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(den > 0, _dot(a, b) / den).otherwise(F.lit(0.0))


def duck_cosine(dot: str, na: str, nb: str) -> str:
    """SQL twin of cosine_expr's zero-norm rule (na/nb are SQUARED
    norms — product of sqrts > 0 ⟺ both squared norms > 0)."""
    return (f"CASE WHEN {na} > 0 AND {nb} > 0 "
            f"THEN {dot} / (SQRT({na}) * SQRT({nb})) ELSE 0.0 END")


def cosine_topk(df: DataFrame, id_col: str, vec_col: str, query_id: int,
                k: int = 10, round_digits: int = 6) -> DataFrame:
    """(rank, vec_id, cosine): top-k neighbours of ``query_id`` by cosine,
    deterministic tie-break (cosine desc, id asc), self excluded.

    Plan: broadcast the query vector, score in one scan, finalize with the
    distributed TakeOrderedAndProject top-k (operators/topk.ranked_topk) —
    never a global single-partition window."""
    from dataprofiler_spark.operators.topk import ranked_topk

    q = df.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    scored = (
        df.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != query_id)
        .select(
            F.col(id_col).alias("vec_id"),
            F.round(cosine_expr(F.col(vec_col), F.col("qv")), round_digits)
             .alias("cosine"),
        )
    )
    return ranked_topk(
        scored, [F.desc("cosine"), F.asc("vec_id")], k
    ).select("rank", "vec_id", "cosine")


def _duck_dot(a: str, b: str, dim: int) -> str:
    return f"list_sum(list_transform(generate_series(1, {dim}), i -> {a}[i] * {b}[i]))"


def oracle_cosine_topk_sql(table: str, id_col: str, vec_col: str, query_id: int,
                           dim: int, k: int = 10, round_digits: int = 6) -> str:
    dot = _duck_dot("e.v", "q.v", dim)
    na = _duck_dot("e.v", "e.v", dim)
    nb = _duck_dot("q.v", "q.v", dim)
    return f"""
WITH q AS (SELECT {vec_col}::DOUBLE[] AS v FROM {table} WHERE {id_col} = {query_id}),
e AS (SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}
      WHERE {id_col} <> {query_id}),
scored AS (
  SELECT e.vec_id,
         ROUND(CASE WHEN {na} > 0 AND {nb} > 0 THEN {dot} / (SQRT({na}) * SQRT({nb})) ELSE 0.0 END, {round_digits}) AS cosine
  FROM e, q
)
SELECT * FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank,
         vec_id, cosine
  FROM scored
) WHERE rank <= {k}
"""


# -- random-hyperplane LSH --------------------------------------------------

def hyperplanes(dim: int, n_planes: int, seed: str = "dps-lsh-v1"
                ) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): md5(seed|p|d)
    drives each weight, so any engine (or language) regenerates the exact
    same planes."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()
            (u,) = struct.unpack(">Q", h[:8])
            row.append(round(u / 2 ** 63 - 1.0, 9))
        planes.append(row)
    return planes


def lsh_bucket_expr(vec_col: Column, planes: list[list[float]]) -> Column:
    """Bucket id = integer of sign bits of plane projections."""
    bucket = None
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(w) for w in plane])
        proj = _dot(vec_col, lit_plane)
        bit = F.when(proj > 0, F.lit(2 ** i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_topk(df: DataFrame, id_col: str, vec_col: str, query_id: int,
             k: int = 10, n_planes: int = 4, dim: int = 64,
             round_digits: int = 6) -> DataFrame:
    """Approximate top-k: candidates restricted to the probe's LSH bucket.
    At scale, write the table bucketed/partitioned by this bucket id and
    the probe touches 1/2^n_planes of the data (partition pruning)."""
    from dataprofiler_spark.operators.topk import ranked_topk

    planes = hyperplanes(dim, n_planes)
    bucketed = df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    q = bucketed.where(F.col("vec_id") == query_id).select(
        F.col("v").alias("qv"), F.col("bucket").alias("qbucket"))
    cand = (
        bucketed.crossJoin(F.broadcast(q))
        .where((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != query_id))
        .select(
            "vec_id",
            F.round(cosine_expr(F.col("v"), F.col("qv")), round_digits).alias("cosine"),
        )
    )
    return ranked_topk(
        cand, [F.desc("cosine"), F.asc("vec_id")], k
    ).select("rank", "vec_id", "cosine")


def oracle_lsh_topk_sql(table: str, id_col: str, vec_col: str, query_id: int,
                        k: int = 10, n_planes: int = 4, dim: int = 64,
                        round_digits: int = 6) -> str:
    planes = hyperplanes(dim, n_planes)
    terms = []
    for i, plane in enumerate(planes):
        arr = "([" + ", ".join(repr(w) for w in plane) + "]::DOUBLE[])"
        proj = _duck_dot("t.v", arr, dim)
        terms.append(f"(CASE WHEN {proj} > 0 THEN {2 ** i} ELSE 0 END)")
    bucket = " + ".join(terms)
    dot = _duck_dot("c.v", "q.v", dim)
    na = _duck_dot("c.v", "c.v", dim)
    nb = _duck_dot("q.v", "q.v", dim)
    return f"""
WITH b AS (
  SELECT t.{id_col} AS vec_id, t.v, CAST({bucket} AS BIGINT) AS bucket
  FROM (SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}) t
),
q AS (SELECT v AS v, bucket AS qbucket FROM b WHERE vec_id = {query_id}),
cand AS (
  SELECT c.vec_id,
         ROUND(CASE WHEN {na} > 0 AND {nb} > 0 THEN {dot} / (SQRT({na}) * SQRT({nb})) ELSE 0.0 END, {round_digits}) AS cosine
  FROM b c, (SELECT v, qbucket FROM q) q
  WHERE c.bucket = q.qbucket AND c.vec_id <> {query_id}
)
SELECT * FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank,
         vec_id, cosine
  FROM cand
) WHERE rank <= {k}
"""


def band_hyperplanes(dim: int, bands: int, planes_per_band: int,
                     seed: str = "dps-lsh-v1") -> list[list[list[float]]]:
    """``bands`` independent plane-sets (each ``planes_per_band`` planes),
    seeded per band so the sets are mutually independent yet fully
    deterministic across engines."""
    return [hyperplanes(dim, planes_per_band, seed=f"{seed}|band{b}")
            for b in range(bands)]


def band_bucket_structs_expr(vec_col: Column,
                             planes_sets: list[list[list[float]]]) -> Column:
    """``array<struct<band:int, bucket:bigint>>`` of every band's LSH
    bucket, built from ONE nested plane-matrix literal.

    Arithmetic is bit-identical to per-plane ``lsh_bucket_expr`` (same
    left-fold dot product, same ``proj > 0`` sign test, same integer
    2^i weights summed left-to-right), but where the unfused form
    expands B·P separate ``aggregate(zip_with(...))`` trees over B·P·dim
    scalar literals (≈2k+ expression nodes per side at the 4×8×64
    default — seconds of Catalyst analysis on self-joined plans), this
    is one fixed-size tree whose planes live in a single array literal.
    Results are unchanged; only plan size and planning time drop
    (r12 guide §1.2/§3.3 "very large plans: planning time itself
    becomes the bottleneck")."""
    weights = [2 ** i for i in range(len(planes_sets[0]))]
    mat = F.lit([[list(p) for p in ps] for ps in planes_sets])
    wlit = F.lit(weights)

    def band_bucket(band_planes: Column) -> Column:
        projs = F.transform(band_planes, lambda plane: _dot(vec_col, plane))
        return F.aggregate(
            F.zip_with(projs, wlit,
                       lambda p, w: F.when(p > 0, w).otherwise(F.lit(0))),
            F.lit(0), lambda acc, v: acc + v).cast("long")

    return F.transform(
        mat, lambda band_planes, b: F.struct(
            b.alias("band"), band_bucket(band_planes).alias("bucket")))


def embedding_band_buckets(df: DataFrame, id_col: str, vec_col: str,
                           bands: int = 4, planes_per_band: int = 8,
                           dim: int = 64, seed: str = "dps-lsh-v1"
                           ) -> DataFrame:
    """(id, band, bucket) LSH keys — the embedding twin of
    ``dedup.minhash_band_buckets``. Two vectors at angle θ collide in one
    band with probability (1−θ/π)^planes_per_band; across ``bands``
    independent bands the any-collision probability follows the standard
    LSH S-curve, so recall is tuned by (bands, planes_per_band) instead
    of a single huge signature with 2^n buckets."""
    from dataprofiler_spark.session import ensure_parallelism
    df = ensure_parallelism(df)
    structs = band_bucket_structs_expr(
        F.col(vec_col), band_hyperplanes(dim, bands, planes_per_band, seed))
    return (df.select(F.col(id_col).alias("id"),
                      F.explode(structs).alias("s"))
            .select("id", "s.band", "s.bucket"))


def embedding_neardup_pairs(df: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.95, bands: int = 4,
                            planes_per_band: int = 8, dim: int = 64,
                            round_digits: int = 6,
                            max_bucket_size: int | None =
                            DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via BANDED hyperplane LSH —
    the same design as ``dedup.minhash_lsh_pairs``: B independent
    plane-sets (bands), candidates = pairs sharing any (band, bucket),
    union'd + distinct'd, then exact-cosine verified against
    ``threshold``. Never all-pairs; the candidate join shuffles on
    (band, bucket).

    ``max_bucket_size`` is the skew guard for 100 TB runs: a degenerate
    bucket of m members (zero vectors, one dense mode) yields m²/2
    candidates on one join task. Buckets above the cap are dropped
    BEFORE the self-join (the sizing groupBy hashes on the same
    (band, bucket) key, so AQE reuses the shuffle); members can still
    pair through their other bands. Default ``DEFAULT_MAX_BUCKET_SIZE``
    (safe-by-default; the oracle generators share the default so parity
    holds); ``None`` opts into the unguarded quadratic path explicitly.

    The bucket frame is persisted (the minhash cache contract): the B·P
    hyperplane dot products per row feed the sizing aggregate, the cap
    join, and both self-join sides, which would otherwise re-evaluate
    them up to 3× (~1.25× wall measured at bench scale). Release with
    ``session.unpersist_plan(result)``."""
    b = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    buckets = embedding_band_buckets(b, "id", "v", bands=bands,
                                     planes_per_band=planes_per_band,
                                     dim=dim).persist()
    pinned = buckets                       # the frame the handle frees
    if max_bucket_size is not None:
        small = (buckets.groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("__bsz"))
                 .where(F.col("__bsz") <= max_bucket_size)
                 .select("band", "bucket"))
        buckets = buckets.join(small, ["band", "bucket"], "left_semi")
    x, y = buckets.alias("x"), buckets.alias("y")
    pairs = (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bucket") == F.col("y.bucket"))
               & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id1"), F.col("y.id").alias("id2"))
        .distinct()
    )
    # Pin the verify stage's parallelism (r13): the distinct's shuffle
    # carries only (id1, id2) — a few bytes per candidate — so AQE's
    # size-based coalescing folds it to ~1 post-shuffle partition, and
    # the EXPENSIVE part (the dim-wide exact-cosine verify after the
    # vector joins) runs in that same stage on one core (probe: a 1.6 s
    # single-task stage at bench scale; the same mis-sizing happens at
    # any scale because cost-per-row, not bytes, dominates here). A
    # user-numbered hash repartition of the deduped pairs is respected
    # by AQE (never coalesced), keeps the distinct's map-side partial
    # dedup, and shuffles only the tiny id-pair rows.
    pairs = pairs.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "id1")
    v1 = b.select(F.col("id").alias("id1"), F.col("v").alias("v1"))
    v2 = b.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    out = (
        pairs.join(v1, "id1").join(v2, "id2")
        .select(
            "id1", "id2",
            F.round(cosine_expr(F.col("v1"), F.col("v2")), round_digits)
             .alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    from dataprofiler_spark.session import register_persisted
    return register_persisted(out, pinned)


def _duck_bucket(planes: list[list[float]], dim: int, vec: str) -> str:
    """DuckDB expression for the sign-bit bucket of ``vec`` vs planes."""
    terms = []
    for i, plane in enumerate(planes):
        arr = "([" + ", ".join(repr(w) for w in plane) + "]::DOUBLE[])"
        proj = _duck_dot(vec, arr, dim)
        terms.append(f"(CASE WHEN {proj} > 0 THEN {2 ** i} ELSE 0 END)")
    return " + ".join(terms)


def _duck_band_buckets(planes_sets: list[list[list[float]]], dim: int,
                       src: str, vec: str = "t.v") -> str:
    """UNION ALL of per-band (id, band, bucket) selects over ``src``."""
    return "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, CAST({_duck_bucket(planes, dim, vec)} "
        f"AS BIGINT) AS bucket FROM {src} t"
        for b, planes in enumerate(planes_sets))


def oracle_embedding_neardup_sql(table: str, id_col: str, vec_col: str,
                                 threshold: float = 0.95, bands: int = 4,
                                 planes_per_band: int = 8, dim: int = 64,
                                 round_digits: int = 6,
                                 max_bucket_size: int | None =
                                 DEFAULT_MAX_BUCKET_SIZE) -> str:
    planes_sets = band_hyperplanes(dim, bands, planes_per_band)
    band_sel = _duck_band_buckets(planes_sets, dim, "v")
    size_filter = ""
    if max_bucket_size is not None:
        size_filter = f""",
small AS (
  SELECT band, bucket FROM buckets GROUP BY band, bucket
  HAVING COUNT(*) <= {max_bucket_size}
)"""
    # small is distinct by construction (GROUP BY) — inner join == semi.
    bsrc = ("(SELECT bk.* FROM buckets bk JOIN small s "
            "ON bk.band = s.band AND bk.bucket = s.bucket)"
            if max_bucket_size is not None else "buckets")
    dot = _duck_dot("x.v", "y.v", dim)
    nx = _duck_dot("x.v", "x.v", dim)
    ny = _duck_dot("y.v", "y.v", dim)
    cos = (f"CASE WHEN {nx} > 0 AND {ny} > 0 "
           f"THEN {dot} / (SQRT({nx}) * SQRT({ny})) ELSE 0.0 END")
    return f"""
WITH v AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
buckets AS (
{band_sel}
){size_filter},
pairs AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM {bsrc} a JOIN {bsrc} b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
)
SELECT p.id1, p.id2, ROUND({cos}, {round_digits}) AS cosine
FROM pairs p JOIN v x ON p.id1 = x.id JOIN v y ON p.id2 = y.id
WHERE {cos} >= {threshold}
"""


def embedding_neardup_clusters(df: DataFrame, id_col: str, vec_col: str,
                               threshold: float = 0.95, bands: int = 4,
                               planes_per_band: int = 8, dim: int = 64,
                               round_digits: int = 6, max_iter: int = 20,
                               max_bucket_size: int | None =
                               DEFAULT_MAX_BUCKET_SIZE
                               ) -> DataFrame:
    """Embedding-cosine near-duplicate clusters: (id, cluster_id,
    cluster_size, is_canonical) for every vector — the embedding-space
    twin of ``dedup.neardup_clusters`` (pair generation is the banded
    LSH cosine join; components are iterative min-label propagation;
    canonical = min-id member).

    Scale shape: per-(band, bucket) pair joins with the optional
    ``max_bucket_size`` skew guard (never all-pairs), evaluated once +
    O(cluster diameter) label-propagation rounds of one join + one
    groupBy each — near-dup graphs are cliques-ish so rounds stay small
    (a low ``threshold`` on random vectors can chain them); a pair
    graph that has not converged after ``max_iter`` rounds raises
    ``RuntimeError`` (see ``graph.connected_components``)."""
    from dataprofiler_spark.operators.graph import connected_components

    pairs = embedding_neardup_pairs(df, id_col, vec_col,
                                    threshold=threshold, bands=bands,
                                    planes_per_band=planes_per_band,
                                    dim=dim, round_digits=round_digits,
                                    max_bucket_size=max_bucket_size)
    labels = connected_components(pairs, "id1", "id2", max_iter=max_iter)
    comps = labels.withColumnRenamed("node", "id")
    ids = df.select(F.col(id_col).alias("id"))
    lab = (ids.join(comps, "id", "left")
           .select("id",
                   F.coalesce("component", F.col("id")).alias("cluster_id")))
    sizes = lab.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    out = (lab.join(sizes, "cluster_id")
           .select("id", "cluster_id", "cluster_size",
                   (F.col("id") == F.col("cluster_id")).alias("is_canonical")))
    # carry the pairs stage's cache and the components' snapshot
    from dataprofiler_spark.session import register_persisted
    return register_persisted(out, *getattr(pairs, "_dps_persisted", []),
                              *labels._dps_persisted)


def oracle_embedding_neardup_clusters_sql(table: str, id_col: str,
                                          vec_col: str,
                                          threshold: float = 0.95,
                                          bands: int = 4,
                                          planes_per_band: int = 8,
                                          dim: int = 64,
                                          round_digits: int = 6,
                                          max_bucket_size: int | None =
                                          DEFAULT_MAX_BUCKET_SIZE
                                          ) -> str:
    """Recursive-CTE transitive closure over the banded cosine pairs
    (mirrors dedup.oracle_neardup_clusters_sql)."""
    planes_sets = band_hyperplanes(dim, bands, planes_per_band)
    band_sel = _duck_band_buckets(planes_sets, dim, "v")
    size_filter = ""
    if max_bucket_size is not None:
        size_filter = f""",
small AS (
  SELECT band, bucket FROM buckets GROUP BY band, bucket
  HAVING COUNT(*) <= {max_bucket_size}
)"""
    bsrc = ("(SELECT bk.* FROM buckets bk JOIN small s "
            "ON bk.band = s.band AND bk.bucket = s.bucket)"
            if max_bucket_size is not None else "buckets")
    dot = _duck_dot("x.v", "y.v", dim)
    nx = _duck_dot("x.v", "x.v", dim)
    ny = _duck_dot("y.v", "y.v", dim)
    cos = (f"CASE WHEN {nx} > 0 AND {ny} > 0 "
           f"THEN {dot} / (SQRT({nx}) * SQRT({ny})) ELSE 0.0 END")
    return f"""
WITH RECURSIVE v AS (
  SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}
),
buckets AS (
{band_sel}
){size_filter},
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM {bsrc} a JOIN {bsrc} b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
vpairs AS MATERIALIZED (
  SELECT c.id1, c.id2
  FROM cand c JOIN v x ON c.id1 = x.id JOIN v y ON c.id2 = y.id
  WHERE {cos} >= {threshold}
),
nodes AS (SELECT {id_col} AS id FROM {table}),
bi AS MATERIALIZED (
  SELECT id1 AS src, id2 AS dst FROM vpairs
  UNION
  SELECT id2, id1 FROM vpairs
),
reach AS (
  SELECT id AS node, id AS peer FROM nodes
  UNION
  SELECT r.node, bb.dst FROM reach r JOIN bi bb ON r.peer = bb.src
),
comp AS (
  SELECT node AS id, MIN(peer) AS cluster_id FROM reach GROUP BY node
),
sizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.id, c.cluster_id, CAST(s.cluster_size AS BIGINT) AS cluster_size,
       c.id = c.cluster_id AS is_canonical
FROM comp c JOIN sizes s USING (cluster_id)
"""


def embedding_decontaminate(corpus: DataFrame, bench: DataFrame,
                            id_col: str, vec_col: str,
                            threshold: float = 0.8,
                            round_digits: int = 6) -> DataFrame:
    """Semantic benchmark decontamination: for every corpus vector, the
    max cosine against the benchmark set; ``contaminated`` iff it meets
    the threshold. The embedding twin of ``curation.decontaminate``
    (reference has no decontamination surface at all).

    Scale shape: the benchmark (eval sets) is SMALL by nature — it is
    collapsed to ONE row of collected vectors and broadcast, so scoring
    is a pure map-side pass over the corpus scan: zero shuffles, no
    per-corpus-row join, no groupBy. Cost is O(|bench| · dim) per
    corpus row; for benchmark sets beyond ~10^4 vectors, pre-bucket
    both sides with ``lsh_bucket_expr`` and compare within buckets
    instead. An empty benchmark yields max = NULL, contaminated =
    false (fail-open is correct here: nothing to leak).
    """
    bvs = bench.agg(F.collect_list(F.col(vec_col)).alias("bvs"))
    cosines = F.transform(
        F.col("bvs"), lambda bv: cosine_expr(F.col(vec_col), bv))
    mx = F.array_max(cosines)
    return (corpus.crossJoin(F.broadcast(bvs))
            .select(F.col(id_col).alias("id"),
                    F.round(mx, round_digits).alias("max_benchmark_cosine"),
                    F.coalesce(mx >= F.lit(threshold), F.lit(False))
                     .alias("contaminated")))


def embedding_decontaminate_bucketed(corpus: DataFrame, bench: DataFrame,
                                     id_col: str, vec_col: str,
                                     threshold: float = 0.8,
                                     bands: int = 4,
                                     planes_per_band: int = 8,
                                     dim: int = 64,
                                     round_digits: int = 6) -> DataFrame:
    """LSH-bucketed semantic decontamination — the scale path past the
    ~10^4-benchmark-vector ceiling of ``embedding_decontaminate``'s
    broadcast brute force (which stays the exactness baseline; this
    variant is approximate: a corpus vector is only compared to bench
    vectors sharing at least one (band, bucket) LSH key, so
    ``max_benchmark_cosine`` is NULL/absent for corpus rows whose true
    max falls below the LSH recall curve — exactly the rows a
    decontamination filter doesn't care about).

    Plan shape: both sides explode to B (band, bucket) keys; the bench
    side is small relative to the corpus so Spark broadcasts it and the
    candidate join + cosine + partial max all run MAP-SIDE — the only
    shuffle is the per-id max carrying (id, double) rows, and the final
    left join back to corpus ids reuses that same id hashing. No driver
    collect anywhere: past broadcast size the join degrades to a
    shuffle join, still never all-pairs."""
    from dataprofiler_spark.session import ensure_parallelism

    planes_sets = band_hyperplanes(dim, bands, planes_per_band)
    corpus = ensure_parallelism(corpus)

    cb = (corpus.select(F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"),
                        F.explode(band_bucket_structs_expr(
                            F.col(vec_col), planes_sets)).alias("s"))
          .select("id", "v", "s.band", "s.bucket"))
    bb = (bench.select(F.col(vec_col).alias("bv"),
                       F.explode(band_bucket_structs_expr(
                           F.col(vec_col), planes_sets)).alias("s"))
          .select("bv", "s.band", "s.bucket"))
    # Same bench vector matched through 2+ bands → cosine computed twice;
    # MAX is duplicate-insensitive so no distinct is needed.
    mx = (cb.join(F.broadcast(bb), ["band", "bucket"])
          .select("id", cosine_expr(F.col("v"), F.col("bv")).alias("cos"))
          .groupBy("id").agg(F.max("cos").alias("mx")))
    ids = corpus.select(F.col(id_col).alias("id"))
    return (ids.join(mx, "id", "left")
            .select("id",
                    F.round("mx", round_digits).alias("max_benchmark_cosine"),
                    F.coalesce(F.col("mx") >= F.lit(threshold), F.lit(False))
                     .alias("contaminated")))


def oracle_embedding_decontaminate_bucketed_sql(
        table: str, id_col: str, vec_col: str, bench_pred: str, dim: int,
        threshold: float = 0.8, bands: int = 4, planes_per_band: int = 8,
        round_digits: int = 6) -> str:
    """DuckDB mirror of the banded candidate join (benchmark = the
    ``WHERE bench_pred`` rows of the same table)."""
    planes_sets = band_hyperplanes(dim, bands, planes_per_band)
    corpus_sel = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, "
        f"CAST({_duck_bucket(ps, dim, 't.v')} AS BIGINT) AS bucket FROM c t"
        for b, ps in enumerate(planes_sets))
    bench_sel = "\n  UNION ALL\n".join(
        f"  SELECT bv, {b} AS band, "
        f"CAST({_duck_bucket(ps, dim, 't.bv')} AS BIGINT) AS bucket "
        f"FROM bench t"
        for b, ps in enumerate(planes_sets))
    cos = duck_cosine(_duck_dot('c.v', 'bb.bv', dim),
                      _duck_dot('c.v', 'c.v', dim),
                      _duck_dot('bb.bv', 'bb.bv', dim))
    return f"""
WITH bench AS (SELECT {vec_col}::DOUBLE[] AS bv FROM {table}
               WHERE {bench_pred}),
c AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table}),
cb AS (
{corpus_sel}
),
bb AS (
{bench_sel}
),
m AS (
  SELECT cb.id, MAX({cos}) AS mx
  FROM cb
  JOIN bb ON cb.band = bb.band AND cb.bucket = bb.bucket
  JOIN c ON cb.id = c.id
  GROUP BY cb.id
)
SELECT c.id, ROUND(m.mx, {round_digits}) AS max_benchmark_cosine,
       COALESCE(m.mx >= {threshold}, FALSE) AS contaminated
FROM c LEFT JOIN m ON c.id = m.id
"""


def oracle_embedding_decontaminate_sql(table: str, id_col: str,
                                       vec_col: str, bench_pred: str,
                                       dim: int, threshold: float = 0.8,
                                       round_digits: int = 6) -> str:
    """Oracle over a benchmark defined as ``WHERE bench_pred`` rows of
    the same table (mirrors the registered query's bench subset)."""
    cos = duck_cosine(_duck_dot('c.v', 'b.bv', dim),
                      _duck_dot('c.v', 'c.v', dim),
                      _duck_dot('b.bv', 'b.bv', dim))
    return f"""
WITH b AS (SELECT {vec_col}::DOUBLE[] AS bv FROM {table} WHERE {bench_pred}),
c AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS v FROM {table})
SELECT c.id,
       ROUND(MAX({cos}), {round_digits}) AS max_benchmark_cosine,
       COALESCE(MAX(CASE WHEN {cos} >= {threshold} THEN 1 ELSE 0 END) = 1,
                FALSE) AS contaminated
FROM c LEFT JOIN b ON TRUE
GROUP BY c.id
"""


def hard_negatives(df: DataFrame, id_col: str, vec_col: str,
                   label_col: str, n_queries: int = 5, k: int = 5,
                   round_digits: int = 6) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the ``k`` most-cosine-similar vectors carrying a DIFFERENT
    label — the high-value negatives an embedding trainer samples
    instead of random ones.

    Queries are the ``n_queries`` smallest ids (deterministic probe
    set, same convention as ivf_topk_det); the tiny query frame
    broadcasts into one corpus scan, and the per-query top-k is a
    window over ``n_queries`` bounded partitions — at scale you mine
    per training batch, which is exactly what the bounded query set
    models. NULL labels never qualify as negatives (<> is NULL-safe
    false on both engines).

    Output: (query_id, rank, vec_id, neg_label, cosine).
    """
    from pyspark.sql.window import Window

    qs = (df.orderBy(F.col(id_col)).limit(n_queries)
          .select(F.col(id_col).alias("query_id"),
                  F.col(vec_col).alias("qv"),
                  F.col(label_col).cast("long").alias("qlbl")))
    scored = (df.select(F.col(id_col).alias("vec_id"),
                        F.col(vec_col).alias("v"),
                        F.col(label_col).cast("long").alias("neg_label"))
              .crossJoin(F.broadcast(qs))
              .where((F.col("vec_id") != F.col("query_id"))
                     & (F.col("neg_label") != F.col("qlbl")))
              .select("query_id", "vec_id", "neg_label",
                      F.round(cosine_expr(F.col("v"), F.col("qv")),
                              round_digits).alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "neg_label", "cosine"))


def oracle_hard_negatives_sql(table: str, id_col: str, vec_col: str,
                              label_col: str, n_queries: int = 5,
                              k: int = 5, dim: int = 64,
                              round_digits: int = 6) -> str:
    num = _duck_dot("e.v", "q.qv", dim)
    na = _duck_dot("e.v", "e.v", dim)
    nb = _duck_dot("q.qv", "q.qv", dim)
    return f"""
WITH e AS (
  SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v,
         CAST({label_col} AS BIGINT) AS lb
  FROM {table}
), q AS (
  SELECT vec_id AS query_id, v AS qv, lb AS qlbl FROM e
  ORDER BY vec_id LIMIT {n_queries}
), sc AS (
  SELECT q.query_id, e.vec_id, e.lb AS neg_label,
         ROUND(CASE WHEN {na} > 0 AND {nb} > 0 THEN {num} / (SQRT({na}) * SQRT({nb})) ELSE 0.0 END, {round_digits}) AS cosine
  FROM q CROSS JOIN e
  WHERE e.vec_id <> q.query_id AND e.lb <> q.qlbl
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, neg_label, cosine
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM sc)
WHERE rank <= {k}
"""
