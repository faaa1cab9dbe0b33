"""Persisted IVF (inverted-file) ANN index over an embedding column.

The in-memory IVF path (operators/clustering.ivf_topk_det) re-fits and
re-assigns per query; this module makes the index a durable artifact —
the shape a 100 TB similarity-search deployment actually uses:

    {path}/centroids/   tiny parquet: (centroid, center array<double>)
    {path}/vectors/     parquet partitioned BY centroid: (id, embedding)
    {path}/_ivf_meta.json

Build fits the coarse quantizer on a SAMPLE (``fit_fraction``) — at
corpus scale the quantizer needs thousands of points, not trillions —
then assigns the full table map-side and writes it partitioned by
centroid. A query ranks centroids driver-side against the tiny centroid
table and reads ONLY the ``nprobe`` matching partition directories:
Spark partition pruning turns the recall/IO trade into a file-listing
decision (asserted in tests/test_plans.py).

Quantizer: ``"det"``, the only one — this package's deterministic
distributed k-means (operators/clustering.kmeans_fit), whose fixed-point
algebra a DuckDB oracle reproduces bit-for-bit, so build → persist →
query is oracle-checkable END TO END (queries.ann_index_query_embeddings).
``fit_fraction`` is an md5-hash sample (same rule as
operators/sampling.hash_sample) — deterministic and oracle-mirrorable,
unlike Spark's partition-order-dependent ``DataFrame.sample``.

Distance: cosine. Deterministic: the same input builds the same index.

Serving reads an index once per build and Spark context: the first
query against a path parses both JSON sidecars, collects the centroid
table and opens the ``vectors`` relation (its file listing and schema),
and keeps them in a small driver-side LRU keyed by the absolute path.
An entry is reused while the ``(st_mtime_ns, st_size)`` of
``_ivf_meta.json`` and of ``_pq_codebooks.json`` (or its absence) and
the SparkContext's ``applicationId`` are the ones it recorded, so a
rebuild at the same path or a restarted context refills it. Later
queries run one Spark job: each builds its own ``centroid IN (...)``
plan on the cached relation, so partition pruning is unchanged.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ivf_build(df: DataFrame, id_col: str, vec_col: str, path: str,
              n_centroids: int = 16, fit_fraction: float | None = None,
              quantizer: str = "det", iters: int = 2, pq_m: int | None = None,
              pq_codes: int = 16, pq_iters: int = 1) -> dict:
    """Fit + assign + write the index; returns the metadata dict.

    ``quantizer`` must be ``"det"`` (clustering.kmeans_fit, the only
    k-means) and is recorded in the metadata. ``pq_m`` additionally
    fits ``pq_m`` product-quantization codebooks (clustering.pq_fit)
    and stores each vector's m codes in the vectors table plus the
    codebooks in ``_pq_codebooks.json`` — the durable
    IVF-PQ layout ivf_query_adc serves from without ever reading the
    vector column."""
    if quantizer != "det":
        raise ValueError(f"unknown quantizer {quantizer!r} (expected 'det')")
    from dataprofiler_spark.operators import clustering as cl
    from dataprofiler_spark.operators.sampling import hash_sample

    pq_books = None
    # NULL vectors have no cell — same rule as the clustering ops
    df = df.where(F.col(vec_col).isNotNull())
    fit_on = hash_sample(df, id_col, fit_fraction) if fit_fraction else df
    centers_list = cl.kmeans_fit(fit_on, id_col, vec_col,
                                 k=n_centroids, iters=iters)
    # ONE assignment scan (clustering._assign_multi_cols) encodes the
    # centroid and, with pq_m, the m PQ codes as m+1 specs of the
    # same vector; vectors not exactly dim wide raise. Above
    # ASSIGN_EXPR_MAX_K codes it runs as the vectorized NumPy kernel
    # (bit-identical), so a deployment-sized n_centroids does not pay
    # the O(k·dim) interpreted expression per row.
    dim = len(centers_list[0])
    specs = [(0, dim, centers_list)]
    if pq_m is not None:
        sub = dim // pq_m
        pq_books = cl.pq_fit(fit_on, id_col, vec_col, m=pq_m,
                             k_codes=pq_codes, iters=pq_iters, dim=dim)
        specs += [(j * sub, sub, b) for j, b in enumerate(pq_books)]
    assigned = cl._assign_multi_cols(
        df.select(F.col(id_col).alias("id"),
                  F.col(vec_col).alias("v")), specs, dim).select(
        "id", F.col("v").alias("embedding"),
        F.col("__cl0").alias("centroid"),
        *[F.col(f"__cl{j + 1}").alias(f"code{j}")
          for j in range(len(specs) - 1)])
    (assigned.write.mode("overwrite").partitionBy("centroid")
     .parquet(os.path.join(path, "vectors")))

    spark = df.sparkSession
    centers = [(i, c) for i, c in enumerate(centers_list)]
    (spark.createDataFrame(centers, "centroid int, center array<double>")
     .coalesce(1).write.mode("overwrite")
     .parquet(os.path.join(path, "centroids")))

    meta = {"n_centroids": n_centroids, "dim": dim, "metric": "cosine",
            "fit_fraction": fit_fraction, "quantizer": quantizer,
            "iters": iters,
            "pq_m": pq_m, "pq_codes": pq_codes if pq_m else None,
            "pq_iters": pq_iters if pq_m else None}
    with open(os.path.join(path, "_ivf_meta.json"), "w") as f:
        json.dump(meta, f)
    books_path = os.path.join(path, "_pq_codebooks.json")
    if pq_books is not None:
        with open(books_path, "w") as f:
            json.dump(pq_books, f)
    elif os.path.exists(books_path):
        # a plain rebuild over a PQ index must not leave its codebooks
        os.remove(books_path)
    return meta


class _Index(NamedTuple):
    """One index as the query paths read it; ``key`` is what it was
    read under (see _index)."""
    key: tuple
    meta: dict
    books: list | None
    centroids: list[tuple[int, list[float]]]  # sorted by centroid id
    vectors: DataFrame


_INDEX_CACHE_SIZE = 8
_INDEX_CACHE: OrderedDict[str, _Index] = OrderedDict()
_INDEX_LOCK = threading.Lock()


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    return st.st_mtime_ns, st.st_size


def _index(spark: SparkSession, path: str) -> _Index:
    """The index at ``path``, read once per build and Spark context.

    The key is taken before the files are read, so a rebuild that
    lands mid-read leaves an entry whose key no longer matches and the
    next query refills it. The application id covers a stopped and
    restarted context, whose old relation cannot run."""
    path = os.path.abspath(path)
    key = (_stamp(os.path.join(path, "_ivf_meta.json")),
           _stamp(os.path.join(path, "_pq_codebooks.json")),
           spark.sparkContext.applicationId)
    with _INDEX_LOCK:
        hit = _INDEX_CACHE.get(path)
        if hit is not None and hit.key == key:
            _INDEX_CACHE.move_to_end(path)
            return hit
    meta = ivf_meta(path)
    books = None
    if meta.get("pq_m"):
        with open(os.path.join(path, "_pq_codebooks.json")) as f:
            books = json.load(f)
    rows = spark.read.parquet(os.path.join(path, "centroids")).collect()
    centroids = sorted(((r["centroid"], list(r["center"])) for r in rows),
                       key=lambda c: c[0])
    entry = _Index(key, meta, books, centroids,
                   spark.read.parquet(os.path.join(path, "vectors")))
    with _INDEX_LOCK:
        _INDEX_CACHE[path] = entry
        _INDEX_CACHE.move_to_end(path)
        while len(_INDEX_CACHE) > _INDEX_CACHE_SIZE:
            _INDEX_CACHE.popitem(last=False)
    return entry


def _cosine(a: list[float], b: list[float]) -> float:
    num = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(y * y for y in b) ** 0.5
    return num / (na * nb) if na and nb else 0.0


def ivf_probe_centroids(spark: SparkSession, path: str,
                        query_vec: list[float], nprobe: int) -> list[int]:
    """Rank centroids by cosine against the query (driver-side — the
    centroid table is O(n_centroids), tiny by construction)."""
    ranked = sorted(_index(spark, path).centroids,
                    key=lambda c: (-_cosine(query_vec, c[1]), c[0]))
    return [cid for cid, _ in ranked[:nprobe]]


def ivf_query(spark: SparkSession, path: str, query_vec: list[float],
              k: int = 10, nprobe: int = 2,
              exclude_id: int | None = None) -> DataFrame:
    """(rank, vec_id, cosine) over the nprobe nearest inverted lists.

    The ``centroid IN (...)`` filter is a partition filter on the
    vectors table — only nprobe/n_centroids of the files are listed or
    read. Scoring is a broadcast of the query literal + scan; top-k is
    distributed TakeOrderedAndProject."""
    from dataprofiler_spark.operators.similarity import cosine_expr
    from dataprofiler_spark.operators.topk import ranked_topk

    probe = ivf_probe_centroids(spark, path, query_vec, nprobe)
    cand = _index(spark, path).vectors.where(F.col("centroid").isin(probe))
    if exclude_id is not None:
        cand = cand.where(F.col("id") != exclude_id)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        F.col("id").alias("vec_id"),
        F.round(cosine_expr(F.col("embedding"), q), 6).alias("cosine"))
    return (ranked_topk(scored, [F.desc("cosine"), F.asc("vec_id")], k)
            .select("rank", "vec_id", "cosine"))


def ivf_query_adc(spark: SparkSession, path: str,
                  query_vec: list[float], k: int = 10, nprobe: int = 2,
                  exclude_id: int | None = None) -> DataFrame:
    """(rank, vec_id, approx_d) via asymmetric-distance scoring over the
    STORED PQ codes — the serving path that never reads the vector
    column: the pruned scan touches (id, centroid, code0..m) only
    (ReadSchema-asserted in tests), and each candidate costs m integer
    table lookups.

    Ranking semantics == clustering.ivf_pq_topk, through the same
    helpers (clustering._adc_probe / _adc_table / _adc_expr): probe
    cells by squared distance (tie → lowest centroid), ADC tables in
    1e6 fixed-point longs, ties by (d6, id). Requires an index built
    with ``ivf_build(pq_m=...)``."""
    from dataprofiler_spark.operators import clustering as cl
    from dataprofiler_spark.operators.topk import ranked_topk

    ix = _index(spark, path)
    if not ix.meta.get("pq_m"):
        raise ValueError(f"index at {path} was built without pq_m — "
                         "rebuild with ivf_build(..., pq_m=m)")
    m = ix.meta["pq_m"]
    qv = [float(x) for x in query_vec]
    probe = cl._adc_probe(qv, [c for _, c in ix.centroids], nprobe)

    cols = ["id", "centroid"] + [f"code{j}" for j in range(m)]
    cand = ix.vectors.select(*cols).where(F.col("centroid").isin(probe))
    if exclude_id is not None:
        cand = cand.where(F.col("id") != exclude_id)
    scored = cand.select(
        F.col("id").alias("vec_id"),
        cl._adc_expr(F.lit(cl._adc_table(qv, ix.books)), m).alias("d6"))
    return (ranked_topk(scored, [F.asc("d6"), F.asc("vec_id")], k)
            .select("rank", "vec_id",
                    F.round(F.col("d6") / F.lit(float(cl._SCALE)), 6)
                    .alias("approx_d")))


def ivf_meta(path: str) -> dict:
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        return json.load(f)


def oracle_ann_index_query_sql(table: str, id_col: str, vec_col: str,
                               n_centroids: int = 8, iters: int = 2,
                               nprobe: int = 2, k: int = 5,
                               dim: int = 64,
                               round_digits: int = 6) -> str:
    """SQL twin of build(quantizer='det') → ivf_query(query_vec =
    the smallest id's vector, exclude_id = that id).

    Mirrors every decision point of the persisted index: the
    deterministic k-means centroids (clustering._kmeans_ctes — exact
    fixed-point algebra), the one-cell-per-vector assignment
    (squared distance, tie → lowest centroid), the driver-side probe
    ranking (cosine DESC, centroid ASC — Python's sequential sum and
    DuckDB's list_sum are the same left fold over identical doubles),
    and the final top-k (rounded cosine DESC, id ASC)."""
    from dataprofiler_spark.operators.clustering import (_duck_sqdist,
                                                         _kmeans_ctes)
    sq = _duck_sqdist("e.v", "c.v", dim)
    dot = ("list_sum(list_transform(generate_series(1, {d}),"
           " i -> {a}[i] * {b}[i]))")
    qnum = dot.format(d=dim, a="c.v", b="q.qv")
    qna = dot.format(d=dim, a="c.v", b="c.v")
    qnb = dot.format(d=dim, a="q.qv", b="q.qv")
    num = dot.format(d=dim, a="cells.v", b="q.qv")
    na = dot.format(d=dim, a="cells.v", b="cells.v")
    nb = dot.format(d=dim, a="q.qv", b="q.qv")
    return f"""
WITH {_kmeans_ctes(table, id_col, vec_col, n_centroids, iters, dim)},
cells AS (
  SELECT id, v, cl::INT AS centroid FROM (
    SELECT e.id, e.v, c.cl,
           ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {sq}, c.cl) AS rn
    FROM e CROSS JOIN c{iters} c)
  WHERE rn = 1
),
q AS (SELECT id AS qid, v AS qv FROM e ORDER BY id LIMIT 1),
probes AS (
  SELECT cl::INT AS centroid FROM (
    SELECT c.cl,
           ROW_NUMBER() OVER (
             ORDER BY CASE WHEN {qna} > 0 AND {qnb} > 0
                           THEN {qnum} / (SQRT({qna}) * SQRT({qnb}))
                           ELSE 0.0 END DESC,
                      c.cl) AS rn
    FROM c{iters} c CROSS JOIN q)
  WHERE rn <= {nprobe}
),
scored AS (
  SELECT cells.id AS vec_id,
         ROUND(CASE WHEN {na} > 0 AND {nb} > 0 THEN {num} / (SQRT({na}) * SQRT({nb})) ELSE 0.0 END, {round_digits}) AS cosine
  FROM cells JOIN probes USING (centroid) CROSS JOIN q
  WHERE cells.id <> q.qid
)
SELECT CAST(rank AS INT) AS rank, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""
