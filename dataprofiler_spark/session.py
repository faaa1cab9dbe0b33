"""SparkSession construction with scale-oriented defaults.

The engine is designed for a multi-executor cluster reading ~100 TB; the
settings below are the ones that matter at that scale (AQE, skew-join
handling, partial aggregation pushdown, Arrow for the few pandas-UDF
paths). Local testing uses ``local[N]`` but nothing here assumes a single
JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

# Tuned for correctness at any scale; sizes that are cluster-dependent are
# left overridable via normal Spark conf mechanisms.
_SCALE_DEFAULTS: dict[str, str] = {
    # Adaptive query execution: runtime re-plan, skew-join splitting and
    # partition coalescing are essential on skewed 100 TB joins/aggs.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for the pandas_udf / mapInPandas paths (labeler,
    # multimodal decode, minhash batch kernels).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Large parquet scans: 128 MiB splits keep task count sane at 100 TB
    # (Spark default; stated explicitly because it is load-bearing).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Ensure timestamp semantics are stable across engines.
    "spark.sql.session.timeZone": "UTC",
    # Compiled generated-code classes kept per JVM (Spark default 100,
    # LRU). One pass of the profile plan, snapshot diff and streaming
    # monitors needs ~182 distinct classes and one pass of the corpus
    # operators ~224, so at 100 every class is evicted before its next
    # use and each warm call recompiles (Janino + JIT) what it compiled
    # last time. 1000 holds > 4x the larger working set. Static conf:
    # read once per JVM at the first codegen, so it must be set before
    # getOrCreate (a caller-built session keeps Spark's 100).
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "dataprofiler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for local testing;
    on a real cluster the caller passes a session built by their own
    launcher and none of this matters — every public API accepts an
    existing SparkSession/DataFrame.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in _SCALE_DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SEED: int | None = None


def set_seed(seed: int | None) -> None:
    """Global sampling seed (reference: dp.set_seed / DATAPROFILER_SEED,
    dataprofiler/__init__.py:26-31, rng_utils.py:10-19). Consumed by
    Profiler sampling and any operator that samples."""
    global _SEED
    _SEED = seed


def get_seed(default: int = 42) -> int:
    if _SEED is not None:
        return _SEED
    env = os.environ.get("DATAPROFILER_SEED")
    return int(env) if env and env.isdigit() else default


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition ONLY when the input is under-partitioned relative to the
    cluster (e.g. one small parquet file on a 32-core local run).

    At real scale the scan already yields thousands of partitions and this
    is a no-op — the guard exists so compute-heavy per-row operators
    (minhash, simhash, embedding math) aren't serialized by a single
    input split. The repartition is round-robin: these operators are
    embarrassingly parallel per row, so no key locality is lost.
    """
    if df.isStreaming:
        # partition inspection (df.rdd) would execute the streaming
        # plan; micro-batch sizing is the trigger's job anyway
        return df
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(target // 2, 2):
        return df.repartition(target)
    return df


def explode_no_prefilter(df, array_col, alias: str, *keep: str):
    """``explode()`` without the optimizer's inferred pre-filter.

    Plain ``explode(arr)`` makes InferFiltersFromGenerate add
    ``size(arr) > 0 AND arr IS NOT NULL`` *below* the Generate; predicate
    pushdown then moves that filter under the nearest Exchange, where the
    (often expensive) array expression is re-evaluated twice per row on
    the narrow pre-shuffle side — for a single-file local scan that means
    double work on ONE core, and for higher-order-function arrays the
    expression is interpreted with no common-subexpression reuse.

    ``explode_outer`` infers nothing; the cheap ``IS NOT NULL`` filter on
    the *exploded output* runs post-Generate. Semantics match explode()
    exactly as long as the array cannot contain NULL elements — true for
    every regexp/substring/array_join-derived array in this engine.
    """
    from pyspark.sql import functions as F

    out = df.select(*keep, F.explode_outer(array_col).alias(alias))
    return out.where(F.col(alias).isNotNull())


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None):
    """Load the driver's parquet tables as a dict of DataFrames."""
    names = tables or [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def register_persisted(out, *handles):
    """Attach what a returned plan pinned so callers can release it
    once done: ``unpersist_plan(result)``. A handle is a persisted
    DataFrame or the id of a persisted RDD — a localCheckpoint snapshot
    from :func:`_checkpoint_tracking`, which iterative operators
    (connected_components, pagerank) return.

    Operators that persist an intermediate several plan subtrees share
    (minhash_lsh_pairs, semantic_dedup, winnow_neardup_pairs,
    curate_corpus_semantic, ...) always register it here. The persisted
    frame is NOT the returned frame, so without the handle a session
    running many corpora accumulated pinned cache entries (ADVICE r11);
    ``unpersist_plan(result)`` is the one release path.
    Handles already registered on an input plan are propagated, so the
    composed funnel releases its stages' caches too. The attribute is
    plain Python state on the DataFrame wrapper: it survives returns
    and assignments, but NOT further transformations (``df.select(...)``
    builds a new wrapper) — release at the operator-output level.
    """
    existing = list(getattr(out, "_dps_persisted", []))
    out._dps_persisted = existing + list(handles)
    return out


def unpersist_plan(df) -> int:
    """Release every cache and snapshot an operator pinned under this
    returned plan (see :func:`register_persisted`). Safe to call on any
    DataFrame (no-op when nothing is registered); returns the number of
    handles released. Call AFTER the final action over the result —
    unpersisting a cache earlier just recomputes, and a released
    snapshot cannot be recomputed at all (its lineage is truncated)."""
    handles = list(getattr(df, "_dps_persisted", []))
    rdd_ids = {h for h in handles if isinstance(h, int)}
    for h in handles:
        if not isinstance(h, int):
            h.unpersist()
    if rdd_ids:
        _release_rdds(df.sparkSession.sparkContext, rdd_ids)
    if handles:
        df._dps_persisted = []
    return len(handles)


def submit_inheriting(ex, spark: SparkSession, fn, *args):
    """``ex.submit(fn, *args)`` with the calling thread's Spark local
    properties (job group, description, job tags, scheduler pool)
    copied into the pool thread, so a caller's ``setJobGroup`` /
    ``cancelJobGroup`` / ``addJobTag`` covers the jobs a plan runs
    concurrently on its behalf. Wraps per submission: each call gets
    its own copy, because Spark SQL writes its execution id into the
    running thread's properties."""
    return ex.submit(inheritable_thread_target(spark)(fn), *args)


def _persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _checkpoint_tracking(df: DataFrame, eager: bool = True
                         ) -> tuple[DataFrame, set[int]]:
    """localCheckpoint ``df``; also return the ids of the RDDs
    the checkpoint persisted, so the caller can release them once the
    snapshot is no longer read. ``eager=False`` defers materialization
    to the caller's NEXT action over the frame (the persistent-RDD id
    registers at persist time, so the tracking works either way) — use
    it when a loop already runs an action per round that reads the
    frame, saving one full job per iteration (connected_components'
    changed-label count, which reads the round's own aggregate).

    localCheckpoint persists its materialized RDD and nothing ever
    unpersists it — every call leaks one MEMORY_AND_DISK snapshot until
    the JVM ContextCleaner happens to collect it. On a long-lived
    session (an iterative loop, a profile per micro-batch) that is an
    unbounded storage-memory leak, so callers free each snapshot with
    :func:`_release_rdds` AFTER the last job that reads it — a
    localCheckpoint's lineage is truncated, so unpersisting it while
    still referenced loses the data, it cannot be recomputed. A snapshot
    that IS the returned result is registered on it instead
    (:func:`register_persisted`), for the caller's
    :func:`unpersist_plan`."""
    sc = df.sparkSession.sparkContext
    before = _persistent_rdd_ids(sc)
    out = df.localCheckpoint(eager=eager)
    added = _persistent_rdd_ids(sc) - before
    return out, added


def _release_rdds(sc, ids: set[int]) -> None:
    jmap = sc._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
