"""Graph profile over edge-list DataFrames.

Reference: graph_profiler.py:333-460 — num_nodes, num_edges, average
degree, max connected component size, categorical/continuous edge-attr
split, best-fit continuous distribution. Graph data arrives as a CSV edge
list whose source/destination columns are detected by name substring
(graph_data.py:84-143).

Spark design: degree stats are one union + groupBy (GraphFrames' degree
pattern without the dependency). Connected components use iterative
min-label propagation over one persisted read of the edge input — each
round is one join + groupBy whose aggregate also carries the previous
label for the convergence check, converging in O(diameter) rounds; this
is the standard large-graph pattern
(GraphFrames' connectedComponents does the same with alternating large/
small-star optimizations). Distribution fitting samples attribute values
to the driver (bounded) — same as the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.session import (_checkpoint_tracking, _release_rdds,
                                        register_persisted)

SRC_KEYWORDS = ("source", "src", "from", "node_id_1", "start")
DST_KEYWORDS = ("target", "destination", "dst", "to", "node_id_2", "end")


def detect_edge_columns(columns: list[str]) -> tuple[str, str] | None:
    """Name-substring detection (graph_data.py:84-143), driver-side."""
    src = next((c for c in columns
                if any(k in c.lower() for k in SRC_KEYWORDS)), None)
    dst = next((c for c in columns
                if any(k in c.lower() for k in DST_KEYWORDS)), None)
    return (src, dst) if src and dst else None


def degree_stats(edges: DataFrame, src: str, dst: str,
                 round_digits: int = 6) -> DataFrame:
    """(num_nodes, num_edges, avg_degree, max_degree) — undirected degree
    over the union of endpoints; one shuffle."""
    nodes = edges.select(F.col(src).alias("node")).unionAll(
        edges.select(F.col(dst).alias("node")))
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.agg(
        F.count(F.lit(1)).alias("num_nodes"),
        (F.sum("degree") / 2).cast("long").alias("num_edges"),
        F.round(F.avg("degree"), round_digits).alias("avg_degree"),
        F.max("degree").alias("max_degree"),
    )


def oracle_degree_stats_sql(table: str, src: str, dst: str,
                            round_digits: int = 6) -> str:
    return f"""
WITH nodes AS (
  SELECT {src} AS node FROM {table}
  UNION ALL
  SELECT {dst} AS node FROM {table}
), deg AS (
  SELECT node, COUNT(*) AS degree FROM nodes GROUP BY node
)
SELECT COUNT(*) AS num_nodes,
       CAST(SUM(degree) / 2 AS BIGINT) AS num_edges,
       ROUND(AVG(degree), {round_digits}) AS avg_degree,
       MAX(degree) AS max_degree
FROM deg
"""


def connected_components(edges: DataFrame, src: str, dst: str,
                         max_iter: int = 20) -> DataFrame:
    """(node, component) with component = min node id reachable.

    Iterative min-label propagation: labels flow across edges until no
    label changes. The edge input is read once, into one persisted
    symmetric frame ``sym(a, b)`` (both directions of every edge) that
    supplies both the initial nodes and the propagation edges. Each
    round is one join + one groupBy; the groupBy also carries each
    node's previous label, so the round's only action — a count of
    nodes whose label changed — reads the round's own aggregate, with
    no second join. The loop runs on the driver but all data stays
    distributed. localCheckpoint truncates the growing lineage
    (essential at scale — without it the plan doubles every round). A
    round moves a label one hop, so a graph whose diameter is at least
    ``max_iter`` does not converge: the last round still changes a
    label and this raises ``RuntimeError`` rather than return
    unconverged labels.

    The returned labels are the last round's snapshot, registered on
    the result: the caller owns it and frees it with
    ``session.unpersist_plan(result)`` after its last action over it.

    NULL is not a node: an edge with a NULL endpoint contributes its
    non-NULL side as an isolated node and no edge — otherwise the NULL
    "node" becomes its own phantom component and, worse, equality joins
    silently stop propagating through it, so the two engines disagree
    on the component count (found by the adversarial parity suite)."""
    both_ways = F.explode(F.array(
        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
        F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
    sym = (edges.select(both_ways.alias("ab")).select("ab.a", "ab.b")
           .where(F.col("a").isNotNull()).distinct().persist())
    e = sym.where(F.col("b").isNotNull())
    no_label = F.lit(None).cast(sym.schema["a"].dataType)
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    ckpt_ids: set[int] = set()
    # try/finally so a failed iteration can't leak sym's MEMORY_AND_DISK
    # state into the session (the returned labels frame is a
    # localCheckpoint and no longer depends on sym).
    try:
        for _ in range(max_iter):
            prop = (e.join(labels, e.a == labels.node)
                    .select(F.col("b").alias("node"),
                            F.col("component").alias("cand"),
                            no_label.alias("old")))
            new_labels = (labels.select("node",
                                        F.col("component").alias("cand"),
                                        F.col("component").alias("old"))
                          .unionAll(prop)
                          .groupBy("node")
                          .agg(F.min("cand").alias("component"),
                               F.max("old").alias("old")))
            # LAZY checkpoint: the changed count below is the
            # materializing action — an eager checkpoint spent a whole
            # extra job per round storing blocks the very next job
            # re-read. Lineage is truncated either way.
            new_labels, added = _checkpoint_tracking(new_labels,
                                                     eager=False)
            changed = (new_labels.where(F.col("component") != F.col("old"))
                       .limit(1).count())
            _release_rdds(new_labels.sparkSession.sparkContext, ckpt_ids)
            ckpt_ids = added
            labels = new_labels.select("node", "component")
            if changed == 0:
                break
        else:
            _release_rdds(labels.sparkSession.sparkContext, ckpt_ids)
            raise RuntimeError(
                f"connected_components: labels still changing after "
                f"max_iter={max_iter} rounds; raise max_iter (each round "
                f"moves a label one hop, so it must exceed the graph's "
                f"diameter)")
    finally:
        sym.unpersist()
    return register_persisted(labels, *ckpt_ids)


def component_summary(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(num_components, max_component_size) — the reference's 'max
    connected component' stat (graph_profiler.py:333-366). Carries the
    components' snapshot: release it with ``unpersist_plan(result)``."""
    comps = connected_components(edges, src, dst)
    sizes = comps.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    out = sizes.agg(
        F.count(F.lit(1)).alias("num_components"),
        F.max("size").alias("max_component_size"),
    )
    return register_persisted(out, *comps._dps_persisted)


def pagerank(edges: DataFrame, src: str, dst: str, iters: int = 3,
             damp_num: int = 85, damp_den: int = 100,
             round_digits: int = 9) -> DataFrame:
    """PageRank over a directed edge list (Brin & Page '98 — public
    knowledge) — the node-importance signal a data-curation pipeline
    uses to weight web-graph domains, extended beyond the reference's
    degree/component stats.

    Each iteration is ONE join (ranks onto out-edges) + ONE groupBy(dst)
    of integer partial sums + a LEFT join back onto the node set —
    the standard distributed PageRank plan; the loop runs driver-side
    with O(1) state.

    Cross-engine exactness: ranks live in 1e9 fixed-point integers;
    every step is integer arithmetic — init = 1e9 // N, per-edge share
    = rank // out_degree (truncating div), update = base +
    (damp_num · Σ shares) // damp_den with base = (1e9 ·
    (damp_den − damp_num)) // (damp_den · N). Integer sums are
    order-independent, so Spark's partial aggregation and a sequential
    SQL engine produce the SAME rank at every iteration. Truncation
    mass loss (the classic integer-PageRank trade) is identical on
    both engines, and dangling-node mass is dropped (documented).

    Output: (node, rank) with rank = rank9 / 1e9, rounded. The ranks
    are the last round's snapshot, registered on the result: release it
    with ``session.unpersist_plan(result)`` after the last action."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
         .persist())
    # try/finally: every round reads e; the last eager checkpoint is the
    # last job that does, so e is freed once the loop is done
    try:
        nodes = (e.select(F.col("src").alias("node"))
                 .unionAll(e.select(F.col("dst").alias("node")))
                 .distinct())
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank: empty graph")
        r0 = 10**9 // n
        base = (10**9 * (damp_den - damp_num)) // (damp_den * n)
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
        ranks = nodes.withColumn("r", F.lit(r0).cast("long"))
        ckpt_ids: set[int] = set()
        for _ in range(iters):
            shares = (e.join(ranks, e.src == ranks.node)
                      .join(outdeg, "src")
                      .select(F.col("dst").alias("node"),
                              F.expr("r div od").alias("share")))
            contrib = shares.groupBy("node").agg(F.sum("share").alias("s"))
            ranks = (nodes.join(contrib, "node", "left")
                     .select("node",
                             (F.lit(base)
                              + F.expr(f"({damp_num} * coalesce(s, 0))"
                                       f" div {damp_den}"))
                             .cast("long").alias("r")))
            # truncate growing lineage; the eager checkpoint is the last
            # job that reads the previous round's snapshot, so it can be
            # freed
            ranks, added = _checkpoint_tracking(ranks)
            _release_rdds(ranks.sparkSession.sparkContext, ckpt_ids)
            ckpt_ids = added
    finally:
        e.unpersist()
    out = ranks.select("node",
                       F.round(F.col("r") / F.lit(1e9), round_digits)
                       .alias("rank"))
    return register_persisted(out, *ckpt_ids)


def oracle_pagerank_sql(table: str, src: str, dst: str, iters: int = 3,
                        damp_num: int = 85, damp_den: int = 100,
                        round_digits: int = 9) -> str:
    """Unrolled iterations as CTEs — same integer algebra."""
    ctes = [f"""e AS (
  SELECT {src} AS src, {dst} AS dst FROM {table}
  WHERE {src} IS NOT NULL AND {dst} IS NOT NULL)""",
            """nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""",
            "nn AS (SELECT COUNT(*) AS n FROM nodes)",
            "outdeg AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src)",
            """r0 AS (
  SELECT node, CAST(1000000000::BIGINT // n AS BIGINT) AS r
  FROM nodes CROSS JOIN nn)"""]
    base = (f"CAST(1000000000::BIGINT * {damp_den - damp_num} "
            f"// ({damp_den} * n) AS BIGINT)")
    for t in range(1, iters + 1):
        ctes.append(f"""r{t} AS (
  SELECT n.node,
         {base} + CAST({damp_num} * COALESCE(c.s, 0) // {damp_den}
                       AS BIGINT) AS r
  FROM nodes n CROSS JOIN nn LEFT JOIN (
    SELECT e.dst AS node, SUM(r.r // d.od) AS s
    FROM e JOIN r{t - 1} r ON r.node = e.src
    JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst) c ON c.node = n.node)""")
    return f"""
WITH {",".join(ctes)}
SELECT node, ROUND(CAST(r AS DOUBLE) / 1e9, {round_digits}) AS rank
FROM r{iters}
"""


def edge_attribute_profile(edges: DataFrame, attr_cols: list[str],
                           categorical_threshold: float = 0.05,
                           max_categories: int = 10_000) -> dict:
    """Categorical/continuous split of edge attributes + best-fit
    continuous distribution by MLE over a driver-side sample
    (graph_profiler.py:371-460). scipy optional.

    The categorical histogram collect is bounded in ABSOLUTE terms: at
    most ``max_categories`` rows ship to the driver, selected as the
    top-K by count via ``ranked_topk`` (TakeOrderedAndProject — per-
    partition heaps, no full sort). A ratio gate alone is no cap: 5% of
    10^12 edges is 5·10^10 rows. When truncated, the profile records
    ``truncated=True`` and the exact overflow count so downstream totals
    stay exact."""
    from dataprofiler_spark.operators.topk import ranked_topk

    n = edges.count()
    out: dict = {}
    for c in attr_cols:
        distinct = edges.agg(F.approx_count_distinct(c)).collect()[0][0]
        if n and distinct / n <= categorical_threshold:
            grouped = edges.groupBy(c).agg(F.count(F.lit(1)).alias("count"))
            top = ranked_topk(
                grouped, [F.desc("count"), F.asc(c)], max_categories)
            counts = dict((r[0], r["count"]) for r in top.collect())
            kept = sum(counts.values())
            prof = {"kind": "categorical", "histogram": counts}
            # exact truncation signal: the collect hit the cap AND rows
            # are missing (an approx-distinct heuristic could undershoot
            # and silently omit the flag)
            if len(counts) == max_categories and n > kept:
                prof["truncated"] = True
                prof["overflow_count"] = n - kept
            out[c] = prof
        else:
            sample = [r[0] for r in
                      edges.select(c).where(F.col(c).isNotNull())
                      .limit(10_000).collect()]
            out[c] = {"kind": "continuous",
                      "best_fit": _best_fit_distribution(sample)}
    return out


def _best_fit_distribution(values: list[float]) -> str | None:
    try:
        from scipy import stats
    except ImportError:
        return None
    import numpy as np

    arr = np.asarray(values, dtype=float)
    if arr.size < 10:
        return None
    best, best_ll = None, -float("inf")
    for name in ("norm", "uniform", "expon", "logistic", "lognorm", "gamma"):
        dist = getattr(stats, name)
        try:
            params = dist.fit(arr)
            ll = float(np.sum(dist.logpdf(arr, *params)))
        except Exception:
            continue
        if ll > best_ll:
            best, best_ll = name, ll
    return best
