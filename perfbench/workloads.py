"""The workloads. A workload is one or more parts. Each part has two
halves:

- in a child process (``prep.py``, so the driver's memory stays the
  package's): ``inputs`` writes the part's extra generated files and
  returns its set-up facts, and ``expected`` computes its expected
  outputs once, untimed;
- in the benchmark driver: ``setup`` builds indexes and baselines,
  ``bind`` makes the DataFrames of the current Spark session, and
  ``ops`` yields the timed operations of one pass.

An operation is ``Op(name, fn, check, request)``: ``fn`` makes the
package call(s) inside layer spans, ``check`` returns whether the result
is correct, and ``request`` marks the operations whose cost is reported
as ``request_cpu_ms`` (and their latency in the run record)."""

from __future__ import annotations

import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import check
from check import Oracle, canon_records, canon_tuples


@dataclass
class Op:
    name: str
    fn: Callable[[], Any]
    check: Callable[[Any], bool]
    request: bool = True  # counts toward the per-request metrics


_LI_NUM = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
           "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_LI_STR = ["l_returnflag", "l_linestatus"]
_EV_NUM = ["event_id", "user_id", "value"]
_EV_STR = ["event_type", "props"]


def _profile_rows(state) -> list:
    from dataprofiler_spark.report import deterministic_report_rows
    return canon_tuples(deterministic_report_rows(state))


class Part:
    tables: tuple[str, ...] = ()

    def __init__(self, ctx, meta: dict):
        self.ctx = ctx
        self.meta = meta
        self.want: dict = {}

    # -- child process -------------------------------------------------

    @classmethod
    def inputs(cls, seed: int, work: str, paths: dict) -> dict:
        """Write extra inputs (adding them to ``paths``); return the
        facts ``setup`` needs, as JSON."""
        return {}

    @classmethod
    def expected(cls, seed: int, meta: dict, oracle: Oracle) -> dict:
        """Expected outputs, computed once per run and not timed."""
        return {}

    # -- benchmark driver ----------------------------------------------

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, layer: str):
        return self.ctx.tracer.span(layer)

    def read(self, table: str):
        """The table as the engine's loaders present it: naive parquet
        timestamps become session-time (UTC) timestamps."""
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.ctx.paths[table])
        for col, typ in df.dtypes:
            if typ == "timestamp_ntz":
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        return df

    def collect(self, layer: str, fn):
        """An operation that builds a plan with ``fn``, collects it inside
        a ``layer`` span, and releases the caches the operator pinned."""
        from dataprofiler_spark.session import unpersist_plan

        def call():
            with self.span(layer):
                df = fn()
                rows = df.collect()
                unpersist_plan(df)
            return rows
        return call

    def setup(self) -> None:
        """Register inputs; build indexes and baselines."""
        self.bind()

    def bind(self) -> None:
        """(Re)create the DataFrames of the current Spark session; called
        again after the session is restarted."""

    def ops(self) -> list[Op]:
        raise NotImplementedError


class Profile(Part):
    """Data(path) -> whole-table profile -> report, and a fused snapshot
    diff whose two sides are merged back with ``+``."""

    tables = ("lineitem", "events")

    @classmethod
    def inputs(cls, seed, work, paths):
        import gen

        ts = gen.build(seed, "events").column("ts").cast("int64")
        return {"mid": (ts[0].as_py() + ts[-1].as_py()) // 2}

    @classmethod
    def expected(cls, seed, meta, oracle):
        from dataprofiler_spark import report as rep

        return {
            "lineitem": oracle.tuples(rep.oracle_full_profile_sql(
                "lineitem", _LI_NUM, _LI_STR, ["l_shipdate"])),
            "events": oracle.tuples(rep.oracle_full_profile_sql(
                "events", _EV_NUM, _EV_STR, ["ts"])),
            "diff": oracle.tuples(rep.oracle_profile_diff_sql(
                "events", "ts", _EV_NUM, _EV_STR)),
        }

    def bind(self):
        self.events = self.read("events")

    def _table_profile(self):
        from dataprofiler_spark import Data, Profiler, build_report

        with self.span("data"):
            data = Data(self.ctx.paths["lineitem"], spark=self.spark)
        with self.span("plans.profile_plan"):
            state = Profiler(data).profile()
        with self.span("report"):
            build_report(state)
        return state

    def _diff(self):
        from dataprofiler_spark import build_report, diff_profiles
        from dataprofiler_spark.plans.diff_plan import diff_snapshots

        with self.span("plans.diff_plan"):
            _, sa, sb = diff_snapshots(self.events, "ts",
                                       mid=self.meta["mid"])
        with self.span("report"):
            diff = diff_profiles(sa, sb)
        with self.span("state"):
            merged = sa + sb
        with self.span("report"):
            build_report(merged)
        return diff, sa, sb, merged

    def _diff_ok(self, out) -> bool:
        from dataprofiler_spark.report import deterministic_diff_rows

        diff, sa, sb, merged = out
        return (canon_tuples(deterministic_diff_rows(diff, sa, sb))
                == self.want["diff"]
                and _profile_rows(merged) == self.want["events"])

    def ops(self):
        return [
            Op("table_profile", self._table_profile,
               lambda s: _profile_rows(s) == self.want["lineitem"],
               request=False),
            Op("snapshot_diff", self._diff, self._diff_ok, request=False),
        ]


class Curate(Part):
    """Near-dup pairs -> connected components, benchmark
    decontamination and quality features over a text corpus."""

    tables = ("documents",)
    LSH = dict(k=5, num_hashes=6, bands=3, threshold=0.5)

    @classmethod
    def inputs(cls, seed, work, paths):
        import gen

        # the evaluation set: a seed-chosen residue class of doc ids
        mod = 23 + seed % 17
        return {"mod": mod, "rem": gen.pick(seed, 3, mod, 1)[0]}

    @classmethod
    def expected(cls, seed, meta, oracle):
        from dataprofiler_spark.operators import curation as cu
        from dataprofiler_spark.operators import dedup as dd
        from dataprofiler_spark.operators import textanalysis as ta

        rel = oracle.con.sql(dd.oracle_minhash_lsh_pairs_sql(
            "documents", "doc_id", "text", **cls.LSH))
        cols = rel.columns
        raw = [dict(zip(cols, r)) for r in rel.fetchall()]
        edges = [(r["id1"], r["id2"]) for r in raw] or [(0, 0)]
        return {
            "pairs": canon_records(raw),
            "edges": edges,
            "components": check.components(edges),
            "decontaminate": oracle.records(cu.oracle_decontaminate_sql(
                "documents", "doc_id", "text",
                bench_filter=f"doc_id % {meta['mod']} = {meta['rem']}",
                n=8, min_overlap=1)),
            "quality": oracle.records(ta.oracle_quality_features_sql(
                "documents", "doc_id", "text")),
        }

    def bind(self):
        from pyspark.sql import functions as F

        self.docs = self.read("documents")
        self.bench = self.docs.where(
            F.col("doc_id") % self.meta["mod"] == self.meta["rem"])

    def ops(self):
        from dataprofiler_spark.operators import curation as cu
        from dataprofiler_spark.operators import dedup as dd
        from dataprofiler_spark.operators import graph
        from dataprofiler_spark.operators import textanalysis as ta

        run, want = self.collect, self.want
        edges = self.spark.createDataFrame(want["edges"],
                                           "id1 long, id2 long")

        def cc_ok(rows):
            return sorted((r[0], r[1]) for r in rows) == want["components"]

        return [
            Op("minhash_lsh_pairs", run("operators.dedup", lambda:
               dd.minhash_lsh_pairs(self.docs, "doc_id", "text",
                                    **self.LSH)),
               lambda r: canon_records(r) == want["pairs"], request=False),
            Op("connected_components", run("operators.graph", lambda:
               graph.connected_components(edges, "id1", "id2")),
               cc_ok, request=False),
            Op("decontaminate", run("operators.curation", lambda:
               cu.decontaminate(self.docs, "doc_id", "text", self.bench,
                                "doc_id", "text", n=8, min_overlap=1)),
               lambda r: canon_records(r) == want["decontaminate"],
               request=False),
            Op("quality_features", run("operators.textanalysis", lambda:
               ta.quality_features(self.docs, "doc_id", "text")),
               lambda r: canon_records(r) == want["quality"],
               request=False),
        ]


class Vectors(Part):
    """Embedding analytics plus a request phase of single-vector ANN
    queries against an IVF-PQ index built in setup."""

    tables = ("embeddings",)
    N_QUERIES = 7
    # The ADC oracle answers the n smallest ids as queries, so the
    # seed picks the queries among the first QUERY_RANGE ids.
    QUERY_RANGE = 64
    TOP_K, NPROBE = 5, 2
    KMEANS = dict(k=4, iters=1)
    # few bands and planes keep the DuckDB oracle to a few seconds
    NEARDUP = dict(threshold=0.5, bands=2, planes_per_band=3,
                   max_bucket_size=100)
    INDEX = dict(n_centroids=4, quantizer="det", iters=1, pq_m=4,
                 pq_codes=4, pq_iters=1)

    @classmethod
    def inputs(cls, seed, work, paths):
        import gen

        ids = gen.pick(seed, 5, cls.QUERY_RANGE, cls.N_QUERIES)
        vecs = gen.build(seed, "embeddings").column("embedding")
        return {"dim": gen.EMBED_DIM,
                "queries": [(i, [float(x) for x in vecs[i].as_py()])
                            for i in ids]}

    @classmethod
    def expected(cls, seed, meta, oracle):
        from dataprofiler_spark.operators import clustering as cl
        from dataprofiler_spark.operators import similarity as sim

        dim, ix = meta["dim"], cls.INDEX
        # ivf_build + ivf_query_adc rank like ivf_pq_topk with the same
        # settings, whose oracle takes the n smallest ids as queries
        rel = oracle.con.sql(cl.oracle_ivf_pq_topk_sql(
            "embeddings", "vec_id", "embedding",
            k_clusters=ix["n_centroids"], iters=ix["iters"], m=ix["pq_m"],
            k_codes=ix["pq_codes"], pq_iters=ix["pq_iters"],
            nprobe=cls.NPROBE, n_queries=cls.QUERY_RANGE, k=cls.TOP_K,
            dim=dim))
        cols = rel.columns
        adc: dict[int, list] = {}
        for row in rel.fetchall():
            d = dict(zip(cols, row))
            adc.setdefault(d["query_id"], []).append(
                {k: d[k] for k in ("rank", "vec_id", "approx_d")})
        return {
            "kmeans": oracle.records(cl.oracle_kmeans_assign_sql(
                "embeddings", "vec_id", "embedding", dim=dim,
                **cls.KMEANS)),
            "neardup": oracle.records(sim.oracle_embedding_neardup_sql(
                "embeddings", "vec_id", "embedding", dim=dim,
                **cls.NEARDUP)),
            "adc": {q: canon_records(adc.get(q, []))
                    for q, _ in meta["queries"]},
        }

    def setup(self):
        from dataprofiler_spark.operators import ann_index as ai

        self.bind()
        self.index = os.path.join(self.ctx.work, "ivf_index")
        with self.span("operators.ann_index"):
            ai.ivf_build(self.emb, "vec_id", "embedding", self.index,
                         **self.INDEX)

    def bind(self):
        self.emb = self.read("embeddings")

    def _query(self, qid, vec):
        from dataprofiler_spark.operators import ann_index as ai

        with self.span("operators.ann_index"):
            return ai.ivf_query_adc(self.spark, self.index, vec,
                                    k=self.TOP_K, nprobe=self.NPROBE,
                                    exclude_id=qid).collect()

    def ops(self):
        from dataprofiler_spark.operators import clustering as cl
        from dataprofiler_spark.operators import similarity as sim

        run, want, emb = self.collect, self.want, self.emb

        def same(expected):
            return lambda rows: canon_records(rows) == expected

        out = [
            Op("kmeans_assign", run("operators.clustering", lambda:
               cl.kmeans_assign(emb, "vec_id", "embedding", **self.KMEANS)),
               same(want["kmeans"]), request=False),
            Op("embedding_neardup_pairs", run("operators.similarity",
               lambda: sim.embedding_neardup_pairs(
                   emb, "vec_id", "embedding", dim=self.meta["dim"],
                   **self.NEARDUP)),
               same(want["neardup"]), request=False),
        ]
        for qid, vec in self.meta["queries"]:
            out.append(Op(f"ivf_query_adc[{qid}]",
                          lambda q=qid, v=vec: self._query(q, v),
                          same(want["adc"][qid])))
        return out


class Stream(Part):
    """In-order micro-batches of ``events`` through the three streaming
    monitors. Each batch's categorical PSI is checked against the batch
    PSI oracle; the folds are checked against batch oracles at the end
    of each pass."""

    tables = ("events",)
    N_BATCHES = 3
    DRIFT_COLUMNS = {"event_type": "categorical", "value": "numeric"}

    @classmethod
    def inputs(cls, seed, work, paths):
        import gen

        events = gen.build(seed, "events")
        bounds = gen.batch_bounds(seed, events.num_rows, cls.N_BATCHES)
        for i, (lo, hi) in enumerate(bounds):
            paths[f"batch_{i:03d}"] = gen.write(
                events.slice(lo, hi - lo),
                os.path.join(work, "batches", f"batch_{i:03d}.parquet"))
        return {"bounds": bounds}

    @classmethod
    def expected(cls, seed, meta, oracle):
        from dataprofiler_spark import report as rep
        from dataprofiler_spark.operators.drift import \
            oracle_categorical_psi_sql
        from dataprofiler_spark.operators.events import \
            oracle_markov_transitions_sql

        return {
            "fold": oracle.tuples(rep.oracle_full_profile_sql(
                "events", _EV_NUM, _EV_STR, ["ts"])),
            "markov": sorted(
                (r[0], r[1], r[2]) for r in oracle.con.sql(
                    "SELECT from_type, to_type, n_trans FROM ("
                    + oracle_markov_transitions_sql("events")
                    + ")").fetchall()),
            # the monitor's baseline is all of events
            "psi": [oracle.con.sql(oracle_categorical_psi_sql(
                        "events", f"batch_{i:03d}", "event_type"))
                    .fetchone()[0] for i in range(len(meta["bounds"]))],
        }

    def setup(self):
        from dataprofiler_spark import StreamingDriftMonitor

        self.bind()
        # the baseline is kept as plain Python state, so it outlives a
        # session restart
        with self.span("streaming.drift"):
            self.drift = StreamingDriftMonitor(self.read("events"),
                                               self.DRIFT_COLUMNS)
        self.numeric_psi: list | None = None

    def bind(self):
        self.batches = [self.read(f"batch_{i:03d}")
                        for i in range(len(self.meta["bounds"]))]

    def ops(self):
        from dataprofiler_spark import StreamingProfiler
        from dataprofiler_spark.streaming.markov import StreamingMarkov

        prof, markov = StreamingProfiler(), StreamingMarkov()
        self.drift.log.clear()
        last = len(self.batches) - 1

        def step(batch):
            def call():
                with self.span("streaming.incremental"):
                    prof.update(batch)
                with self.span("streaming.drift"):
                    entry = self.drift.update(batch)
                with self.span("streaming.markov"):
                    markov.update(batch)
                return entry
            return call

        def batch_ok(i):
            lo, hi = self.meta["bounds"][i]

            def ok(entry) -> bool:
                good = (entry["n_rows"] == hi - lo
                        and check.same_value(entry["psi"]["event_type"],
                                             self.want["psi"][i]))
                if i < last:
                    return good
                return good and self._fold_ok(prof, markov)
            return ok

        return [Op(f"batch[{i}]", step(b), batch_ok(i))
                for i, b in enumerate(self.batches)]

    def _fold_ok(self, prof, markov) -> bool:
        got_markov = sorted((d["from_type"], d["to_type"], d["n_trans"])
                            for d in markov.snapshot())
        # numeric PSI over bin edges frozen from the baseline's
        # approximate quantiles has no batch oracle: it must be a
        # finite PSI and repeat the first pass's values exactly
        psi = [e["psi"]["value"] for e in self.drift.log]
        if self.numeric_psi is None:
            self.numeric_psi = psi
        return (_profile_rows(prof.state) == self.want["fold"]
                and got_markov == self.want["markov"]
                and markov.seam_out_of_order == 0
                and all(p is not None and math.isfinite(p) and p >= 0
                        for p in psi)
                and psi == self.numeric_psi)


class Workload:
    """The parts of one workload, run back to back in every pass."""

    def __init__(self, name: str, ctx, metas: dict):
        self.name = name
        self.parts = [p(ctx, metas[p.__name__]) for p in WORKLOADS[name]]

    @staticmethod
    def tables(name: str) -> list[str]:
        return sorted({t for p in WORKLOADS[name] for t in p.tables})

    def setup(self):
        for p in self.parts:
            p.setup()

    def bind(self):
        for p in self.parts:
            p.bind()

    def expect(self, wants: dict):
        for p in self.parts:
            p.want = wants[type(p).__name__]

    def ops(self) -> list[Op]:
        return [op for p in self.parts for op in p.ops()]


# tables: the profile engine at two call sizes (a few whole-table calls,
# many micro-batches); corpus: the LLM-data operators (text, then
# vectors).
WORKLOADS = {"tables": (Profile, Stream), "corpus": (Curate, Vectors)}
