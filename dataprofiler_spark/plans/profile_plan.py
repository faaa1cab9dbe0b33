"""The Profiler — full-dataset profile in TWO passes over the data.

Reference lifecycle (profile_builder.py:2789-3040) runs per-column Python
with multiprocessing pools; the Spark-first plan instead batches:

  pass 1  ONE wide aggregate: per-column null counts (SQL NULL +
          null-regex for strings), type-match counts, numeric power
          stats (count/min/max/sum/var/skew/kurt → central moments for
          mergeable state), zeros/negatives, text length stats,
          datetime min/max, approx distinct per column, row-null stats,
          and approx unique-row count (HLL over xxhash64). It is split
          into bounded-width expression groups (_wide_agg_expr_groups),
          each a column-pruned aggregate collected concurrently
          (Profiler._wide_agg).
  pass 2  ONE fused melted groupBy (_fused_counts_pass) computing BOTH
          category counts of all candidate columns (gated by pass 1's
          approx distincts — the reference's stop condition applied
          *before* spending the shuffle) AND equal-width histogram
          buckets of all numeric columns (bin edges from pass 1's
          min/max; bin count via the numpy-style estimators in
          operators/histogram.py; both chosen by
          Profiler._distribution_specs). One scan, one shuffle, for
          both operator families.

The whole-table profile and the side-split profiles of
plans/diff_plan.py (``profile_by``, ``diff_snapshots``, ``diff_frames``,
``profile_timeline``) are the same pipeline: one column typing
(_column_kinds), one wide-agg runner — unkeyed for the whole table,
``groupBy(side)`` for the sides — and the same distribution specs and
counts pass.

Passes, actions and jobs are different counts. The two passes are one
collect per wide-agg group plus one for the counts, and a 5-row sample
action overlaps the counts pass. Spark turns these actions into more
jobs: AQE runs every shuffle map stage as its own job, and an
under-partitioned local input is checkpointed once (one more job) so
all passes share its partitioning. The lineitem profile at sf0.001 is
22 jobs, a 4-column table 17; tests/test_plans.py
(test_profile_engine_job_budgets) pins both.

Per-column work never spawns per-column jobs (SURVEY §4 anti-pattern
note): expressions fuse into whole-stage codegen; partial aggregation
shuffles one row per partition regardless of column count. At 100 TB the
plan is scan-bound, which is the optimum for a full profile.

Order detection (needs a row ordering) and the labeler sample are opt-in
extra jobs; sampling (reference default max(0.2n, 5000),
profile_builder.py:519-531) is exposed via ``sample_fraction`` but
defaults to exact full-data profiling — at Spark scale the full scan is
the honest default.

The result is a mergeable ``DatasetState`` (state.py): Profiler.profile()
states from disjoint chunks add associatively, which is also the
streaming path (streaming/incremental.py).
"""

from __future__ import annotations

import math
import time
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DateType, NumericType, StringType,
                               StructType, TimestampNTZType, TimestampType)

from dataprofiler_spark.functions.nulls import DEFAULT_NULL_SPEC, NullSpec
from dataprofiler_spark.functions.types import DATETIME_FORMATS
from dataprofiler_spark.operators.histogram import auto_bin_count, bucket_expr
from dataprofiler_spark.session import (_checkpoint_tracking,
                                        _release_rdds, ensure_parallelism,
                                        submit_inheriting)
from dataprofiler_spark.state import (CategoricalState, ColumnState,
                                      DatasetState, DatetimeState,
                                      NumericState, TextState, VectorState)

ISO = "yyyy-MM-dd HH:mm:ss"

# Wide-agg expressions are chunked into independently-collected groups of
# at most this many aggregates (codegen compile cost is superlinear in
# aggregate count; groups overlap across the collect thread pool). 24
# measured best END-TO-END from a cold JVM (lineitem sf0.1 min-of-3:
# width 40 → 7.2 s, width 24 + shared exchange → 4.8 s); much narrower
# loses its warm-run gains to per-group codegen compilation.
WIDE_AGG_GROUP_WIDTH = 24


class ColumnKinds(NamedTuple):
    """The profiled columns of a schema, split by the statistics
    battery each one gets, plus every column's Spark simple type."""
    all: list[str]
    numeric: list[str]
    string: list[str]
    datetime: list[str]
    vector: list[str]
    simple_types: dict[str, str]


def _column_kinds(schema: StructType, exclude: str | None = None
                  ) -> ColumnKinds:
    """Type the columns of ``schema``, leaving out ``exclude`` (the side
    column of a side-split profile)."""
    fields = [f for f in schema.fields if f.name != exclude]

    def names(*types) -> list[str]:
        return [f.name for f in fields if isinstance(f.dataType, types)]

    return ColumnKinds(
        all=[f.name for f in fields],
        numeric=names(NumericType),
        string=names(StringType),
        datetime=names(TimestampType, TimestampNTZType, DateType),
        vector=[f.name for f in fields
                if isinstance(f.dataType, ArrayType)
                and isinstance(f.dataType.elementType, NumericType)],
        simple_types={f.name: f.dataType.simpleString() for f in fields})


def _hist_iqr(counts: list[int], edges: list[float]) -> float:
    """IQR interpolated from histogram cumulative counts (driver-side,
    feeds the fd/scott estimators in suggest_bin_counts)."""
    n = sum(counts)
    if n == 0 or len(edges) < 2:
        return 0.0

    def q(p: float) -> float:
        target = p * n
        acc = 0.0
        for i, c in enumerate(counts):
            if acc + c >= target and c > 0:
                frac = (target - acc) / c
                return edges[i] + (edges[i + 1] - edges[i]) * frac
            acc += c
        return edges[-1]

    return max(q(0.75) - q(0.25), 0.0)


class ProfilerOptions:
    """Mirror of the reference's options tree (profiler_options.py) —
    only the knobs that change the plan; per-stat toggles simply drop
    report fields."""

    def __init__(
        self,
        null_spec: NullSpec = DEFAULT_NULL_SPEC,
        # Per-column null-value overrides (reference column_null_values,
        # profiler_options.py:1428-1490; applied profile_builder.py:
        # 117-123). Keys are column names or positional indexes; values
        # are NullSpec objects that REPLACE the global spec for that
        # column (reference merge-with-default is expressed with
        # NullSpec.with_extra). An override on a non-string column
        # applies regex null semantics to its stringified form.
        column_null_values: dict | None = None,
        # Reference stop condition: categorical while unique ≤ 10 OR
        # unique/sample ≤ 0.2 (categorical_column_profile.py:29-34).
        categorical_stop_ratio: float = 0.2,
        categorical_max_unique: int | None = None,
        # Driver-memory guard: at most this many category rows per column
        # are collected; the remainder folds into exact overflow totals
        # (CategoricalState.overflow_*). A 0.2-unique-ratio column at
        # 100 TB would otherwise ship O(0.2·n) rows to the driver.
        categorical_max_collected: int = 10000,
        histogram_bins: int | str = "auto",
        max_histogram_bins: int = 1000,
        sample_fraction: float | None = None,
        # Reference default-sampling semantics (_get_sample_size,
        # profile_builder.py:519-531): profile all rows when
        # n <= min_sample_size, else max(sampling_ratio*n,
        # min_sample_size) rows — realized here as a Bernoulli fraction
        # from a cheap count (exact-k sampling does not scale; the target
        # and realized sizes are recorded in DatasetState.sampling).
        reference_sampling: bool = False,
        sampling_ratio: float = 0.2,
        min_sample_size: int = 5000,
        sample_seed: int | None = None,
        unique_row_method: str = "hll",   # hll | full | none
        top_k_categories: int = 5,
        datetime_formats: tuple = DATETIME_FORMATS,
        infer_types_on_strings: bool = True,
        order_by: list[str] | None = None,  # enables order detection
        detect_datetime_formats: bool = False,
        min_true_samples: int | None = None,
        # Reference options-tree is_enabled toggles (profiler_options.py):
        # recognized keys: "histogram" (with it "quantiles"/"modes"/"mad"
        # derived stats), "categorical", "samples". Disabling BOTH
        # histogram and categorical removes the entire fused counts scan
        # — at 100 TB that is half the profile's IO.
        disabled_stats: frozenset[str] | set[str] = frozenset(),
        # Reference _timeit telemetry (base_column_profilers.py:68-81)
        # records wall time PER STAT because pandas computes stats one
        # at a time. Spark fuses every stat into one wide agg, so
        # per-stat time does not exist in the default plan; opting in
        # runs one extra timed job per stat family (fused across
        # columns) purely for diagnostics — stat values still come from
        # the fused plan. Keys land in DatasetState.times as "stat:<name>".
        detailed_timing: bool = False,
    ):
        self.null_spec = null_spec
        if column_null_values:
            bad = [k for k, v in column_null_values.items()
                   if not isinstance(v, NullSpec)
                   or not isinstance(k, (str, int))]
            if bad:
                raise ValueError(
                    "column_null_values maps column names or positional "
                    f"indexes to NullSpec objects; bad keys: {bad}")
        self.column_null_values = dict(column_null_values or {}) or None
        self.categorical_stop_ratio = categorical_stop_ratio
        self.categorical_max_unique = categorical_max_unique
        self.categorical_max_collected = categorical_max_collected
        self.histogram_bins = histogram_bins
        self.max_histogram_bins = max_histogram_bins
        self.sample_fraction = sample_fraction
        self.reference_sampling = reference_sampling
        self.sampling_ratio = sampling_ratio
        self.min_sample_size = min_sample_size
        if sample_seed is None:
            from dataprofiler_spark.session import get_seed
            sample_seed = get_seed()
        self.sample_seed = sample_seed
        self.unique_row_method = unique_row_method
        self.top_k_categories = top_k_categories
        self.datetime_formats = datetime_formats
        self.infer_types_on_strings = infer_types_on_strings
        self.order_by = order_by
        self.detect_datetime_formats = detect_datetime_formats
        self.min_true_samples = min_true_samples
        self.detailed_timing = detailed_timing
        unknown = set(disabled_stats) - {"histogram", "categorical",
                                         "samples"}
        if unknown:
            raise ValueError(f"unknown disabled_stats: {sorted(unknown)}")
        self.disabled_stats = frozenset(disabled_stats)

    # reference dotted paths that intentionally change nothing here:
    # multiprocess (Spark IS the parallelism), data_labeler (labeling
    # is an explicit DataLabeler call, never inlined into profile()),
    # correlation / chi2 (separate oracled operators, not profile
    # stages). Accepting them keeps reference scripts running verbatim.
    _SET_NOOPS = ("multiprocess", "data_labeler", "correlation",
                  "chi2_homogeneity")

    def set(self, options: dict) -> None:
        """Reference dotted-path options contract
        (profiler_options.py:103-160 ``set``/``_set_helper``): accepts
        the same ``{"a.b.c": value}`` dict a DataProfiler script passes,
        including the ``*.`` wildcard and the ``structured_options.``
        prefix, and maps each recognized path onto this engine's knobs.
        Unknown paths raise (the reference raises on invalid options
        too) so a typo'd migration fails loudly, not silently."""
        from dataprofiler_spark.functions.nulls import NullSpec

        def _null_spec(d: dict) -> NullSpec:
            # reference null dicts map pattern -> re flag (IGNORECASE
            # or 0); fold per-pattern flags into inline (?i:) groups
            pats = tuple(
                f"(?i:{p})" if flag else str(p) for p, flag in d.items())
            return NullSpec(patterns=pats, case_insensitive=False)

        if not isinstance(options, dict):
            raise ValueError("The options must be a dictionary.")
        for path, value in options.items():
            key = path.replace("*.", "").replace("structured_options.", "")
            head = key.split(".", 1)[0]
            if key == "null_values":
                self.null_spec = _null_spec(value or {})
            elif key == "column_null_values":
                self.column_null_values = {
                    k: _null_spec(v) for k, v in (value or {}).items()}
            elif key == "sampling_ratio":
                self.sampling_ratio = float(value)
                self.reference_sampling = True
            elif key in ("category.is_enabled", "category.is_case_sensitive"):
                if key.endswith("is_case_sensitive"):
                    continue  # categories are case-exact here already
                self.disabled_stats = (self.disabled_stats - {"categorical"}
                                       if value else
                                       self.disabled_stats | {"categorical"})
            elif key in ("histogram_and_quantiles.is_enabled",):
                self.disabled_stats = (self.disabled_stats - {"histogram"}
                                       if value else
                                       self.disabled_stats | {"histogram"})
            elif key in ("histogram_and_quantiles.bin_count_or_method",
                         "histogram_and_quantiles.method"):
                self.histogram_bins = (value if isinstance(value, (int, str))
                                       else value[0])
            elif key == "row_statistics.is_enabled":
                self.unique_row_method = "hll" if value else "none"
            elif key == "row_statistics.unique_count.is_enabled":
                self.unique_row_method = "hll" if value else "none"
            elif key == "category.top_k_categories":
                self.top_k_categories = int(value)
            elif key == "category.stop_condition_unique_value_ratio":
                self.categorical_stop_ratio = float(value)
            elif key == "category.max_sample_size_to_check_stop_condition":
                pass  # the stop condition is exact here (no sampling gate)
            elif head in self._SET_NOOPS:
                pass  # documented no-ops (see _SET_NOOPS)
            else:
                raise ValueError(f"unknown option path {path!r}")

    def null_spec_for(self, name: str, index: int | None = None):
        """The per-column NullSpec override for ``name`` (or positional
        ``index``), or None when the column has no override — callers
        fall back to the global spec / type-based default. Name keys win
        over index keys (reference keys by index only,
        profile_builder.py:119-123; names are the Spark-idiomatic form)."""
        cnv = self.column_null_values
        if not cnv:
            return None
        if name in cnv:
            return cnv[name]
        if index is not None and index in cnv:
            return cnv[index]
        return None


class Profiler:
    """StructuredProfiler equivalent (profile_builder.py:1632+), Spark-first."""

    def __init__(self, df: DataFrame, options: ProfilerOptions | None = None):
        if not isinstance(df, DataFrame) and hasattr(df, "df"):
            df = df.df  # accept a Data(path) handle (reference call shape)
        self.df = df
        self.options = options or ProfilerOptions()
        self.state: DatasetState | None = None

    # -- public API ---------------------------------------------------------

    def profile(self) -> DatasetState:
        self.state = self._profile_chunk(self.df)
        # min_true_samples (profile_builder.py:636-645): when sampling,
        # keep escalating the fraction until every column has at least
        # min_true_samples non-null cells (or we reach the full data).
        opt = self.options
        if opt.sample_fraction is not None and opt.min_true_samples:
            frac = opt.sample_fraction
            while frac < 1.0:
                worst = min(
                    c.sample_size - c.null_count
                    for c in self.state.columns.values())
                if worst >= opt.min_true_samples:
                    break
                frac = min(frac * 2, 1.0)
                retry = ProfilerOptions(**{**self.options.__dict__,
                                           "sample_fraction": frac,
                                           "sample_seed": opt.sample_seed,
                                           "min_true_samples": None})
                retry.null_spec = opt.null_spec
                self.state = Profiler(self.df, retry).profile()
        return self.state

    def update_profile(self, df: DataFrame) -> DatasetState:
        """Batch-incremental update (profile_builder.py:939-997): profile
        the chunk, merge states."""
        chunk = self._profile_chunk(df)
        self.state = chunk if self.state is None else self.state + chunk
        return self.state

    def profile_by(self, group_col, max_groups: int = 1000) -> dict:
        """Per-group profiles from ONE grouped scan (beyond the
        reference, which would loop whole profiles per segment): the
        same wide-agg expression set runs ``groupBy(group_col)`` and
        each result row assembles into a DatasetState — segmented
        data-quality reporting (per returnflag, per source, per day) at
        one scan instead of n_groups scans. Each state carries the
        wide-agg statistics only (counts, nulls, types, moments,
        extrema, approx distincts): no category maps, histograms or
        samples, which would cost a second scan. ``diff_frames`` adds
        the distributions for a two-way split. ``group_col`` may be a
        column name or an expression (e.g. a date bucket). Returns
        {group_value: DatasetState}; the group column itself is not
        profiled. Bounded by ``max_groups`` (plans/diff_plan.py)."""
        from dataprofiler_spark.plans.diff_plan import profile_sides
        return profile_sides(self.df, group_col, self.options,
                             max_groups=max_groups)

    def report(self, report_options: dict | None = None) -> dict:
        """Reference call shape: ``profile.report(report_options=
        {"output_format": "compact"})`` (report_helpers.py:89-120)."""
        if self.state is None:
            self.profile()
        from dataprofiler_spark.report import build_report
        fmt = (report_options or {}).get("output_format", "pretty")
        return build_report(self.state, output_format=fmt)

    # -- plan ---------------------------------------------------------------

    def _profile_chunk(self, df: DataFrame) -> DatasetState:
        opt = self.options
        sampling_meta: dict = {}
        if opt.sample_fraction is not None:
            df = df.sample(opt.sample_fraction, seed=opt.sample_seed)
        elif opt.reference_sampling:
            # reference _get_sample_size: all rows at n <= min_sample_size,
            # else max(ratio*n, min_sample_size) rows. One cheap count
            # (scan-free on parquet row-group metadata), then a Bernoulli
            # sample at target/n — the scalable realization of the bound.
            n = df.count()
            target = n if n <= opt.min_sample_size else max(
                int(opt.sampling_ratio * n), opt.min_sample_size)
            sampling_meta = {"method": "reference", "source_rows": n,
                             "target": target,
                             "fraction": min(target / n, 1.0) if n else 1.0}
            if target < n:
                df = df.sample(sampling_meta["fraction"],
                               seed=opt.sample_seed)
        ens = ensure_parallelism(df)
        ckpt_ids: set[int] = set()
        if ens is not df:
            # Under-partitioned LOCAL input (one small parquet split):
            # materialize the round-robin exchange once so every
            # wide-agg group job and the counts pass reuse the same
            # partitioning instead of each re-running a full-width
            # exchange (lineitem sf0.1 cold min-of-3: 5.8 s → 4.8 s).
            # At real scale ensure_parallelism is a no-op and nothing
            # is ever materialized. The snapshot is released once the
            # last pass over it is done.
            ens, ckpt_ids = _checkpoint_tracking(ens, eager=True)
        try:
            return self._profile_passes(ens, sampling_meta)
        finally:
            _release_rdds(ens.sparkSession.sparkContext, ckpt_ids)

    def _profile_passes(self, df: DataFrame,
                        sampling_meta: dict) -> DatasetState:
        """Every Spark pass of one profile over the (sampled,
        parallelized) input ``df``."""
        opt = self.options
        kinds = _column_kinds(df.schema)
        states, times = self._wide_agg(df, kinds)
        state = states[None]
        state.sampling = sampling_meta

        # pass 2: ONE fused melted pass for BOTH category counts (gated
        # candidates) AND histogram buckets (all numeric columns). Each is
        # a (tag, column, key) → count aggregation; fusing them halves the
        # number of full-data scans (2 total instead of 3) — at 100 TB the
        # scan IS the cost, so this is a 33% IO cut for the whole profile.
        t_b0 = time.perf_counter()
        candidates, hist_specs = self._distribution_specs(state)
        t_bins = time.perf_counter() - t_b0
        # the 5-row sample job overlaps the counts shuffle (independent
        # jobs; Spark's scheduler runs them concurrently) — it otherwise
        # serializes ~1 job-launch latency onto the critical path
        t_s0 = time.perf_counter()
        want_samples = "samples" not in opt.disabled_stats
        t_counts = 0.0
        with ThreadPoolExecutor(1) as sample_ex:
            sample_rows = submit_inheriting(
                sample_ex, df.sparkSession,
                lambda: df.limit(5).collect()) if want_samples else None
            if candidates or hist_specs:
                t_c0 = time.perf_counter()
                self._fused_counts_pass(df, state, candidates, hist_specs)
                t_counts = time.perf_counter() - t_c0
            sample_rows = sample_rows.result() if want_samples else []
        t_samples_wall = time.perf_counter() - t_s0

        # Per-phase telemetry (reference wraps each calc in _timeit,
        # base_column_profilers.py:68-81; one wide agg fuses the per-stat
        # work, so the honest granularity here is per phase, with the
        # driver-side finalize steps broken out separately).
        state.times = {**times, "bin_selection": t_bins,
                       "counts_pass": t_counts}

        # sample values for the report (reference keeps 5 random samples
        # per column, profile_builder.py:667-671) — collected above,
        # overlapped with the counts pass
        for row_s in sample_rows:
            d = row_s.asDict()
            for c in kinds.all:
                v = d.get(c)
                if v is not None and len(state.columns[c].samples) < 5:
                    state.columns[c].samples.append(str(v))
        # wall time the sample job added BEYOND the counts pass it
        # overlaps with (~0 when fully hidden; the full job latency when
        # the counts pass was disabled)
        state.times["samples"] = max(0.0, t_samples_wall - t_counts)

        # opt-in pass: order detection over an explicit ordering (Spark
        # DataFrames are unordered — SURVEY §7.4 risk 2; ONE window sort
        # classifies every column)
        if opt.order_by:
            t0 = time.perf_counter()
            self._order_pass(df, state, opt.order_by)
            state.times["order"] = time.perf_counter() - t0

        # opt-in pass: per-format match counts for string columns that
        # inferred as datetime (datetime_column_profile.py:245-345)
        if opt.detect_datetime_formats:
            dt_strings = [c for c in kinds.string
                          if state.columns[c].inferred_type == "datetime"]
            if dt_strings:
                t0 = time.perf_counter()
                self._format_pass(df, state, dt_strings)
                state.times["formats"] = time.perf_counter() - t0

        # opt-in diagnostics: reference-style per-stat wall times
        # (base_column_profilers.py:68-81) via one timed job per stat
        # family — see ProfilerOptions.detailed_timing.
        if opt.detailed_timing:
            self._detailed_timing_pass(df, state, kinds.numeric,
                                       kinds.string, kinds.datetime)
        return state

    def _detailed_timing_pass(self, df: DataFrame, state: DatasetState,
                              numeric_cols: list[str],
                              string_cols: list[str],
                              dt_cols: list[str]) -> None:
        """Time one fused-across-columns agg per stat family, mirroring
        the reference's per-stat _timeit keys. Purely diagnostic: the
        reported stat VALUES still come from the single wide agg (these
        jobs re-scan, which is exactly what per-stat timing costs on an
        engine that otherwise fuses the work — documented deviation:
        times are per family, not per (column, stat))."""
        fams: dict[str, list] = {}
        if numeric_cols:
            fams["min"] = [F.min(c) for c in numeric_cols]
            fams["max"] = [F.max(c) for c in numeric_cols]
            fams["sum"] = [F.sum(c) for c in numeric_cols]
            fams["variance"] = [F.var_samp(c) for c in numeric_cols]
            fams["skewness"] = [F.skewness(c) for c in numeric_cols]
            fams["kurtosis"] = [F.kurtosis(c) for c in numeric_cols]
            fams["num_zeros"] = [
                F.sum(F.when(F.col(c) == 0, 1).otherwise(0))
                for c in numeric_cols]
            fams["num_negatives"] = [
                F.sum(F.when(F.col(c) < 0, 1).otherwise(0))
                for c in numeric_cols]
        if dt_cols:
            fams["datetime"] = [e for c in dt_cols
                                for e in (F.min(c), F.max(c))]
        if string_cols:
            fams["text_lengths"] = [e for c in string_cols
                                    for e in (F.min(F.length(c)),
                                              F.max(F.length(c)),
                                              F.avg(F.length(c)))]
        for name, exprs in fams.items():
            t0 = time.perf_counter()
            df.agg(*exprs).collect()
            state.times[f"stat:{name}"] = time.perf_counter() - t0

    def _order_pass(self, df: DataFrame, state: DatasetState,
                    order_by: list[str]) -> None:
        """Distributed order pass: adjacent pairs via the range-bucketed
        ``ordered_pairs`` operator (no global window — operators/order.py),
        first/last as first/last *observed* in order (``min_by/max_by`` on
        the order key), matching the reference's first_value semantics so
        OrderState merge algebra gets direction-consistent endpoints
        (order_column_profile.py:372-413)."""
        from dataprofiler_spark.operators.order import ordered_pairs
        from dataprofiler_spark.state import OrderState

        cols = state.column_order
        pairs = ordered_pairs(df, order_by, cols)
        aggs = []
        for c in cols:
            v, p = F.col(c), F.col(f"{c}__prev")
            aggs.extend([
                F.sum(F.when(p.isNotNull() & (v > p), 1).otherwise(0))
                 .alias(f"{c}__asc"),
                F.sum(F.when(p.isNotNull() & (v < p), 1).otherwise(0))
                 .alias(f"{c}__desc"),
                F.min_by(v, F.col("__k")).alias(f"{c}__first"),
                F.max_by(v, F.col("__k")).alias(f"{c}__last"),
            ])
        row = pairs.agg(*aggs).collect()[0]
        for c in cols:
            a, d = row[f"{c}__asc"], row[f"{c}__desc"]
            if a == 0 and d == 0:
                order = "constant value"
            elif d == 0:
                order = "ascending"
            elif a == 0:
                order = "descending"
            else:
                order = "random"
            state.columns[c].order = OrderState(
                order=order, first=row[f"{c}__first"], last=row[f"{c}__last"],
                n=state.row_count)

    def _format_pass(self, df: DataFrame, state: DatasetState,
                     cols: list[str]) -> None:
        exprs = []
        for c in cols:
            s = F.col(c).cast("string")
            for i, (strp, spark_fmt) in enumerate(self.options.datetime_formats):
                exprs.append(F.sum(
                    F.when(F.try_to_timestamp(s, F.lit(spark_fmt)).isNotNull(), 1)
                    .otherwise(0)).alias(f"{c}__{i}"))
        row = df.agg(*exprs).collect()[0]
        for c in cols:
            fmts = [strp for i, (strp, _) in
                    enumerate(self.options.datetime_formats)
                    if row[f"{c}__{i}"] > 0]
            if state.columns[c].datetime is not None:
                state.columns[c].datetime.formats = fmts

    def _wide_agg(self, df: DataFrame, kinds: ColumnKinds,
                  key: str | None = None, max_groups: int | None = None
                  ) -> tuple[dict, dict]:
        """Pass 1: collect every wide-agg expression group over ``df``,
        grouped by the ``key`` column (none: one global row), and
        assemble one DatasetState per key value. Returns ({key value
        (None when unkeyed): state}, wide-agg telemetry).

        The bounded-width groups are collected concurrently: compile
        cost stays small per group (see _wide_agg_expr_groups) and the
        scheduler overlaps the column-pruned scans. Every group
        aggregates the SAME (possibly sampled) DataFrame lineage, so
        all groups see identical rows. A keyed result is
        O(key values × columns × stats) on the driver, so a keyed call
        collects group 0 alone first and raises past ``max_groups``
        before the wide concurrent collects."""
        groups = self._wide_agg_expr_groups(kinds)
        n_groups = len(groups)
        keys = [key] if key else []

        def collect(g):
            return df.groupBy(*keys).agg(*g).collect()

        t0 = time.perf_counter()
        results = []
        if key:
            results.append(collect(groups.pop(0)))
            if len(results[0]) > max_groups:
                raise ValueError(
                    f"profile_sides: more than {max_groups} distinct groups "
                    f"in the side column — profile a bucketed expression "
                    f"instead")
        with ThreadPoolExecutor(8) as ex:
            futs = [submit_inheriting(ex, df.sparkSession, collect, g)
                    for g in groups]
            results += [f.result() for f in futs]
        merged: dict = {}
        for rows in results:
            for r in rows:
                d = r.asDict()
                merged.setdefault(d.pop(key) if key else None, {}).update(d)
        t_agg = time.perf_counter() - t0

        t0 = time.perf_counter()
        states = {k: self._assemble(row, kinds) for k, row in merged.items()}
        # wide_agg_groups: how many independently-collected aggregate
        # groups the wide agg split into (VERDICT r9 watch item — each
        # group is its own column-pruned scan; ~free on columnar
        # storage, a re-read on row-oriented sources, so bench
        # telemetry should see the multiplier).
        return states, {"wide_agg": t_agg,
                        "assemble": time.perf_counter() - t0,
                        "wide_agg_groups": float(n_groups)}

    def _wide_agg_expr_groups(self, kinds: ColumnKinds) -> list[list]:
        """The wide-agg expressions, split into independently-aggregable
        groups of bounded width.

        Catalyst codegen compile time is superlinear in aggregate count
        (~5 s for ~100 functions vs ~0.7 s for ~40 on this machine), so
        the profile collects each group as its own 1-row aggregate —
        column-pruned scans read the same total bytes, the independent
        stages overlap, and compile cost drops ~6×. Group 0 carries the
        row-level stats (they need every column); per-type groups chunk
        by column."""
        opt = self.options
        all_cols = kinds.all
        exprs = [F.count(F.lit(1)).alias("__row_count")]

        nulls_in_row = F.lit(0)
        for i, c in enumerate(all_cols):
            col = F.col(c)
            override = opt.null_spec_for(c, i)
            if override is not None:
                is_null = override.is_null(col)
            else:
                is_null = (opt.null_spec.is_null(col) if c in kinds.string
                           else col.isNull())
            nulls_in_row = nulls_in_row + F.when(is_null, 1).otherwise(0)
            exprs.append(F.sum(F.when(is_null, 1).otherwise(0)).alias(f"{c}__nulls"))
            exprs.append(F.approx_count_distinct(col, 0.1).alias(f"{c}__approx"))

        exprs.append(F.sum(F.when(nulls_in_row > 0, 1).otherwise(0))
                     .alias("__rows_with_null"))
        exprs.append(F.sum(F.when(nulls_in_row == len(all_cols), 1).otherwise(0))
                     .alias("__rows_all_null"))
        if opt.unique_row_method == "hll":
            exprs.append(F.approx_count_distinct(
                F.xxhash64(*[F.col(c) for c in all_cols]), 0.02).alias("__uniq"))
        elif opt.unique_row_method == "full":
            exprs.append(F.count_distinct(*[F.col(c) for c in all_cols])
                         .alias("__uniq"))

        groups = [exprs]
        cur: list = []

        def flush():
            nonlocal cur
            if cur:
                groups.append(cur)
                cur = []

        def add(col_exprs: list):
            nonlocal cur
            if cur and len(cur) + len(col_exprs) > WIDE_AGG_GROUP_WIDTH:
                flush()
            cur.extend(col_exprs)

        for c in kinds.numeric:
            add(self._numeric_col_exprs(c))
        for c in kinds.string:
            add(self._string_col_exprs(c))
        for c in kinds.datetime:
            add(self._dt_col_exprs(c))
        for c in kinds.vector:
            add(self._vector_col_exprs(c))
        flush()
        return groups

    def _vector_col_exprs(self, c):
        """array<numeric> (embedding) column battery: dimension range +
        L2 norm stats + zero-vector count — the cheap whole-vector
        signals (truncated dims, unnormalized or all-zero rows) that the
        per-dimension operator (operators/vectorstats.py) refines. The
        norm is one fold per row, map-side only."""
        v = F.col(c)
        norm = F.sqrt(F.aggregate(
            F.zip_with(v, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x))
        sz = F.size(v)
        return [
            F.count(v).alias(f"{c}__vn"),
            F.min(sz).alias(f"{c}__vdmin"), F.max(sz).alias(f"{c}__vdmax"),
            F.sum(norm).alias(f"{c}__vnormsum"),
            F.min(norm).alias(f"{c}__vnormmin"),
            F.max(norm).alias(f"{c}__vnormmax"),
            F.sum(F.when(norm == 0, 1).otherwise(0)).alias(f"{c}__vzero"),
        ]

    def _numeric_col_exprs(self, c):
        d = F.col(c).cast("double")
        n = F.count(d)
        return [
            n.alias(f"{c}__n"),
            F.min(d).alias(f"{c}__min"), F.max(d).alias(f"{c}__max"),
            F.sum(d).alias(f"{c}__sum"),
            F.var_pop(d).alias(f"{c}__varp"),
            F.skewness(d).alias(f"{c}__skew"),
            F.kurtosis(d).alias(f"{c}__kurt"),
            F.sum(F.when(d == 0, 1).otherwise(0)).alias(f"{c}__zeros"),
            F.sum(F.when(d < 0, 1).otherwise(0)).alias(f"{c}__negs"),
        ]

    def _string_col_exprs(self, c):
        opt = self.options
        s = F.col(c)
        ln = F.length(s).cast("double")
        exprs = [
            F.count(s).alias(f"{c}__n"),
            F.min(ln).alias(f"{c}__lmin"), F.max(ln).alias(f"{c}__lmax"),
            F.sum(ln).alias(f"{c}__lsum"),
            F.var_pop(ln).alias(f"{c}__lvarp"),
        ]
        if opt.infer_types_on_strings:
            # try_cast(string → double) walks the JVM parse-failure path
            # per non-numeric row (~µs each — measured as the single most
            # expensive wide-agg expression on text columns). Gate it
            # behind a first-char class that OVER-accepts: after Spark's
            # <=0x20 trim and an optional sign, every castable double
            # starts with a digit, '.', Inf or NaN — so the gate can
            # never flip a match decision (property-tested in
            # test_profile.py::test_numeric_gate_matches_raw_try_cast).
            d = F.when(s.rlike(r"^[\x00-\x20]*[+-]?[0-9.iInN]"), s) \
                 .try_cast("double")
            is_f = d.isNotNull()
            is_i = is_f & (d == F.floor(d))
            # Regex pre-gate before the strptime battery: a failing
            # try_to_timestamp throws (and swallows) a JVM exception —
            # ~µs each, ruinous across rows × formats. Only strings
            # that LOOK like dates (start with digits or a month name)
            # enter the parse attempts.
            could_be_dt = s.rlike(r"^(\d|[A-Za-z]{3,9} \d)")
            parsed = F.when(could_be_dt, F.coalesce(*[
                F.try_to_timestamp(s, F.lit(fmt))
                for _, fmt in opt.datetime_formats
            ]))
            exprs.extend([
                F.sum(F.when(is_i, 1).otherwise(0)).alias(f"{c}__tint"),
                F.sum(F.when(is_f, 1).otherwise(0)).alias(f"{c}__tflt"),
                F.sum(F.when(parsed.isNotNull(), 1).otherwise(0))
                 .alias(f"{c}__tdt"),
                F.date_format(F.min(parsed), ISO).alias(f"{c}__dtmin"),
                F.date_format(F.max(parsed), ISO).alias(f"{c}__dtmax"),
            ])
        return exprs

    def _dt_col_exprs(self, c):
        col = F.col(c)
        return [
            F.count(col).alias(f"{c}__n"),
            F.date_format(F.min(col), ISO).alias(f"{c}__dtmin"),
            F.date_format(F.max(col), ISO).alias(f"{c}__dtmax"),
        ]

    def _assemble(self, r: dict, kinds: ColumnKinds) -> DatasetState:
        n_rows = r["__row_count"]
        state = DatasetState(
            row_count=n_rows,
            column_order=list(kinds.all),
            unique_row_count=r.get("__uniq"),
            rows_with_null=r["__rows_with_null"] or 0,
            rows_all_null=r["__rows_all_null"] or 0,
        )
        for c in kinds.all:
            col = ColumnState(
                name=c, sample_size=n_rows, null_count=r[f"{c}__nulls"] or 0,
                approx_distinct=r[f"{c}__approx"] or 0,
            )
            matched = n_rows - col.null_count
            if c in kinds.numeric:
                n = r[f"{c}__n"]
                varp = r[f"{c}__varp"] or 0.0
                skew = r[f"{c}__skew"]
                kurt = r[f"{c}__kurt"]
                m2 = varp * n
                sd = math.sqrt(varp) if varp > 0 else 0.0
                m3 = (skew or 0.0) * n * sd ** 3
                m4 = ((kurt or 0.0) + 3) * n * sd ** 4 if n else 0.0
                col.numeric = NumericState(
                    n=n, sum=r[f"{c}__sum"] or 0.0,
                    min=r[f"{c}__min"], max=r[f"{c}__max"],
                    m2=m2, m3=m3, m4=m4,
                    num_zeros=r[f"{c}__zeros"] or 0,
                    num_negatives=r[f"{c}__negs"] or 0,
                )
                t = kinds.simple_types[c]
                kind = "int" if t in ("tinyint", "smallint", "int", "bigint") \
                    else "float"
                col.type_counts = {kind: n, "float": n} if kind == "int" \
                    else {"float": n}
            elif c in kinds.string:
                n = r[f"{c}__n"]
                lvarp = r[f"{c}__lvarp"] or 0.0
                col.text = TextState(lengths=NumericState(
                    n=n, sum=r[f"{c}__lsum"] or 0.0,
                    min=r[f"{c}__lmin"], max=r[f"{c}__lmax"],
                    m2=lvarp * n,
                ))
                if self.options.infer_types_on_strings:
                    col.type_counts = {
                        "int": r[f"{c}__tint"] or 0,
                        "float": r[f"{c}__tflt"] or 0,
                        "datetime": r[f"{c}__tdt"] or 0,
                    }
                    if col.type_counts["datetime"] >= matched and matched > 0:
                        col.datetime = DatetimeState(
                            n=col.type_counts["datetime"],
                            min_ts=r[f"{c}__dtmin"], max_ts=r[f"{c}__dtmax"])
            elif c in kinds.datetime:
                n = r[f"{c}__n"]
                col.datetime = DatetimeState(
                    n=n, min_ts=r[f"{c}__dtmin"], max_ts=r[f"{c}__dtmax"])
                col.type_counts = {"datetime": n}
            elif c in kinds.vector:
                col.vector = VectorState(
                    n=r[f"{c}__vn"] or 0,
                    dim_min=r[f"{c}__vdmin"], dim_max=r[f"{c}__vdmax"],
                    norm_sum=r[f"{c}__vnormsum"] or 0.0,
                    norm_min=r[f"{c}__vnormmin"],
                    norm_max=r[f"{c}__vnormmax"],
                    n_zero=r[f"{c}__vzero"] or 0)
            from dataprofiler_spark.state import _infer_type
            col.inferred_type = _infer_type(col)
            state.columns[c] = col
        return state

    def _distribution_specs(self, state: DatasetState
                            ) -> tuple[list[str], list[tuple]]:
        """What the counts pass computes for one assembled state:
        (categorical candidate columns, histogram specs (column, lo, hi,
        bins)). Both read only wide-agg statistics. Candidates follow
        the reference's stop condition on the approx distinct count,
        applied before the counts shuffle is spent; every other column's
        categorical state is marked inactive here. Bin edges come from
        the column's min/max, the bin count from the numpy-style
        estimators in operators/histogram.py."""
        opt = self.options
        n = max(state.row_count, 1)
        candidates = []
        if "categorical" not in opt.disabled_stats:
            for c in state.column_order:
                ad = state.columns[c].approx_distinct
                if opt.categorical_max_unique is not None and \
                        ad > opt.categorical_max_unique * 1.2:
                    continue
                if ad / n <= opt.categorical_stop_ratio or ad <= 10:
                    candidates.append(c)
        for c in state.column_order:
            if c not in candidates:
                state.columns[c].categorical = CategoricalState(
                    categories={}, active=False)
        specs = []
        if "histogram" in opt.disabled_stats:
            return candidates, specs
        for c in state.column_order:
            ns = state.columns[c].numeric
            if ns is None or ns.n == 0 or ns.min is None or ns.min == ns.max:
                continue
            if isinstance(opt.histogram_bins, int):
                bins = opt.histogram_bins
            else:
                bins = min(
                    auto_bin_count(ns.n, ns.stddev or 0.0, 0.0, ns.min, ns.max,
                                   clamp=(1, opt.max_histogram_bins)),
                    opt.max_histogram_bins)
            specs.append((c, ns.min, ns.max, bins))
        return candidates, specs

    def _fused_counts_pass(self, df: DataFrame, state: DatasetState,
                           cat_cols: list[str],
                           hist_specs: list[tuple[str, float, float, int]]
                           ) -> None:
        """Pass 2: category values of the candidate columns and
        histogram buckets melt into one (column, key) stream → ONE
        groupBy shuffle for both operator families, one scan (the
        "hist:"/"cat:" column tag disambiguates keys). Writes only the
        candidate columns' categorical states and the histogram
        columns' numeric histograms."""
        entries = []
        for c in cat_cols:
            entries.append(F.when(
                F.col(c).isNotNull(),
                F.struct(F.lit("cat:" + c).alias("column"),
                         F.col(c).cast("string").alias("key"))))
        for c, lo, hi, bins in hist_specs:
            entries.append(F.when(
                F.col(c).isNotNull(),
                F.struct(F.lit("hist:" + c).alias("column"),
                         bucket_expr(F.col(c), float(lo), float(hi), bins)
                         .cast("string").alias("key"))))
        if not entries:
            return
        melted = df.select(
            F.explode(F.array(*entries)).alias("e")
        ).where(F.col("e").isNotNull()).select("e.*")
        counts_df = melted.groupBy("column", "key").agg(
            F.count(F.lit(1)).alias("count"))

        # Bounded driver collect: per cat-column only the top-K categories
        # (count desc, key asc) ship to the driver; per-column totals (one
        # tiny row each) make the remainder exact. The top-K is a salted
        # two-stage rank — local rank within (column, salt) keeps ≤ P·K
        # candidates (any true top-K element beats <K rows globally, so
        # <K within its salt group), then the final rank runs over that
        # bounded survivor set — no single-partition window over a high-
        # cardinality column's full distinct set. Histogram rows are never
        # capped (bins ≤ max_histogram_bins by construction).
        from pyspark.sql.window import Window

        K = self.options.categorical_max_collected
        P = 32
        counts_df = counts_df.persist()
        try:
            totals = {
                r["column"]: (r["total"], r["uniq"])
                for r in counts_df.groupBy("column").agg(
                    F.sum("count").alias("total"),
                    F.count(F.lit(1)).alias("uniq")).collect()
            }
            is_hist = F.col("column").startswith("hist:")
            w_local = Window.partitionBy(
                "column", F.pmod(F.xxhash64("key"), F.lit(P))
            ).orderBy(F.desc("count"), F.asc("key"))
            w_final = Window.partitionBy("column").orderBy(
                F.desc("count"), F.asc("key"))
            counts = (
                counts_df
                .withColumn("rl", F.row_number().over(w_local))
                .where(is_hist | (F.col("rl") <= K))
                .withColumn("rn", F.row_number().over(w_final))
                .where(is_hist | (F.col("rn") <= K))
                .select("column", "key", "count")
                .collect())
        finally:
            counts_df.unpersist()

        hist_acc: dict[str, dict[int, int]] = {}
        kept_per_col: dict[str, tuple[int, int]] = {}
        for r in counts:
            tag, c = r["column"].split(":", 1)
            if tag == "cat":
                col = state.columns[c]
                if col.categorical is None:
                    col.categorical = CategoricalState()
                col.categorical.categories[r["key"]] = r["count"]
                kc, ku = kept_per_col.get(r["column"], (0, 0))
                kept_per_col[r["column"]] = (kc + r["count"], ku + 1)
            else:
                hist_acc.setdefault(c, {})[int(r["key"])] = r["count"]
        for full, (total, uniq) in totals.items():
            if not full.startswith("cat:"):
                continue
            c = full.split(":", 1)[1]
            kc, ku = kept_per_col.get(full, (0, 0))
            col = state.columns[c]
            if col.categorical is None:
                col.categorical = CategoricalState()
            col.categorical.overflow_count = total - kc
            col.categorical.overflow_unique = uniq - ku
        self._finalize_histograms(state, hist_specs, hist_acc)

    def _finalize_histograms(self, state: DatasetState,
                             hist_specs: list[tuple[str, float, float, int]],
                             hist_acc: dict[str, dict[int, int]]) -> None:
        from dataprofiler_spark.operators.histogram import (
            method_losses, suggest_bin_counts)

        for c, lo, hi, bins in hist_specs:
            buckets = hist_acc.get(c, {})
            edges = [lo + i * (hi - lo) / bins for i in range(bins + 1)]
            counts = [buckets.get(i, 0) for i in range(bins)]
            hist = {"bin_edges": edges, "bin_counts": counts}
            # "follow the best expert" (numerical_column_stats.py:
            # 1176-1240): score every estimator's re-binned histogram
            # against the exact variance; losses accumulate across merges
            # (state._merge_histograms sums them).
            ns = state.columns[c].numeric
            if ns is not None and ns.n > 0:
                var = ns.m2 / ns.n
                std = math.sqrt(var) if var > 0 else 0.0
                iqr = _hist_iqr(counts, edges)
                sugg = suggest_bin_counts(ns.n, std, iqr, lo, hi)
                hist["suggested_bin_counts"] = sugg
                hist["method_losses"] = method_losses(sugg, counts, edges, var)
            state.columns[c].numeric.histogram = hist
