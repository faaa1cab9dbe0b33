"""Profile report assembly + profile diff.

Report shape mirrors the reference's README.md:63-140 schema and
report_helpers._prepare_report (helpers/report_helpers.py:89-260):
``{"global_stats": {...}, "data_stats": [{column_name, data_type,
categorical, order, statistics: {...}}]}`` with output_format variants
pretty / compact / serializable / flat (flat_dict :40-66). Quantiles are
interpolated from the stored histogram CDF exactly as
numerical_column_stats._get_percentile:1553-1590 does, thinned to 999
reported (report_helpers.calculate_quantiles:9-39).

Diff semantics follow profiler_utils.py:417-667 (find_diff_of_* family):
numbers → a - b or "unchanged"; strings/lists → [a, b] when different;
plus the drift statistics (PSI / chi² / t-test) from operators/drift.py
computed on the stored category dicts and moments.
"""

from __future__ import annotations

import math

from dataprofiler_spark.state import ColumnState, DatasetState


def _quantiles_from_histogram(hist: dict, probs: list[float]) -> list[float] | None:
    if not hist or not hist.get("bin_counts"):
        return None
    edges, counts = hist["bin_edges"], hist["bin_counts"]
    total = sum(counts)
    if total == 0:
        return None
    out = []
    cum = [0]
    for c in counts:
        cum.append(cum[-1] + c)
    for p in probs:
        target = p * total
        # first bin whose cumulative count reaches the target
        idx = next((i for i in range(len(counts)) if cum[i + 1] >= target),
                   len(counts) - 1)
        span = counts[idx]
        frac = (target - cum[idx]) / span if span else 0.0
        out.append(edges[idx] + frac * (edges[idx + 1] - edges[idx]))
    return out


def _column_report(col: ColumnState, num_quantiles: int = 999) -> dict:
    # exact unique count when category tracking completed, else the HLL
    # estimate from the wide agg
    uniq = (col.categorical.unique_count
            if col.categorical and col.categorical.active
            and col.categorical.categories else col.approx_distinct)
    stats: dict = {
        "sample_size": col.sample_size,
        "null_count": col.null_count,
        "null_types": col.null_types,
        "samples": col.samples,
        "unique_count": uniq,
        "unique_ratio": (uniq / col.sample_size
                         if col.sample_size else None),
        "data_type_representation": {
            t: (c / max(col.sample_size - col.null_count, 1))
            for t, c in col.type_counts.items()
        },
    }
    if col.numeric is not None and col.numeric.n:
        ns = col.numeric
        stats.update({
            "min": ns.min, "max": ns.max, "sum": ns.sum, "mean": ns.mean,
            "variance": ns.variance, "stddev": ns.stddev,
            "skewness": ns.skewness, "kurtosis": ns.kurtosis,
            "num_zeros": ns.num_zeros, "num_negatives": ns.num_negatives,
        })
        if ns.histogram:
            stats["histogram"] = ns.histogram
            if ns.histogram.get("method_losses"):
                from dataprofiler_spark.operators.histogram import \
                    select_histogram_method
                stats["histogram_bin_method"] = select_histogram_method(
                    ns.histogram["method_losses"],
                    ns.histogram.get("suggested_bin_counts", {}))
            probs = [i / (num_quantiles + 1) for i in range(1, num_quantiles + 1)]
            q = _quantiles_from_histogram(ns.histogram, probs)
            if q:
                stats["quantiles"] = q
                stats["median"] = q[len(q) // 2]
                stats["mode"] = _modes_from_histogram(ns.histogram)
    if col.text is not None and col.text.lengths.n:
        ls = col.text.lengths
        stats.update({
            "min_length": ls.min, "max_length": ls.max, "mean_length": ls.mean,
            "stddev_length": ls.stddev, "vocab": col.text.vocab,
        })
    if col.datetime is not None and col.datetime.n:
        stats.update({"min_datetime": col.datetime.min_ts,
                      "max_datetime": col.datetime.max_ts,
                      "datetime_formats": col.datetime.formats})
    if col.vector is not None and col.vector.n:
        vs = col.vector
        stats.update({
            "vector_dim_min": vs.dim_min, "vector_dim_max": vs.dim_max,
            "vector_norm_min": vs.norm_min, "vector_norm_max": vs.norm_max,
            "vector_norm_mean": vs.avg_norm,
            "vector_zero_count": vs.n_zero,
        })
    # Reference categorical detection: unique ≤ 10 or unique_ratio ≤ 0.2
    # (categorical_column_profile.py:29-34 / is_match:422-438). Tracked
    # counts exist for a wider candidate set; the FLAG follows the
    # reference thresholds.
    categorical = False
    if col.categorical and col.categorical.active and col.categorical.categories:
        uc = col.categorical.unique_count
        sc = max(col.categorical.sample_count, 1)
        categorical = uc <= 10 or uc / sc <= 0.2
    if categorical:
        cs = col.categorical
        stats.update({
            "categories": [k for k, _ in cs.top_k(len(cs.categories))],
            "categorical_count": dict(cs.top_k(len(cs.categories))),
            "gini_impurity": cs.gini_impurity,
            "unalikeability": cs.unalikeability,
        })
    return {
        "column_name": col.name,
        "data_type": col.inferred_type,
        "categorical": categorical,
        "order": col.order.order if col.order else None,
        "statistics": stats,
    }


def _modes_from_histogram(hist: dict, k: int = 5) -> list[float]:
    """Top-k bin midpoints by count (numerical_column_stats.py:1082-1114)."""
    edges, counts = hist["bin_edges"], hist["bin_counts"]
    order = sorted(range(len(counts)), key=lambda i: (-counts[i], i))[:k]
    top = [i for i in order if counts[i] > 0]
    return [(edges[i] + edges[i + 1]) / 2 for i in top]


def build_report(state: DatasetState, output_format: str = "pretty") -> dict:
    report = {
        "global_stats": {
            "samples_used": state.row_count,
            "column_count": len(state.column_order),
            "row_count": state.row_count,
            "unique_row_count": state.unique_row_count,
            "unique_row_ratio": (state.unique_row_count / state.row_count
                                 if state.unique_row_count and state.row_count
                                 else None),
            "duplicate_row_count": (state.row_count - state.unique_row_count
                                    if state.unique_row_count is not None
                                    else None),
            "rows_with_null_ratio": (state.rows_with_null / state.row_count
                                     if state.row_count else None),
            "rows_all_null_ratio": (state.rows_all_null / state.row_count
                                    if state.row_count else None),
            "times": state.times,
        },
        "data_stats": [
            _column_report(state.columns[c]) for c in state.column_order
        ],
    }
    if output_format == "compact":
        for ds in report["data_stats"]:
            ds["statistics"].pop("quantiles", None)
            ds["statistics"].pop("histogram", None)
    elif output_format == "flat":
        return flat_dict(report)
    elif output_format == "serializable":
        return _json_safe(report)
    elif output_format != "pretty":
        raise ValueError(
            f"unknown output_format {output_format!r}: expected "
            "pretty | compact | serializable | flat")
    return report


def _json_safe(v):
    """Reference 'serializable' format (report_helpers.py:89-260): every
    value JSON-encodable — non-finite floats become strings, exotic
    scalars stringify, containers recurse. json.dumps(result) succeeds
    by construction."""
    if isinstance(v, dict):
        return {str(k): _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, float):
        return v if math.isfinite(v) else str(v)
    if v is None or isinstance(v, (bool, int, str)):
        return v
    return str(v)


def deterministic_report_rows(state: DatasetState) -> list[tuple]:
    """The order-independent, engine-portable slice of a full profile.

    The full report contains values whose bit pattern depends on float
    accumulation order (native double sum / var_pop / skew / kurt) or on
    HLL sketches (approx_distinct, hll row uniqueness) — those cannot be
    hash-compared against an external engine and are each covered by
    their own *exact-mode* oracled query (numeric_profile_*,
    distinct_counts_*, row_stats_*). This slice keeps every stat whose
    value is independent of partitioning and aggregation order: row /
    null counts, min/max, integer-valued sums (exact in doubles below
    2^53), and datetime bounds — assembled from the REAL end-to-end
    ``Profiler().profile()`` state, so the driver's hash check exercises
    the whole flagship path (wide-agg → assemble → state), not a side
    computation.

    Returns (column, stat, value_num, value_str) tuples;
    :func:`oracle_full_profile_sql` emits the matching SQL.
    """
    rows: list[tuple] = [
        ("__dataset", "row_count", float(state.row_count), None),
        ("__dataset", "rows_with_null", float(state.rows_with_null), None),
        ("__dataset", "rows_all_null", float(state.rows_all_null), None),
    ]
    for c in state.column_order:
        col = state.columns[c]
        rows.append((c, "null_count", float(col.null_count), None))
        if col.numeric is not None:
            ns = col.numeric
            rows.extend([
                (c, "match_count", float(ns.n), None),
                (c, "min", None if ns.min is None else float(ns.min), None),
                (c, "max", None if ns.max is None else float(ns.max), None),
                (c, "num_zeros", float(ns.num_zeros), None),
                (c, "num_negatives", float(ns.num_negatives), None),
            ])
        elif col.text is not None:
            ls = col.text.lengths
            rows.extend([
                (c, "match_count", float(ls.n), None),
                (c, "len_min", None if ls.min is None else float(ls.min), None),
                (c, "len_max", None if ls.max is None else float(ls.max), None),
                (c, "len_sum", float(ls.sum), None),
            ])
        if col.datetime is not None and col.text is None \
                and col.numeric is None:
            # native timestamp/date column (string-inferred datetimes keep
            # their text stats above; their parse counts are covered by
            # the type_inference oracle)
            dt = col.datetime
            rows.extend([
                (c, "match_count", float(dt.n), None),
                (c, "min_ts", None, dt.min_ts),
                (c, "max_ts", None, dt.max_ts),
            ])
    return rows


def oracle_full_profile_sql(table: str, numeric_cols: list[str],
                            string_cols: list[str],
                            dt_cols: list[str]) -> str:
    """DuckDB SQL computing :func:`deterministic_report_rows` for a
    table of the given column layout. Each stat is its own aggregate
    SELECT (DuckDB folds them; sub-ms each at oracle scale) — clarity
    over cleverness, since this SQL is the correctness gate."""
    from dataprofiler_spark.functions.nulls import DEFAULT_NULL_SPEC

    rx = DEFAULT_NULL_SPEC.regex()

    def null_expr(c: str) -> str:
        if c in string_cols:
            return (f"({c} IS NULL OR "
                    f"regexp_matches(CAST({c} AS VARCHAR), '{rx}'))")
        return f"{c} IS NULL"

    def row(col: str, stat: str, num_sql: str | None,
            str_sql: str | None) -> str:
        num = num_sql if num_sql is not None else "CAST(NULL AS DOUBLE)"
        s = str_sql if str_sql is not None else "CAST(NULL AS VARCHAR)"
        return (f"SELECT '{col}' AS \"column\", '{stat}' AS stat, "
                f"CAST({num} AS DOUBLE) AS value_num, {s} AS value_str "
                f"FROM {table}")

    all_cols = numeric_cols + string_cols + dt_cols
    any_null = " OR ".join(null_expr(c) for c in all_cols)
    all_null = " AND ".join(null_expr(c) for c in all_cols)
    # COALESCE on the SUM-shaped stats: the engine's counters are 0 at
    # n=0 while a bare SQL SUM is NULL — identical on any non-empty
    # table, aligned on the 0-row edge (test_empty_tables contract)
    selects = [
        row("__dataset", "row_count", "COUNT(*)", None),
        row("__dataset", "rows_with_null",
            f"COALESCE(SUM(CASE WHEN {any_null} THEN 1 ELSE 0 END), 0)",
            None),
        row("__dataset", "rows_all_null",
            f"COALESCE(SUM(CASE WHEN {all_null} THEN 1 ELSE 0 END), 0)",
            None),
    ]
    for c in all_cols:
        selects.append(row(
            c, "null_count",
            f"COALESCE(SUM(CASE WHEN {null_expr(c)} THEN 1 ELSE 0 END), 0)",
            None))
    for c in numeric_cols:
        selects += [
            row(c, "match_count", f"COUNT({c})", None),
            row(c, "min", f"MIN({c})", None),
            row(c, "max", f"MAX({c})", None),
            row(c, "num_zeros",
                f"COALESCE(SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END), 0)",
                None),
            row(c, "num_negatives",
                f"COALESCE(SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END), 0)",
                None),
        ]
    for c in string_cols:
        selects += [
            row(c, "match_count", f"COUNT({c})", None),
            row(c, "len_min", f"MIN(LENGTH({c}))", None),
            row(c, "len_max", f"MAX(LENGTH({c}))", None),
            row(c, "len_sum", f"COALESCE(SUM(LENGTH({c})), 0)", None),
        ]
    for c in dt_cols:
        selects += [
            row(c, "match_count", f"COUNT({c})", None),
            row(c, "min_ts", None,
                f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"),
            row(c, "max_ts", None,
                f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"),
        ]
    return "\nUNION ALL\n".join(selects)


def flat_dict(d: dict, prefix: str = "") -> dict:
    """report_helpers.flat_dict:40-66."""
    out = {}
    items = d.items() if isinstance(d, dict) else enumerate(d)
    for k, v in items:
        key = f"{prefix}.{k}" if prefix else str(k)
        if isinstance(v, (dict, list)):
            out.update(flat_dict(v, key))
        else:
            out[key] = v
    return out


# -- diff -------------------------------------------------------------------

def _diff_val(a, b):
    if a == b:
        return "unchanged"
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return a - b
    return [a, b]


def diff_profiles(a: DatasetState, b: DatasetState) -> dict:
    """profile.diff(other): per-stat differences + drift statistics."""
    # profile_schema diff (profile_builder.py:1907-1926 →
    # find_diff_of_dicts_with_diff_keys): [unique-to-a, shared, unique-
    # to-b], where shared maps name → "unchanged" | [pos_a, pos_b].
    pos_a = {n: i for i, n in enumerate(a.column_order)}
    pos_b = {n: i for i, n in enumerate(b.column_order)}
    schema_diff = [
        {n: [i] for n, i in pos_a.items() if n not in pos_b},
        {n: ("unchanged" if pos_a[n] == pos_b[n] else [pos_a[n], pos_b[n]])
         for n in pos_a if n in pos_b},
        {n: [i] for n, i in pos_b.items() if n not in pos_a},
    ]
    out: dict = {
        "global_stats": {
            "row_count": _diff_val(a.row_count, b.row_count),
            "unique_row_count": _diff_val(a.unique_row_count, b.unique_row_count),
            "profile_schema": schema_diff,
        },
        "data_stats": [],
    }
    for name in a.column_order:
        if name not in b.columns:
            continue
        ca, cb = a.columns[name], b.columns[name]
        col_diff: dict = {
            "column_name": name,
            "data_type": _diff_val(ca.inferred_type, cb.inferred_type),
            "null_count": _diff_val(ca.null_count, cb.null_count),
        }
        if ca.numeric and cb.numeric and ca.numeric.n and cb.numeric.n:
            na, nb = ca.numeric, cb.numeric
            col_diff["statistics"] = {
                "min": _diff_val(na.min, nb.min),
                "max": _diff_val(na.max, nb.max),
                "mean": _diff_val(na.mean, nb.mean),
                "variance": _diff_val(na.variance, nb.variance),
            }
            col_diff["t-test"] = _welch_from_states(na, nb)
            if na.histogram and nb.histogram:
                col_diff["psi"] = _psi_from_histograms(na.histogram,
                                                       nb.histogram)
                col_diff["ks"] = _ks_from_histograms(na.histogram,
                                                     nb.histogram)
        if (ca.categorical and cb.categorical and ca.categorical.active
                and cb.categorical.active):
            col_diff["psi"] = _psi_from_dicts(
                ca.categorical.categories, cb.categorical.categories)
            col_diff["chi2-test"] = _chi2_from_dicts(
                ca.categorical.categories, cb.categorical.categories)
        if ca.vector and cb.vector and ca.vector.n and cb.vector.n:
            va, vb = ca.vector, cb.vector
            col_diff["statistics"] = {
                "vector_dim_max": _diff_val(va.dim_max, vb.dim_max),
                "vector_norm_mean": _diff_val(va.avg_norm, vb.avg_norm),
                "vector_norm_max": _diff_val(va.norm_max, vb.norm_max),
                "vector_zero_count": _diff_val(va.n_zero, vb.n_zero),
            }
        out["data_stats"].append(col_diff)
    return out


def deterministic_diff_rows(diff: dict, a=None, b=None) -> list[tuple]:
    """The order-independent, engine-portable slice of a COMPOSED
    ``diff_profiles`` report — the cross-engine twin of
    :func:`deterministic_report_rows` for the diff path.

    The full diff carries t-test / PSI / KS / chi² values derived from
    order-dependent float moments and engine-specific histograms; each
    of those drift statistics has its own exact-mode oracled query
    (welch_t_*, psi_*, ks_js_*, chi2_*). This slice keeps what is exact
    under any partitioning: the global row-count delta and, per shared
    column, the inferred-type diff, the null-count delta, and the
    min/max deltas (min/max are data values — their difference is the
    same IEEE double in any engine). The input is the REAL
    ``diff_profiles(a, b)`` dict, so a driver hash-check of these rows
    exercises the whole composed diff path (profile → state → diff →
    report), not a side computation.

    Returns (column, stat, value_num, value_str) rows where an
    ``"unchanged"`` verdict lands in value_str and a numeric delta in
    value_num; :func:`oracle_profile_diff_sql` emits the matching SQL.

    min/max rows are emitted for EVERY numeric column (pass ``a`` and
    ``b``, the two DatasetStates, to enable this): when one slice has
    zero matches the delta is undefined and the row reads
    ``'incomparable'``; when both are empty, ``'unchanged'`` — so the
    row set is schema-determined (matching the SQL mirror) rather than
    data-determined.
    """
    def split(v):
        # _diff_val output -> (value_num, value_str)
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v), None
        return None, str(v)

    rows: list[tuple] = []
    num, s = split(diff["global_stats"]["row_count"])
    rows.append(("__dataset", "row_count", num, s))
    for col in diff["data_stats"]:
        name = col["column_name"]
        for stat in ("data_type", "null_count"):
            num, s = split(col[stat])
            rows.append((name, stat, num, s))
        stats = col.get("statistics") or {}
        if "min" in stats or "max" in stats:
            for stat in ("min", "max"):
                num, s = split(stats[stat])
                rows.append((name, stat, num, s))
        elif a is not None and b is not None:
            ca = a.columns.get(name)
            cb = b.columns.get(name)
            if ca is not None and cb is not None \
                    and ca.numeric is not None and cb.numeric is not None:
                # numeric column whose statistics the diff omitted:
                # one or both slices had zero matches
                verdict = ("unchanged"
                           if not ca.numeric.n and not cb.numeric.n
                           else "incomparable")
                rows.append((name, "min", None, verdict))
                rows.append((name, "max", None, verdict))
    return rows


def oracle_profile_diff_sql(table: str, ts_col: str,
                            numeric_cols: list[str],
                            string_cols: list[str]) -> str:
    """DuckDB SQL computing :func:`deterministic_diff_rows` for a
    midpoint time-slice of ``table``: snapshot A is rows with
    ``epoch_us(ts) < (min+max)//2`` (NULL-ts rows belong to neither
    snapshot), snapshot B the rest. The ``data_type`` rows assert the
    engine's type inference is STABLE across the two slices — for
    native-typed parquet columns inference is schema-deterministic, so
    the oracle emits the literal 'unchanged' (a regression tripwire for
    inference instability, not an independent recomputation)."""
    from dataprofiler_spark.functions.nulls import DEFAULT_NULL_SPEC

    rx = DEFAULT_NULL_SPEC.regex()

    def null_expr(c: str) -> str:
        if c in string_cols:
            return (f"({c} IS NULL OR "
                    f"regexp_matches(CAST({c} AS VARCHAR), '{rx}'))")
        return f"{c} IS NULL"

    def diff_row(col: str, stat: str, agg_sql: str) -> str:
        # one scan: FILTER-split aggregates over the union of slices.
        # Tri-state mirror of deterministic_diff_rows: both NULL ->
        # 'unchanged' (nothing on either side), one NULL ->
        # 'incomparable' (delta undefined), else delta/'unchanged'.
        a = f"{agg_sql.replace('%F%', 'FILTER (WHERE side = 0)')}"
        b = f"{agg_sql.replace('%F%', 'FILTER (WHERE side = 1)')}"
        return (f"SELECT '{col}' AS \"column\", '{stat}' AS stat, "
                f"CASE WHEN {a} IS NULL OR {b} IS NULL "
                f"THEN CAST(NULL AS DOUBLE) "
                f"WHEN {a} = {b} THEN CAST(NULL AS DOUBLE) "
                f"ELSE CAST({a} AS DOUBLE) - CAST({b} AS DOUBLE) END "
                f"AS value_num, "
                f"CASE WHEN {a} IS NULL AND {b} IS NULL THEN 'unchanged' "
                f"WHEN {a} IS NULL OR {b} IS NULL THEN 'incomparable' "
                f"WHEN {a} = {b} THEN 'unchanged' "
                f"ELSE CAST(NULL AS VARCHAR) END AS value_str "
                f"FROM sliced")

    def const_row(col: str, stat: str, s: str) -> str:
        return (f"SELECT '{col}' AS \"column\", '{stat}' AS stat, "
                f"CAST(NULL AS DOUBLE) AS value_num, "
                f"'{s}' AS value_str FROM (SELECT 1)")

    all_cols = numeric_cols + string_cols + [ts_col]
    selects = [diff_row("__dataset", "row_count", "COUNT(*) %F%")]
    for c in all_cols:
        selects.append(const_row(c, "data_type", "unchanged"))
        # COALESCE: an EMPTY slice must read null_count 0 (the engine's
        # counter), not NULL -> 'incomparable'
        selects.append(diff_row(
            c, "null_count",
            f"COALESCE(SUM(CASE WHEN {null_expr(c)} THEN 1 ELSE 0 END) "
            f"%F%, 0)"))
        if c in numeric_cols:
            selects.append(diff_row(c, "min", f"MIN({c}) %F%"))
            selects.append(diff_row(c, "max", f"MAX({c}) %F%"))
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH base AS (SELECT * FROM {table} WHERE {ts_col} IS NOT NULL),
bounds AS (
  SELECT (epoch_us(MIN({ts_col})) + epoch_us(MAX({ts_col}))) // 2 AS mid
  FROM base
),
sliced AS (
  SELECT base.*, CASE WHEN epoch_us({ts_col}) < bounds.mid
                      THEN 0 ELSE 1 END AS side
  FROM base CROSS JOIN bounds
)
{body}
"""


def _common_bins(ha: dict, hb: dict, bins: int
                 ) -> tuple[list[int], list[int]] | None:
    """Both histograms projected onto ``bins`` shared equal-width bins
    over the combined range, each source bin counted at its midpoint
    (numerical_column_stats.py:667-816 _preprocess_for_calculate_psi).
    None when the range is empty or either side has no mass."""
    lo = min(ha["bin_edges"][0], hb["bin_edges"][0])
    hi = max(ha["bin_edges"][-1], hb["bin_edges"][-1])
    if hi <= lo:
        return None

    def project(h):
        w = (hi - lo) / bins
        counts = [0] * bins
        for i, c in enumerate(h["bin_counts"]):
            mid = (h["bin_edges"][i] + h["bin_edges"][i + 1]) / 2
            counts[min(max(int((mid - lo) / w), 0), bins - 1)] += c
        return counts

    ca, cb = project(ha), project(hb)
    if not sum(ca) or not sum(cb):
        return None
    return ca, cb


def _psi_from_histograms(ha: dict, hb: dict, bins: int = 10) -> float | None:
    """Numeric PSI over histograms re-binned to common edges: the
    categorical PSI formula over the common-bin projection."""
    from dataprofiler_spark.operators.drift import smoothed_psi

    proj = _common_bins(ha, hb, bins)
    return None if proj is None else smoothed_psi(*proj)


def _ks_from_histograms(ha: dict, hb: dict, bins: int = 10) -> float | None:
    """Binned Kolmogorov-Smirnov statistic over the same common-bin
    projection as _psi_from_histograms (max CDF gap); the distributed
    two-sample variant is operators/drift.numeric_ks_js."""
    proj = _common_bins(ha, hb, bins)
    if proj is None:
        return None
    ca, cb = proj
    na, nb = sum(ca), sum(cb)
    ks, cum_a, cum_b = 0.0, 0, 0
    for a, b in zip(ca, cb):
        cum_a += a
        cum_b += b
        ks = max(ks, abs(cum_a / na - cum_b / nb))
    return ks


def _psi_from_dicts(da: dict[str, int], db: dict[str, int]) -> float | None:
    """Categorical PSI with +1 smoothing (categorical_column_profile.py:
    245-333) — same formula as operators/drift.categorical_psi."""
    from dataprofiler_spark.operators.drift import smoothed_psi

    keys = sorted(set(da) | set(db))
    if not keys:
        return None
    return smoothed_psi([da.get(k, 0) for k in keys],
                        [db.get(k, 0) for k in keys])


def _chi2_from_dicts(da: dict[str, int], db: dict[str, int]) -> dict | None:
    keys = sorted(set(da) | set(db))
    if len(keys) < 2:
        return None
    na, nb = sum(da.values()), sum(db.values())
    total = na + nb
    chi2 = 0.0
    for key in keys:
        ct = da.get(key, 0) + db.get(key, 0)
        ea, eb = na * ct / total, nb * ct / total
        if ea:
            chi2 += (da.get(key, 0) - ea) ** 2 / ea
        if eb:
            chi2 += (db.get(key, 0) - eb) ** 2 / eb
    dof = len(keys) - 1
    from dataprofiler_spark.operators.drift import p_value_chi2
    return {"chi2-statistic": chi2, "deg_of_free": dof,
            "p-value": p_value_chi2(chi2, dof)}


def _welch_from_states(a, b) -> dict | None:
    if a.n < 2 or b.n < 2:
        return None
    va, vb = a.variance, b.variance
    if va is None or vb is None:
        return None
    se2 = va / a.n + vb / b.n
    if se2 <= 0:
        return None
    t = (a.mean - b.mean) / math.sqrt(se2)
    dof = se2 ** 2 / ((va / a.n) ** 2 / (a.n - 1) + (vb / b.n) ** 2 / (b.n - 1))
    from dataprofiler_spark.operators.drift import p_value_welch
    return {"t-statistic": t, "deg_of_free": dof, "p-value": p_value_welch(t, dof)}


def oracle_profile_by_sql(table: str, group_sql: str,
                          numeric_cols: list[str],
                          string_cols: list[str],
                          dt_cols: list[str]) -> str:
    """DuckDB SQL computing :func:`deterministic_report_rows` PER GROUP
    of ``group_sql`` (the grouped twin of :func:`oracle_full_profile_
    sql`, mirroring ``Profiler.profile_by`` / ``plans.diff_plan.
    profile_timeline``): every stat aggregates GROUP BY the group
    expression; NULL groups are excluded (a NULL-ts row belongs to no
    time bucket). The group key is emitted as VARCHAR to match the
    Spark side's ``str(group_value)``."""
    from dataprofiler_spark.functions.nulls import DEFAULT_NULL_SPEC

    rx = DEFAULT_NULL_SPEC.regex()

    def null_expr(c: str) -> str:
        if c in string_cols:
            return (f"({c} IS NULL OR "
                    f"regexp_matches(CAST({c} AS VARCHAR), '{rx}'))")
        return f"{c} IS NULL"

    def row(col: str, stat: str, num_sql: str | None,
            str_sql: str | None) -> str:
        num = num_sql if num_sql is not None else "CAST(NULL AS DOUBLE)"
        s = str_sql if str_sql is not None else "CAST(NULL AS VARCHAR)"
        return (f"SELECT __grp AS grp, '{col}' AS \"column\", "
                f"'{stat}' AS stat, CAST({num} AS DOUBLE) AS value_num, "
                f"{s} AS value_str FROM base GROUP BY __grp")

    all_cols = numeric_cols + string_cols + dt_cols
    any_null = " OR ".join(null_expr(c) for c in all_cols)
    all_null = " AND ".join(null_expr(c) for c in all_cols)
    selects = [
        row("__dataset", "row_count", "COUNT(*)", None),
        row("__dataset", "rows_with_null",
            f"SUM(CASE WHEN {any_null} THEN 1 ELSE 0 END)", None),
        row("__dataset", "rows_all_null",
            f"SUM(CASE WHEN {all_null} THEN 1 ELSE 0 END)", None),
    ]
    for c in all_cols:
        selects.append(row(c, "null_count",
                           f"SUM(CASE WHEN {null_expr(c)} THEN 1 ELSE 0 "
                           f"END)", None))
    for c in numeric_cols:
        selects += [
            row(c, "match_count", f"COUNT({c})", None),
            row(c, "min", f"MIN({c})", None),
            row(c, "max", f"MAX({c})", None),
            row(c, "num_zeros",
                f"SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END)", None),
            row(c, "num_negatives",
                f"SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END)", None),
        ]
    for c in string_cols:
        selects += [
            row(c, "match_count", f"COUNT({c})", None),
            row(c, "len_min", f"MIN(LENGTH({c}))", None),
            row(c, "len_max", f"MAX(LENGTH({c}))", None),
            row(c, "len_sum", f"SUM(LENGTH({c}))", None),
        ]
    for c in dt_cols:
        selects += [
            row(c, "match_count", f"COUNT({c})", None),
            row(c, "min_ts", None,
                f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"),
            row(c, "max_ts", None,
                f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"),
        ]
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH base AS (
  SELECT *, CAST(({group_sql}) AS VARCHAR) AS __grp FROM {table}
  WHERE ({group_sql}) IS NOT NULL
)
{body}
"""
