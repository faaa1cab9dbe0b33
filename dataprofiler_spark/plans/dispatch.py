"""Profiler dispatch — structured / unstructured / graph.

Reference: Profiler.__new__ (profile_builder.py:3075-3146) picks
StructuredProfiler | UnstructuredProfiler | GraphProfiler from the data's
type. Here ``profile_path`` sniffs a file and routes; the class wrappers
expose each profile family over DataFrames directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataprofiler_spark.plans.profile_plan import Profiler, ProfilerOptions


class UnstructuredProfiler:
    """Text-blob profile (reference: UnstructuredProfiler,
    profile_builder.py:1449-1536 + unstructured_text_profile.py): one row
    per sample in a single string column."""

    def __init__(self, df: DataFrame, text_col: str | None = None,
                 top_k: int = 20, labeler: str | None = "regex"):
        """``labeler``: 'regex' (default — scan-speed entity counts),
        'cnn' (char-span NER through the trained CNN, labeler/ner.py —
        the reference UnstructuredProfiler's data_labeler path,
        unstructured_labeler_profile.py:262-330), or None to skip."""
        self.text_col = text_col or df.columns[0]
        self.df = df
        self.top_k = top_k
        self.labeler = labeler

    def _entity_section(self, char_count: int) -> dict:
        if self.labeler == "cnn":
            from dataprofiler_spark.labeler.ner import (entity_span_counts,
                                                        predict_text_spans)
            src = self.df.select(
                F.monotonically_increasing_id().alias("__id"),
                F.col(self.text_col).alias("__text"))
            rows = entity_span_counts(
                predict_text_spans(src, "__id", "__text")).collect()
            word_level = {r["entity"]: r["n_spans"] for r in rows}
            char_level = {r["entity"]: r["n_chars"] for r in rows}
            labeled = sum(char_level.values())
            # UNKNOWN carries the unlabeled character mass, as in the
            # reference's postprocess_char_level accounting
            char_level["UNKNOWN"] = max(int(char_count) - labeled, 0)
            tot_w = max(sum(word_level.values()), 1)
            tot_c = max(sum(char_level.values()), 1)
            return {
                "entity_counts": {
                    "word_level": word_level,
                    "postprocess_char_level": char_level,
                },
                "entity_percentages": {
                    "word_level": {k: round(v / tot_w, 6)
                                   for k, v in word_level.items()},
                    "postprocess_char_level": {k: round(v / tot_c, 6)
                                               for k, v in char_level.items()},
                },
            }
        if self.labeler == "regex":
            from dataprofiler_spark.labeler.regex_labeler import \
                unstructured_entity_counts
            rows = unstructured_entity_counts(
                self.df, self.text_col).collect()
            return {
                "entity_counts": {
                    "word_level": {r["label"]: r["entity_count"]
                                   for r in rows}},
                "entity_percentages": {
                    "word_level": {r["label"]: r["percentage"]
                                   for r in rows}},
            }
        return {}

    def report(self) -> dict:
        from dataprofiler_spark.operators.textstats import word_counts
        c = F.col(self.text_col)
        toks = F.regexp_extract_all(F.lower(c), F.lit(r"[^ \t\n\x0B\f\r]+"), 0)
        row = self.df.agg(
            F.count(F.lit(1)).alias("samples"),
            F.sum(F.when(c.rlike(r"^\s*$") | c.isNull(), 1).otherwise(0))
             .alias("empty_line_count"),
            (F.sum(F.octet_length(c)).cast("double") / 1048576)
             .alias("memory_size_mb"),
            F.sum(F.size(toks)).alias("word_count"),
            F.coalesce(F.sum(F.length(c)), F.lit(0)).alias("char_count"),
        ).collect()[0]
        from dataprofiler_spark.session import explode_no_prefilter
        vocab_size = (explode_no_prefilter(
            self.df.select(F.regexp_extract_all(
                F.lower(c), F.lit(r"[^ \t\n\x0B\f\r]+"), 0).alias("toks")),
            "toks", "w")
            .agg(F.count_distinct("w")).collect()[0][0])
        top = [(r["word"], r["count"]) for r in
               word_counts(self.df, self.text_col, self.top_k).collect()]
        return {
            "global_stats": {
                "samples_used": row["samples"],
                "empty_line_count": row["empty_line_count"],
                "memory_size": row["memory_size_mb"],
            },
            "data_stats": {
                "data_label": "text",
                "statistics": {
                    "word_count": row["word_count"],
                    "vocab_size": vocab_size,
                    "words": top,
                    **self._entity_section(row["char_count"]),
                },
            },
        }


class GraphProfiler:
    """Edge-list profile (reference: graph_profiler.py)."""

    def __init__(self, edges: DataFrame, src: str | None = None,
                 dst: str | None = None):
        from dataprofiler_spark.operators.graph import detect_edge_columns
        if src is None or dst is None:
            found = detect_edge_columns(edges.columns)
            if not found:
                raise ValueError("could not detect source/destination columns")
            src, dst = found
        self.edges, self.src, self.dst = edges, src, dst

    def report(self) -> dict:
        from dataprofiler_spark.operators.graph import (component_summary,
                                                        degree_stats,
                                                        edge_attribute_profile)
        from dataprofiler_spark.session import unpersist_plan
        deg = degree_stats(self.edges, self.src, self.dst).collect()[0]
        summary = component_summary(self.edges, self.src, self.dst)
        comp = summary.collect()[0]
        unpersist_plan(summary)
        attrs = [c for c in self.edges.columns if c not in (self.src, self.dst)]
        return {
            "num_nodes": deg["num_nodes"],
            "num_edges": deg["num_edges"],
            "avg_degree": deg["avg_degree"],
            "max_degree": deg["max_degree"],
            "num_components": comp["num_components"],
            "max_component_size": comp["max_component_size"],
            "continuous_distribution": edge_attribute_profile(
                self.edges, attrs) if attrs else {},
        }


def profile_path(spark, path: str, options: ProfilerOptions | None = None):
    """Data(path) → Profiler(data) in one call: sniff, read, route."""
    from dataprofiler_spark.sources.sniff import read_data

    df, res = read_data(spark, path)
    if res.format == "text":
        return UnstructuredProfiler(df, "value")
    if res.format == "graph_csv":
        return GraphProfiler(df)
    return Profiler(df, options)
