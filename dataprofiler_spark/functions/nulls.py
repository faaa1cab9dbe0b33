"""Null semantics as Column predicates.

The reference treats nulls as *regex-defined over stringified cells*, not
SQL NULL: default null values are "", nan, none, null (case-insensitive),
whitespace-only, and ``--*`` / ``__*`` prefixes, applied as one anchored
alternation with re.IGNORECASE (reference: dataprofiler/profilers/
profile_builder.py:107-115 and :621-630; per-column overrides via
profiler_options.py:1428-1490).

Here a NullSpec compiles to a single Catalyst boolean expression so the
null test participates in whole-stage codegen and costs one pass.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mirrors profile_builder.py:107-115 `_default_null_values` (regex forms).
DEFAULT_NULL_PATTERNS: tuple[str, ...] = (
    r"",            # empty string
    r"nan",
    r"none",
    r"null",
    r"\s+",         # whitespace-only
    r"--+",         # -- prefix runs
    r"__+",         # __ prefix runs
)


@dataclass(frozen=True)
class NullSpec:
    """Which stringified cell values count as null for profiling."""

    patterns: tuple[str, ...] = DEFAULT_NULL_PATTERNS
    case_insensitive: bool = True

    def regex(self) -> str:
        body = "|".join(f"(?:{p})" for p in self.patterns)
        flags = "(?i)" if self.case_insensitive else ""
        return f"{flags}^(?:{body})$"

    def is_null(self, col: str | Column) -> Column:
        """SQL NULL OR string form matches the null regex."""
        c = F.col(col) if isinstance(col, str) else col
        s = c.cast("string")
        return c.isNull() | s.rlike(self.regex())

    @classmethod
    def with_extra(cls, *patterns: str,
                   case_insensitive: bool = True) -> "NullSpec":
        """Default patterns PLUS extras — the reference's
        column_null_values merge semantics (profile_builder.py:117-123
        ``self._null_values.update(...)`` adds the per-column entries to
        the default dict rather than replacing it)."""
        return cls(patterns=DEFAULT_NULL_PATTERNS + tuple(patterns),
                   case_insensitive=case_insensitive)


DEFAULT_NULL_SPEC = NullSpec()
