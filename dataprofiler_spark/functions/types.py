"""The datetime format list of the reference's type inference.

The reference tests datetime cells with strptime against a fixed format
list (datetime_column_profile.py:25-42). The profile plan matches every
format as one ``try_to_timestamp`` per cell in its wide agg
(plans/profile_plan.py ``_string_col_exprs`` and ``_format_pass``), and
computes the int/float cell tests inline next to them.
"""

from __future__ import annotations

# Reference format list (datetime_column_profile.py:25-42), strptime form →
# Spark (JDK DateTimeFormatter) form. Order matters: first match wins for
# the parsed value; the *set* of matching formats is reported.
DATETIME_FORMATS: tuple[tuple[str, str], ...] = (
    ("%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss"),
    ("%Y-%m-%dT%H:%M:%S", "yyyy-MM-dd'T'HH:mm:ss"),
    ("%Y-%m-%dT%H:%M:%S.%f", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
    ("%Y-%m-%d", "yyyy-MM-dd"),
    ("%m/%d/%Y %H:%M:%S", "MM/dd/yyyy HH:mm:ss"),
    ("%m/%d/%y %H:%M:%S", "MM/dd/yy HH:mm:ss"),
    ("%m/%d/%Y", "MM/dd/yyyy"),
    ("%m/%d/%y", "MM/dd/yy"),
    ("%B %d, %Y", "MMMM dd, yyyy"),
    ("%b %d, %Y", "MMM dd, yyyy"),
    ("%d %B %Y", "dd MMMM yyyy"),
    ("%d %b %Y", "dd MMM yyyy"),
    ("%Y%m%dT%H%M%S", "yyyyMMdd'T'HHmmss"),
    ("%Y%m%d", "yyyyMMdd"),
    ("%H:%M:%S", "HH:mm:ss"),
    ("%H:%M", "HH:mm"),
)
