"""Output checking: canonical row sets, DuckDB oracles, and a reference
connected-components for the graph operator."""

from __future__ import annotations

import datetime as dt
import math


def _value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        f = float(v)
        return f if math.isnan(f) else round(f, 6)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    return str(v)


def same_value(a, b) -> bool:
    """Equality of two output values in their canonical form."""
    return _value(a) == _value(b)


def canon_tuples(rows) -> list:
    """Order-insensitive form of positional rows."""
    return sorted((tuple(_value(v) for v in r) for r in rows), key=repr)


def canon_records(rows) -> list:
    """Order-insensitive form of rows with column names (Spark ``Row``s
    or dicts): each row becomes its ``(column, value)`` pairs, sorted by
    column name, so column order does not matter but names do."""
    out = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        out.append(tuple(sorted((k, _value(v)) for k, v in d.items())))
    return sorted(out, key=repr)


class Oracle:
    """DuckDB over the same parquet files the benchmark gives Spark."""

    def __init__(self, paths: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        for name, path in paths.items():
            # CSV is read the way the engine reads it: every column text
            reader = (f"read_csv('{path}', header=true, all_varchar=true)"
                      if path.endswith(".csv") else f"read_parquet('{path}')")
            self.con.sql(f"CREATE VIEW {name} AS SELECT * FROM {reader}")

    def tuples(self, sql: str) -> list:
        return canon_tuples(self.con.sql(sql).fetchall())

    def records(self, sql: str) -> list:
        rel = self.con.sql(sql)
        cols = rel.columns
        return canon_records(dict(zip(cols, r)) for r in rel.fetchall())

    def close(self) -> None:
        self.con.close()


def components(pairs) -> list:
    """(node, component) where component is the least node id reachable,
    for every node on an edge — the contract of
    ``operators.graph.connected_components``."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((n, find(n)) for n in parent)
