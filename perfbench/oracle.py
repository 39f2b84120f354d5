"""Output check against each query's DuckDB oracle.

The oracle is the registry's own SQL (``QUERIES[name].oracle``) run by
DuckDB over the same input directory, so it shares no code with the
Spark plan under test. The comparison is strict: same column names,
same row count, non-empty, order-insensitive values with floats equal
bit for bit, and every cell of the same Python type class. Integral
Spark values must not face a DuckDB column that pandas would render as
float64 (HUGEINT, DECIMAL and friends), because a consumer hashing the
pandas rendering would see a different value.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_FLOAT_RENDERED = ("HUGEINT", "DOUBLE", "FLOAT", "DECIMAL", "REAL")


class Output:
    """One collected query result in canonical form: columns sorted by
    name, rows sorted, so two runs that differ only in row or column
    order share a digest."""

    def __init__(self, columns: list[str], rows: list[tuple]):
        idx = sorted(range(len(columns)), key=lambda i: columns[i])
        self.columns = [columns[i] for i in idx]
        self.rows = sorted(
            (tuple(r[i] for i in idx) for r in rows), key=_sort_key
        )
        self.digest = hashlib.sha1(
            repr((self.columns, self.rows)).encode()
        ).hexdigest()


def _sort_key(row: tuple) -> list:
    out = []
    for v in row:
        if isinstance(v, float):
            out.append(("f", round(v, 9)))
        elif v is None:
            out.append(("n",))
        else:
            out.append(("v", str(v)))
    return out


class Oracle:
    """DuckDB connection with one view per input table; runs each
    oracle once and caches its canonical result."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        self._results: dict[str, tuple[Output, set[str]]] = {}

    def close(self) -> None:
        self.con.close()

    def expected(self, name: str, sql: str) -> tuple[Output, set[str]]:
        if name not in self._results:
            rel = self.con.sql(sql)
            cols = list(rel.columns)
            types = [str(t).split("(", 1)[0].upper() for t in rel.types]
            rows = [tuple(r) for r in rel.fetchall()]
            float_cols = {
                c
                for i, (c, t) in enumerate(zip(cols, types))
                if t in _FLOAT_RENDERED and all(r[i] is not None for r in rows)
            }
            self._results[name] = (Output(cols, rows), float_cols)
        return self._results[name]

    def mismatch(self, name: str, sql: str, got: Output) -> str | None:
        """None when ``got`` matches the oracle, else the first
        difference found."""
        want, float_cols = self.expected(name, sql)
        if not got.rows:
            return "0 rows: an empty result would match vacuously"
        if got.columns != want.columns:
            return f"columns {got.columns} != oracle {want.columns}"
        if len(got.rows) != len(want.rows):
            return f"{len(got.rows)} rows != oracle {len(want.rows)}"
        for i, (gr, wr) in enumerate(zip(got.rows, want.rows)):
            for c, gv, wv in zip(got.columns, gr, wr):
                err = _cell_mismatch(gv, wv, c in float_cols)
                if err:
                    return f"row {i} col {c}: {err}"
        return None


def _cell_mismatch(gv, wv, float_rendered: bool) -> str | None:
    if gv is None or wv is None:
        return None if gv is None and wv is None else f"{gv!r} != {wv!r}"
    if type(gv) is not type(wv):
        return f"type {type(gv).__name__} != {type(wv).__name__}"
    if isinstance(gv, float):
        if math.isnan(gv) and math.isnan(wv):
            return None
        return None if repr(gv) == repr(wv) else f"{gv!r} != {wv!r}"
    if gv != wv:
        return f"{gv!r} != {wv!r}"
    if isinstance(gv, int) and not isinstance(gv, bool) and float_rendered:
        return "int where the oracle column renders as float64"
    return None
