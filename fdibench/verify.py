"""Output checks, run after the timed passes and outside timing.

Queries with a DuckDB twin (``plans.registry.ORACLES``) are compared with
the twin on the same input directory: column names, row count and an
order-insensitive multiset of values (floats to 6 decimals), the check
``tests/test_oracle_queries.py`` makes, except that floats one rounding
step apart match (see ``same``). Queries without a twin are checked
by schema and row count, the Kalman stream sink by schema, row count and
values. Each check returns None or what went
wrong.
"""

from __future__ import annotations

import math
import os

import duckdb


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, int):
        return float(v)
    return str(v)


def multiset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(row[i]) for i in order) for row in rows),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    return con


def check_oracle(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns {cols} vs twin {dcols}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows vs twin {len(drows)}"
    bad = [(a, b) for a, b in zip(multiset(cols, rows), multiset(dcols, drows))
           if not all(map(same, a, b))]
    return f"{len(bad)} rows differ from the twin, first {bad[0]}" if bad else None


# Both sides round floats to 6 decimals. A value within float error of a
# rounding half-step (a running sum, say) rounds up on one side and down on
# the other when the two engines add in different orders, so values one
# rounding step apart are the same value.
ROUNDING_STEP = 1e-6


def same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= ROUNDING_STEP * (1 + 1e-6)
    return a == b


def check_rows(con, want_schema: str, count_sql: str, schema: str, n: int) -> str | None:
    """A query without a twin: its schema and its row count."""
    if schema != want_schema:
        return f"schema {schema}, expected {want_schema}"
    want = con.execute(count_sql).fetchone()[0]
    return None if n == want else f"{n} rows, expected {want}"


def check_kalman(out, want: dict[tuple[str, int], float]) -> str | None:
    """The streamed Kalman estimates against a sequential replay."""
    if list(out.columns) != ["series_id", "ts", "value"] or len(out) != len(want):
        return f"sink has {len(out)} rows {list(out.columns)}, expected {len(want)}"
    worst = max(abs(v - want[(s, int(t))]) for s, t, v in out.itertuples(index=False))
    return None if worst <= 1e-9 else f"estimates off by up to {worst}"
