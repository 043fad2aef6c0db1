"""Output checks: DuckDB oracles over the generated tables, and digests that
must repeat.

Rows are compared the way the repository's oracle tests compare them: column
names sorted, cells normalized (floats rounded to 9 places, timestamps made
naive), rows taken as an order-insensitive multiset.
"""

from __future__ import annotations

import concurrent.futures
import datetime
import decimal
import hashlib
import math
import os

import duckdb


def _cell(v):
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9) + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):  # pyspark Row nested in a struct column
        return tuple(_cell(x) for x in v)
    return v


def normalize(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, normalize cells, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [columns[i] for i in order], out


def digest(columns: list[str], rows: list[tuple]) -> str:
    cols, norm = normalize(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for r in norm:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


class Oracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, table_dir: str, tables: list[str]):
        # two threads: the oracles run beside the Spark check pass
        self.con = duckdb.connect(config={"threads": 2})
        for t in tables:
            path = os.path.join(table_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return list(rel.columns), [tuple(r) for r in rel.fetchall()]

    def rows_async(self, queries: dict[str, str]) -> "concurrent.futures.Future":
        """Evaluate every query on a background thread; the future's result
        maps each name to its rows. DuckDB releases the GIL while it runs."""
        pool = concurrent.futures.ThreadPoolExecutor(max_workers=1)
        fut = pool.submit(lambda: {n: self.rows(sql) for n, sql in queries.items()})
        pool.shutdown(wait=False)
        return fut

    def close(self) -> None:
        self.con.close()


def mismatch(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """Return why ``got`` differs from ``want``, or None when they match."""
    g_cols, g_rows = normalize(*got)
    w_cols, w_rows = normalize(*want)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"row count {len(g_rows)} != {len(w_rows)}"
    if g_rows != w_rows:
        diffs = [(a, b) for a, b in zip(g_rows, w_rows) if a != b][:3]
        return f"values differ, first: {diffs}"
    return None


class Ledger:
    """Counts operations attempted and failed, and remembers why each failed.

    ``expect``/``check_digest`` implement the repeat check: the first digest
    recorded for a name is the expected one, and every later output of that
    name must reproduce it.
    """

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.expected: dict[str, str] = {}

    def record(self, name: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem is not None:
            self.failed += 1
            self.failures.append(f"{name}: {problem}")
        return problem is None

    def expect(self, name: str, value: str) -> None:
        self.expected.setdefault(name, value)

    def check_digest(self, name: str, value: str) -> str | None:
        want = self.expected.get(name)
        if want is None:
            return "no expected digest"
        return None if value == want else f"digest {value} != expected {want}"
