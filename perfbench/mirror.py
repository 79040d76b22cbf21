"""Output checks: a DuckDB mirror of every distributed table, and the gate
oracles.

The mirror replays the executed ops in order after the timed phase (so
checking costs the timed phase nothing) and compares every read's rows,
every write's row count, each gate result checked on the warm pass against
that gate's registered DuckDB oracle, and finally each table's full
contents.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

from script import KEY_COLUMNS, Op


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Column-name-sorted, value-normalized, row-sorted form of a result,
    the same comparison the repository's oracle tests make."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


class Mirror:
    """DuckDB views over the fixture tables in ``views`` and copies of the
    workload's distributed tables (``tables``: name -> source fixture)."""

    def __init__(self, fixture_dir: str, views: list[str],
                 tables: dict[str, str]):
        self.con = duckdb.connect()

        def path(fixture: str) -> str:
            return os.path.join(fixture_dir, f"{fixture}.parquet")

        for name in views:
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path(name)}'")
        for table, source in tables.items():
            self.con.execute(
                f"CREATE TABLE {table} AS SELECT * FROM '{path(source)}'")

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def _upsert(self, op: Op) -> int:
        keys = KEY_COLUMNS[op.name]
        cols = [d[0] for d in self.con.execute(
            f"SELECT * FROM {op.name} LIMIT 0").description]
        idx = [cols.index(k) for k in keys]
        match = " OR ".join(
            "(" + " AND ".join(f"{k} = ?" for k in keys) + ")" for _ in op.rows)
        self.con.execute(f"DELETE FROM {op.name} WHERE {match}",
                         [r[i] for r in op.rows for i in idx])
        marks = ", ".join("?" for _ in cols)
        self.con.executemany(f"INSERT INTO {op.name} VALUES ({marks})",
                             [list(r) for r in op.rows])
        return len(op.rows)

    def check(self, op: Op, value, oracle_sql: str | None = None) -> str | None:
        """Apply ``op`` to the mirror and compare with the program's
        ``value``; returns a description of the mismatch, or None."""
        if op.kind == "gate":
            if value is None or oracle_sql is None:
                return None  # timed gate runs are not collected
            expected = canonical(*self.query(oracle_sql))
        elif op.kind == "upsert":
            expected = self._upsert(op)
        elif op.is_write:
            expected = self.con.execute(op.sql).fetchone()[0]
        elif op.kind == "maintenance":
            return None
        else:
            expected = canonical(*self.query(op.sql))
        got = canonical(*value) if isinstance(value, tuple) else value
        if got != expected:
            return f"{op.kind} {op.name or op.sql[:80]!r}: {_diff(got, expected)}"
        return None

    def table_contents(self, table: str):
        return table_contents(*self.query(f"SELECT * FROM {table}"))


def table_contents(cols: list[str], rows: list[tuple]):
    """Order-free form of a whole table: column names and the multiset of
    normalized rows (no sort, so it stays cheap on a full table)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            Counter(tuple(_norm(r[i]) for i in order) for r in rows))


def _diff(got, expected) -> str:
    if not (isinstance(got, tuple) and isinstance(expected, tuple)):
        return f"got {got!r}, expected {expected!r}"
    if got[0] != expected[0]:
        return f"columns {got[0]} vs {expected[0]}"
    if len(got[1]) != len(expected[1]):
        return f"{len(got[1])} rows vs {len(expected[1])}"
    first = next(i for i, (a, b) in enumerate(zip(got[1], expected[1])) if a != b)
    return f"row {first}: {got[1][first]} vs {expected[1][first]}"
