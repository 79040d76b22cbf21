"""Seeded operation scripts.

Everything a workload sends to the program is decided here, from the
workload seed and the fixed base data: keys (Zipf-skewed over customers),
op order and the rows of every write. The set-up's batch bounds are fixed.
The program sees only the resulting SQL text and DataFrames, and the same
seed always yields the same script (``tests/test_script.py``).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

READ_KINDS = frozenset({"point", "range", "join", "aggregate", "gate", "lookup"})
WRITE_KINDS = frozenset({"insert", "update", "delete", "upsert"})
# upsert match keys per distributed table (the partition column first)
KEY_COLUMNS = {"orders": ["o_custkey", "o_orderkey"], "corpus": ["doc_id"]}

# One serving block: 22 ops, shuffled. The front-door mix rounded to whole
# ops (9 point SELECT, 3 month range, 3 INSERT, 2 UPDATE, 2 DELETE, 1
# upsert), plus one join of the co-located copies and one full-table
# aggregate. Whole blocks keep the mix exact in every run whatever the seed.
SERVING_BLOCK = (
    ("point", 9), ("range", 3), ("join", 1), ("aggregate", 1), ("insert", 3),
    ("update", 2), ("delete", 2), ("upsert", 1),
)
# append-only co-located copies of the serving fixtures, built at set-up
COLOCATED_ORDERS = "orders_col"
COLOCATED_CUSTOMER = "customer_col"
ZIPF_S = 1.1
FRESH_ORDERKEY = 10_000_000
FRESH_DOC_ID = 1_000_000
CRAWL_ROUNDS = 3  # corpus-maintenance rounds per LLM pass
# o_orderdate range of the fixture orders (tests/test_script.py checks it)
ORDER_DATE_LO = dt.date(1995, 1, 1)
ORDER_DATE_HI = dt.date(2001, 8, 1)
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RECENT_LO = ORDER_DATE_HI  # timed inserts land after the base data
SETUP_BATCHES = 3
N_NATIONS = 25


@dataclass(frozen=True)
class Op:
    """One operation. ``sql`` goes through ``MppSession.sql``; ``rows`` is
    an upsert batch; ``name`` is a gate name or the target table."""

    kind: str
    sql: str = ""
    rows: tuple = ()
    name: str = ""

    @property
    def is_write(self) -> bool:
        return self.kind in WRITE_KINDS


class Zipf:
    """Bounded Zipf over ``keys``: the seed decides which key is hot."""

    def __init__(self, rng: np.random.Generator, keys: np.ndarray):
        self._rng = rng
        self._keys = rng.permutation(keys)
        w = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
        self._p = w / w.sum()

    def draw(self) -> int:
        return int(self._keys[self._rng.choice(len(self._keys), p=self._p)])


def _ts(day: dt.date) -> str:
    return f"TIMESTAMP '{day.isoformat()} 00:00:00'"


def _month_start(index: int) -> dt.date:
    y, m = divmod(ORDER_DATE_LO.month - 1 + index, 12)
    return dt.date(ORDER_DATE_LO.year + y, m + 1, 1)


N_MONTHS = ((ORDER_DATE_HI.year - ORDER_DATE_LO.year) * 12
            + ORDER_DATE_HI.month - ORDER_DATE_LO.month)


def setup_batch_bounds() -> list[tuple[str, str]]:
    """Range-disjoint ``[lo, hi)`` date bounds (SQL literals) splitting the
    base orders into ``SETUP_BATCHES`` loads of equal date span. They do not
    depend on the seed, so every run's set-up does the same work."""
    edges = [N_MONTHS * i // SETUP_BATCHES for i in range(SETUP_BATCHES)]
    edges.append(N_MONTHS + 12)
    return [(_ts(_month_start(a)), _ts(_month_start(b)))
            for a, b in zip(edges, edges[1:])]


class _OrderWriter:
    """Writes against an orders-shaped table: fresh keys, Zipf customers."""

    def __init__(self, rng, table: str, custkeys: np.ndarray, base_keys):
        self.rng = rng
        self.table = table
        self.zipf = Zipf(rng, np.unique(custkeys))
        self.next_key = FRESH_ORDERKEY
        self.base_keys = base_keys  # custkey -> existing orderkeys

    def _row(self, orderkey: int, custkey: int, status: str) -> tuple:
        day = RECENT_LO + dt.timedelta(days=int(self.rng.integers(0, 150)))
        price = round(float(self.rng.uniform(1000.0, 500_000.0)), 2)
        return (orderkey, custkey, status, price,
                dt.datetime(day.year, day.month, day.day),
                str(self.rng.choice(PRIORITIES)))

    def _fresh(self) -> int:
        self.next_key += 1
        return self.next_key

    def insert(self, n: int) -> Op:
        rows = [self._row(self._fresh(), self.zipf.draw(), "O") for _ in range(n)]
        values = ", ".join(
            f"({k}, {c}, '{s}', {p!r}, {_ts(d.date())}, '{pr}')"
            for k, c, s, p, d, pr in rows
        )
        return Op("insert", f"INSERT INTO {self.table} VALUES {values}")

    def update(self) -> Op:
        return Op("update", (
            f"UPDATE {self.table} SET o_orderstatus = 'U', "
            f"o_orderpriority = '1-URGENT' WHERE o_custkey = {self.zipf.draw()}"))

    def delete(self) -> Op:
        k = self.zipf.draw()
        r = int(self.rng.integers(0, 3))
        return Op("delete", (
            f"DELETE FROM {self.table} "
            f"WHERE o_custkey = {k} AND o_orderkey % 3 = {r}"))

    def upsert(self, n: int) -> Op:
        """``n`` rows for one customer: up to two replace existing orders
        (keys from the base data), the rest are new."""
        k = self.zipf.draw()
        existing = list(self.base_keys.get(k, ()))[:2]
        keys = existing + [self._fresh() for _ in range(n - len(existing))]
        return Op("upsert", rows=tuple(self._row(o, k, "M") for o in keys),
                  name=self.table)


def _base_keys(custkeys: np.ndarray, orderkeys: np.ndarray) -> dict[int, tuple]:
    order = np.argsort(custkeys, kind="stable")
    ck, ok = custkeys[order], orderkeys[order]
    bounds = np.flatnonzero(np.diff(ck)) + 1
    return {int(c[0]): tuple(int(x) for x in o)
            for c, o in zip(np.split(ck, bounds), np.split(ok, bounds))}


# exact decimal sum, so Spark and DuckDB agree to the last bit
_REVENUE = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue"


def serving_blocks(seed: int, custkeys: np.ndarray, orderkeys: np.ndarray,
                   n_blocks: int, table: str = "orders") -> list[list[Op]]:
    """``n_blocks`` shuffled blocks of the serving mix against ``table``."""
    rng = np.random.default_rng([seed, 1])
    w = _OrderWriter(rng, table, custkeys, _base_keys(custkeys, orderkeys))
    blocks = []
    for _ in range(n_blocks):
        kinds = [k for k, n in SERVING_BLOCK for _ in range(n)]
        ops = []
        for kind in rng.permutation(kinds):
            if kind == "point":
                ops.append(Op("point", (
                    f"SELECT * FROM {table} WHERE o_custkey = {w.zipf.draw()}")))
            elif kind == "range":
                lo = int(rng.integers(0, N_MONTHS))
                ops.append(Op("range", (
                    f"SELECT o_orderpriority, COUNT(*) AS n, {_REVENUE} "
                    f"FROM {table} "
                    f"WHERE o_orderdate >= {_ts(_month_start(lo))} "
                    f"AND o_orderdate < {_ts(_month_start(lo + 1))} "
                    f"GROUP BY o_orderpriority")))
            elif kind == "join":
                ops.append(Op("join", (
                    f"SELECT c_mktsegment, COUNT(*) AS n, {_REVENUE} "
                    f"FROM {COLOCATED_ORDERS} JOIN {COLOCATED_CUSTOMER} "
                    f"ON o_custkey = c_custkey "
                    f"WHERE c_nationkey = {int(rng.integers(0, N_NATIONS))} "
                    f"GROUP BY c_mktsegment")))
            elif kind == "aggregate":
                ops.append(Op("aggregate", (
                    f"SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
                    f"{_REVENUE} FROM {COLOCATED_ORDERS} "
                    f"GROUP BY o_orderstatus, o_orderpriority")))
            elif kind == "insert":
                ops.append(w.insert(10))
            elif kind == "update":
                ops.append(w.update())
            elif kind == "delete":
                ops.append(w.delete())
            else:
                ops.append(w.upsert(5))
        blocks.append(ops)
    return blocks


def _pass_rng(seed: int, salt: int, pass_index: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt, pass_index])


def _doc_text(rng: np.random.Generator, vocab: list[str]) -> str:
    return " ".join(rng.choice(vocab, int(rng.integers(8, 90))))


def llm_pass(seed: int, pass_index: int, gates: list[str], n_docs: int,
             vocab: list[str]) -> list[Op]:
    """One LLM-pipeline pass: every gate, plus ``CRAWL_ROUNDS`` rounds of
    corpus maintenance on ``corpus`` (merge a crawl batch of revised and
    new documents by upsert, one takedown DELETE, one relabel UPDATE) and a
    read of the merged documents, shuffled."""
    rng = _pass_rng(seed, 3, pass_index)

    def ids(n: int) -> str:
        return ", ".join(str(int(d)) for d in rng.choice(n_docs, n, replace=False))

    ops, merged = [Op("gate", name=g) for g in gates], []
    for r in range(CRAWL_ROUNDS):
        revised = [int(d) for d in rng.choice(n_docs, 5, replace=False)]
        new = [FRESH_DOC_ID + 100 * pass_index + 10 * r + i for i in range(5)]
        rows = []
        for doc_id in revised + new:
            text = _doc_text(rng, vocab)
            rows.append((doc_id, text, "en", f"crawl{pass_index}", len(text)))
        merged += [revised[0], new[0]]
        ops += [
            Op("upsert", rows=tuple(rows), name="corpus"),
            Op("delete", f"DELETE FROM corpus WHERE doc_id IN ({ids(3)})"),
            Op("update", f"UPDATE corpus SET lang = 'xx' WHERE doc_id IN ({ids(3)})"),
        ]
    ops.append(Op("lookup", (
        "SELECT doc_id, lang, source, n_chars FROM corpus "
        f"WHERE doc_id IN ({', '.join(map(str, merged))})")))
    return [ops[i] for i in rng.permutation(len(ops))]
