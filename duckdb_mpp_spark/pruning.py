"""Bucket (shard) pruning — the one piece of custom planner work
(SURVEY §4: everything else the reference does is built into Catalyst).

Reference semantics (``src/function/mpp_table_scan.cpp:52-143``,
``src/function/prune_shards.cpp:60-132``):

- ``col = const``        → exactly one shard
- ``col IN (consts)``    → union of those shards (any non-const disables)
- ``col IS NULL``        → the shard that hash(NULL) routes to
- ``OR`` of the above    → union, but only if *every* branch prunes
- conjuncts (``AND``)    → each prunable conjunct narrows independently
                           (intersection)
- anything else          → no pruning (scan all shards) — best-effort,
                           correctness never depends on it

Spark-first design: we do NOT compute hashes driver-side. For each prunable
predicate we derive an equivalent predicate over the hidden ``__bucket``
partition column whose literals are *constant-foldable Spark expressions*
(``pmod(hash(CAST(lit AS type)), n)``). Catalyst folds them at optimization
time and its native partition pruning (``PartitionFilters`` on the parquet
file index) skips the unselected bucket directories — so pruning scales to a
100 TB table exactly like Hive-style partition pruning does: it is metadata
work, proportional to #buckets, not data size.

The same folding, evaluated on the driver over an inline relation of the
bucket-id domain (no Spark job), yields the concrete bucket ids for the
``Shards: k/n`` explain contract (``test/sql/mpp_filter.test:60-87``) and
for copy-on-write DML, which must know which directories to rewrite.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# Tiny predicate parser (restricted SQL grammar; unparseable → no pruning)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<string>'(?:[^']|'')*')
    | (?P<typed>(?:DATE|TIMESTAMP|INTERVAL)\s+'(?:[^']|'')*')
    | (?P<number>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<op><=|>=|<>|!=|=|<|>)
    | (?P<lparen>\()
    | (?P<rparen>\))
    | (?P<comma>,)
    | (?P<word>[A-Za-z_][A-Za-z_0-9$]*(?:\.[A-Za-z_][A-Za-z_0-9$]*)*)
    | (?P<other>\S)
    )""",
    re.VERBOSE | re.IGNORECASE,
)


def _tokenize(text: str) -> list[tuple[str, str]] | None:
    # rstrip: the token regex requires a non-space char after \s*, so an
    # unstripped predicate ("c0 = 1 ") would fail to tokenize and silently
    # disable pruning/skipping for a cosmetic reason (review r4)
    text = text.rstrip()
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            return None
        pos = m.end()
        for kind, val in m.groupdict().items():
            if val is not None:
                out.append((kind, val))
                break
        if pos == m.start():  # no progress
            return None
    return out


@dataclass
class Atom:
    kind: str  # "eq" | "in" | "isnull" | "unknown"
    col: str | None = None
    literals: tuple[str, ...] = ()  # literal SQL text, verbatim


@dataclass
class BoolOp:
    op: str  # "and" | "or"
    children: list


UNKNOWN = Atom("unknown")


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> tuple[str, str] | None:
        t = self.peek()
        if t:
            self.i += 1
        return t

    def at_word(self, *words: str) -> bool:
        t = self.peek()
        return bool(t and t[0] == "word" and t[1].upper() in words)

    def parse_or(self):
        left = self.parse_and()
        children = [left]
        while self.at_word("OR"):
            self.next()
            children.append(self.parse_and())
        return children[0] if len(children) == 1 else BoolOp("or", children)

    def parse_and(self):
        left = self.parse_atom()
        children = [left]
        while self.at_word("AND"):
            self.next()
            children.append(self.parse_atom())
        return children[0] if len(children) == 1 else BoolOp("and", children)

    def parse_atom(self):
        t = self.peek()
        if t is None:
            return UNKNOWN
        if t[0] == "lparen":
            # could be a parenthesized boolean expr
            save = self.i
            self.next()
            inner = self.parse_or()
            if self.peek() and self.peek()[0] == "rparen":
                self.next()
                return inner
            self.i = save
            return self._skip_unknown()
        if t[0] == "word" and t[1].upper() == "NOT":
            self.next()
            self.parse_atom()
            return UNKNOWN  # NOT never prunes in the reference either
        return self._parse_comparison()

    def _parse_comparison(self):
        t = self.next()
        if t is None:
            return UNKNOWN
        # <col> <op> <lit> | <lit> <op> <col> | <col> IN (...) | <col> IS [NOT] NULL
        if t[0] == "word" and t[1].upper() not in ("NULL", "TRUE", "FALSE"):
            col = t[1]
            nxt = self.peek()
            if nxt is None:
                return UNKNOWN
            if nxt[0] == "op":
                op = self.next()[1]
                lit = self._parse_literal()
                if lit is not None and op == "=":
                    return Atom("eq", _base_col(col), (lit,))
                return UNKNOWN if lit is None else Atom("unknown")
            if nxt[0] == "word" and nxt[1].upper() == "IS":
                self.next()
                neg = False
                if self.at_word("NOT"):
                    self.next()
                    neg = True
                if self.at_word("NULL"):
                    self.next()
                    return UNKNOWN if neg else Atom("isnull", _base_col(col))
                return UNKNOWN
            if nxt[0] == "word" and nxt[1].upper() == "IN":
                self.next()
                lits = self._parse_literal_list()
                if lits is None:
                    return UNKNOWN
                return Atom("in", _base_col(col), tuple(lits))
            if nxt[0] == "word" and nxt[1].upper() == "NOT":
                # col NOT IN (...) — never prunes
                self.next()
                if self.at_word("IN"):
                    self.next()
                    self._parse_literal_list()
                return UNKNOWN
            if nxt[0] == "word" and nxt[1].upper() == "BETWEEN":
                self.next()
                self._parse_literal()
                if self.at_word("AND"):
                    self.next()
                    self._parse_literal()
                return UNKNOWN
            return self._skip_unknown()
        # literal-first form: <lit> = <col>
        lit = self._literal_text(t)
        if lit is not None:
            nxt = self.peek()
            if nxt and nxt[0] == "op" and nxt[1] == "=":
                self.next()
                ct = self.next()
                if ct and ct[0] == "word":
                    return Atom("eq", _base_col(ct[1]), (lit,))
            return UNKNOWN
        return self._skip_unknown()

    def _parse_literal(self) -> str | None:
        t = self.peek()
        if t is None:
            return None
        lit = self._literal_text(t)
        if lit is not None:
            self.next()
            return lit
        return None

    def _literal_text(self, t: tuple[str, str]) -> str | None:
        kind, val = t
        if kind in ("string", "number", "typed"):
            return val
        if kind == "word" and val.upper() in ("NULL", "TRUE", "FALSE"):
            return val.upper()
        return None

    def _parse_literal_list(self) -> list[str] | None:
        if not (self.peek() and self.peek()[0] == "lparen"):
            return None
        self.next()
        lits: list[str] = []
        while True:
            lit = self._parse_literal()
            if lit is None:
                # non-constant element disables IN pruning (reference
                # mpp_table_scan.cpp:68-84); skip to matching rparen
                depth = 1
                while depth and self.peek():
                    k = self.next()[0]
                    depth += k == "lparen"
                    depth -= k == "rparen"
                return None
            lits.append(lit)
            nxt = self.next()
            if nxt is None:
                return None
            if nxt[0] == "rparen":
                return lits
            if nxt[0] != "comma":
                return None

    def _skip_unknown(self):
        # swallow tokens until a boolean connective or rparen at depth 0
        depth = 0
        while self.peek():
            k, v = self.peek()
            if depth == 0 and (
                k == "rparen" or (k == "word" and v.upper() in ("AND", "OR"))
            ):
                break
            self.next()
            depth += k == "lparen"
            depth -= k == "rparen" and depth > 0
        return UNKNOWN


def _base_col(name: str) -> str:
    """Normalize a column ref, KEEPING any table qualifier: ``T."C0"`` →
    ``t.c0``. Qualified refs are matched against the distributed table's
    name/aliases in ``bucket_predicate`` — stripping the qualifier here would
    let a filter on a *different* relation's same-named column prune the
    distributed table (result-changing, see ADVICE r01)."""
    return ".".join(p.strip('"').lower() for p in name.split("."))


def parse_predicate(text: str):
    """Parse a WHERE-clause string into the restricted AST; None if the
    text doesn't tokenize at all."""
    toks = _tokenize(text)
    if toks is None:
        return None
    p = _Parser(toks)
    ast = p.parse_or()
    # Trailing unconsumed tokens mean the atom grammar mis-read a larger
    # expression (e.g. ``c0 = 1 + 1`` would otherwise look like ``c0 = 1``).
    # Pruning on a misparse would be WRONG, not just suboptimal — bail out.
    return ast if p.i == len(p.toks) else None


# ---------------------------------------------------------------------------
# Derived __bucket predicates
# ---------------------------------------------------------------------------


def _hash_expr(lit: str, ptype_ddl: str, buckets: int) -> str:
    if lit.upper() == "NULL":
        lit = f"CAST(NULL AS {ptype_ddl})"
    return f"pmod(hash(CAST({lit} AS {ptype_ddl})), {buckets})"


_STRING_TYPES = ("STRING", "VARCHAR", "CHAR", "TEXT")


def _literal_prunes(lit: str, ptype_ddl: str) -> bool:
    """Soundness gate for one literal against the partition-column type
    (review r4). The derived bucket is ``hash(CAST(lit AS ptype))``, which
    is only correct when every row value satisfying ``col OP lit`` under
    Spark's comparison coercion hashes to that bucket. For a STRING
    partition column compared against a NUMBER (or typed date/timestamp)
    literal, Spark casts the COLUMN side — so ``c = 5`` matches '5', '05',
    '5.0', ' 5' …, which route to different buckets than hash('5'):
    pruning (and the DML bucket selection built on it) would silently drop
    matching rows. Every other combination casts the LITERAL side to the
    column type, which is exactly the hash expression — sound."""
    if not ptype_ddl.upper().startswith(_STRING_TYPES):
        return True
    return lit.startswith("'") or lit.upper() == "NULL"


def bucket_predicate(
    ast,
    part_col: str,
    ptype_ddl: str,
    buckets: int,
    aliases: set[str] | None = None,
    qualifiers: set[str] | None = None,
) -> str | None:
    """SQL predicate over ``__bucket`` implied by ``ast``, or None.

    ``aliases``: alternative names that refer to the partition column
    (the reference resolves the partition column through projection aliases,
    ``src/include/common/expression_helper.hpp:16-34``).
    ``qualifiers``: relation names/aliases that denote the distributed table
    itself. A qualified ref (``e.c0``) only matches when its qualifier is in
    this set — the reference prunes on *bound* expressions and can never
    attribute another relation's column to the partition column; with no
    qualifier knowledge we must treat every qualified ref as foreign (no
    pruning) to stay correctness-neutral.
    """
    names = {part_col.lower()} | {a.lower() for a in (aliases or set())}
    quals = {q.lower() for q in (qualifiers or set())}

    def col_matches(col: str | None) -> bool:
        if col is None:
            return False
        # exact match first — covers struct-field partition paths (``s.a``,
        # expression_helper.hpp:23-30 struct_extract traversal parity)
        if col in names:
            return True
        parts = col.split(".")
        # qualifier-stripped match: ``t1.s.a`` → qualifier ``t1`` + ``s.a``
        if len(parts) > 1 and parts[0] in quals and ".".join(parts[1:]) in names:
            return True
        if len(parts) > 1 and parts[-2] in quals and parts[-1] in names:
            return True
        return False

    def rec(node) -> str | None:
        if isinstance(node, BoolOp):
            parts = [rec(c) for c in node.children]
            if node.op == "and":
                kept = [p for p in parts if p is not None]
                return f"({' AND '.join(kept)})" if kept else None
            # OR: every branch must prune (mpp_table_scan.cpp:110-123)
            if any(p is None for p in parts):
                return None
            return f"({' OR '.join(parts)})"
        if isinstance(node, Atom):
            if not col_matches(node.col):
                return None
            if any(not _literal_prunes(l, ptype_ddl) for l in node.literals):
                return None  # column-side coercion: hash(CAST(lit)) unsound
            if node.kind == "eq":
                return f"__bucket = {_hash_expr(node.literals[0], ptype_ddl, buckets)}"
            if node.kind == "in":
                hashes = ", ".join(_hash_expr(l, ptype_ddl, buckets) for l in node.literals)
                return f"__bucket IN ({hashes})"
            if node.kind == "isnull":
                return f"__bucket = {_hash_expr('NULL', ptype_ddl, buckets)}"
        return None

    return rec(ast)


def bucket_predicate_for_where(
    where: str | None,
    part_col: str,
    ptype_ddl: str,
    buckets: int,
    aliases: set[str] | None = None,
    qualifiers: set[str] | None = None,
) -> str | None:
    if not where:
        return None
    ast = parse_predicate(where)
    if ast is None:
        return None
    return bucket_predicate(ast, part_col, ptype_ddl, buckets, aliases, qualifiers)


def evaluate_bucket_ids(
    spark: SparkSession, bucket_pred: str | None, buckets: int
) -> list[int]:
    """Concrete surviving bucket ids for a derived ``__bucket`` predicate.

    Evaluates the predicate against the full bucket-id domain held in an
    inline ``VALUES`` relation: Catalyst's ConvertToLocalRelation folds the
    filter on the driver, so no Spark job runs — O(#buckets) driver work,
    the same in-process bind-time cost as the reference's
    ``prune_shards.cpp``. The expressions are the ones the scan's partition
    filter evaluates, so the ids match the directories a pruned scan
    reads. Used for explain output, zone-map file selection and DML bucket
    selection, never on the data path.
    """
    if bucket_pred is None:
        return list(range(buckets))
    domain = ", ".join(f"({b})" for b in range(buckets))
    rows = spark.sql(
        f"SELECT __bucket FROM VALUES {domain} AS t(__bucket) WHERE {bucket_pred}"
    ).collect()
    return sorted(r[0] for r in rows)
