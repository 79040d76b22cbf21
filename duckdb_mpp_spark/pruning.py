"""Bucket (shard) pruning and the one WHERE-predicate grammar — the one
piece of custom planner work (SURVEY §4: everything else the reference
does is built into Catalyst).

One grammar, two readers. :func:`parse_predicate` reads a WHERE text into
an AND/OR tree of comparison atoms (``=``, ``<``, ``<=``, ``>``, ``>=``,
``IN``, ``BETWEEN``, ``IS NULL``; a literal-first comparison is flipped).
An AND operand the grammar cannot read exactly — a function call,
arithmetic, ``NOT``, a column on both sides, anything trailing a
comparison, a parenthesized subquery — becomes an ``unknown`` atom for
that operand only. Comments are whitespace; text Spark may lex other
than we do (a double-quoted string, a backtick identifier, a nested
block comment) makes the whole WHERE unreadable. Each atom
keeps its literal tokens: :func:`bucket_predicate` hashes their SQL text,
``zonemap.all_bounds`` folds their values (:func:`_parse_literal_value`)
into per-column ranges. Both resolve column names through
:func:`resolve_column`.

Reference semantics for buckets (``src/function/mpp_table_scan.cpp:52-143``,
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

import datetime
import re
from dataclasses import dataclass

from pyspark.sql import SparkSession

# ---------------------------------------------------------------------------
# The predicate grammar (restricted SQL; anything else → unknown)
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<comment>--[^\n]*|/\*(?:(?!/\*)[\s\S])*?\*/)
    | (?P<unreadable>["`]|/\*)
    | (?P<string>'(?:[^'\\]|\\.|'')*')
    | (?P<typed>(?:DATE|TIMESTAMP|INTERVAL)\s+'(?:[^'\\]|\\.|'')*')
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
    """Lex a WHERE text as Spark does, or None. A comment is whitespace.
    A double-quoted string, a backtick identifier and a nested or
    unterminated block comment are unreadable: read as stray tokens they
    would let text Spark never sees as a conjunct (``v = 1 /* /* */ AND
    k = 5 */``, ``note = "a AND k = 5"``) prune buckets."""
    # rstrip: the token regex requires a non-space char after \s*, so an
    # unstripped predicate ("c0 = 1 ") would fail to tokenize and silently
    # disable pruning/skipping for a cosmetic reason (review r4)
    text = text.rstrip()
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.lastgroup == "unreadable":
            return None
        pos = m.end()
        if m.lastgroup != "comment":
            out.append((m.lastgroup, m.group(m.lastgroup)))
        if pos == m.start():  # no progress
            return None
    return out


@dataclass
class Atom:
    # "=" | "<" | "<=" | ">" | ">=" | "in" | "between" | "isnull" | "unknown"
    kind: str
    col: str | None = None
    # (token kind, SQL text) per literal: the text feeds the bucket hash,
    # _parse_literal_value the zone-map bound
    literals: tuple[tuple[str, str], ...] = ()


@dataclass
class BoolOp:
    op: str  # "and" | "or"
    children: list


UNKNOWN = Atom("unknown")
_FLIP = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}


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

    def at_boundary(self) -> bool:
        t = self.peek()
        return t is None or t[0] == "rparen" or self.at_word("AND", "OR")

    def parse_or(self):
        children = [self.parse_and()]
        while self.at_word("OR"):
            self.next()
            children.append(self.parse_and())
        return children[0] if len(children) == 1 else BoolOp("or", children)

    def parse_and(self):
        children = [self._operand()]
        while self.at_word("AND"):
            self.next()
            children.append(self._operand())
        return children[0] if len(children) == 1 else BoolOp("and", children)

    def _operand(self):
        # an atom followed by anything but AND/OR/')'/end was only the head
        # of a larger expression (``c0 = 1 + 1``): the operand is unknown
        node = self.parse_atom()
        return node if self.at_boundary() else self._skip_unknown()

    def parse_atom(self):
        t = self.peek()
        if t is None or t[0] == "rparen":
            return UNKNOWN
        if t[0] == "lparen":
            # could be a parenthesized boolean expr
            save = self.i
            self.next()
            if self.at_word("SELECT", "WITH", "VALUES", "FROM", "TABLE"):
                # a subquery: its WHERE speaks of its own relations
                self.i = save
                return self._skip_unknown()
            inner = self.parse_or()
            if self.peek() and self.peek()[0] == "rparen":
                self.next()
                return inner
            self.i = save
            return self._skip_unknown()
        if self.at_word("NOT"):
            self.next()
            self.parse_atom()
            return UNKNOWN  # NOT never prunes in the reference either
        start = self.i
        atom = self._comparison()
        if atom is None:
            # re-read the operand from its start, so the skip sees every
            # CASE and BETWEEN that owns a later AND
            self.i = start
            return self._skip_unknown()
        return atom

    def _comparison(self) -> Atom | None:
        """<col> <op> <lit> | <lit> <op> <col> | <col> IN (<lits>) |
        <col> BETWEEN <lit> AND <lit> | <col> IS NULL; None otherwise."""
        t = self.next()
        lit = self._literal(t)
        if lit is not None:
            op, col = self.next(), self.next()
            if (op and op[0] == "op" and op[1] in _FLIP and col
                    and col[0] == "word" and self._literal(col) is None):
                return Atom(_FLIP[op[1]], col[1].lower(), (lit,))
            return None
        if t[0] != "word":
            return None
        col, nxt = t[1].lower(), self.next()
        if nxt is None:
            return None
        if nxt[0] == "op":
            lit = self._parse_literal()
            return Atom(nxt[1], col, (lit,)) if nxt[1] in _FLIP and lit else None
        word = nxt[1].upper() if nxt[0] == "word" else None
        if word == "IS" and self.at_word("NULL"):
            self.next()
            return Atom("isnull", col)
        if word == "IN":
            lits = self._parse_literal_list()
            return Atom("in", col, tuple(lits)) if lits else None
        if word == "BETWEEN":
            lo = self._parse_literal()
            if lo and self.at_word("AND"):
                self.next()
                hi = self._parse_literal()
                return Atom("between", col, (lo, hi)) if hi else None
        return None

    def _parse_literal(self) -> tuple[str, str] | None:
        lit = self._literal(self.peek())
        if lit is not None:
            self.next()
        return lit

    @staticmethod
    def _literal(t: tuple[str, str] | None) -> tuple[str, str] | None:
        if t is None:
            return None
        kind, val = t
        if kind in ("string", "number", "typed"):
            return t
        if kind == "word" and val.upper() in ("NULL", "TRUE", "FALSE"):
            return kind, val.upper()
        return None

    def _parse_literal_list(self) -> list[tuple[str, str]] | None:
        # a non-constant element disables IN pruning (reference
        # mpp_table_scan.cpp:68-84)
        if not (self.peek() and self.peek()[0] == "lparen"):
            return None
        self.next()
        lits = []
        while True:
            lit = self._parse_literal()
            nxt = self.next()
            if lit is None or nxt is None:
                return None
            lits.append(lit)
            if nxt[0] == "rparen":
                return lits
            if nxt[0] != "comma":
                return None

    def _skip_unknown(self):
        """Swallow the rest of one AND/OR operand: up to a ``)``, ``AND`` or
        ``OR`` at paren depth 0 — except the AND of a BETWEEN and the
        connectives inside CASE … END, which belong to the operand."""
        depth = cases = 0
        between = False
        while self.peek():
            k, v = self.peek()
            w = v.upper() if k == "word" else None
            if depth == 0 and cases == 0:
                if k == "rparen" or w == "OR" or (w == "AND" and not between):
                    break
                if w in ("AND", "BETWEEN"):
                    between = w == "BETWEEN"
            if depth == 0 and w == "CASE":
                cases += 1
            elif depth == 0 and w == "END" and cases:
                cases -= 1
            depth += (k == "lparen") - (k == "rparen")
            self.next()
        return UNKNOWN


def resolve_column(name: str, qualifiers: set[str]) -> str:
    """The one column resolver of bucket pruning and zone maps: ``name``
    as a column path of the distributed table. An unqualified name or a
    struct path (``c0``, ``s.a``) is the table's own column; a leading
    qualifier in ``qualifiers`` (the table's name or FROM alias) is
    stripped (``t.c0`` → ``c0``). Any other qualifier names another
    relation, and the name comes back whole, so it matches neither the
    partition column nor a column stat — the reference prunes on *bound*
    expressions and never attributes another relation's column to the
    partition column (ADVICE r01)."""
    head, _, rest = name.partition(".")
    return rest if rest and head in qualifiers else name


def parse_predicate(text: str):
    """Parse a WHERE-clause string into the restricted AST; None if the
    text doesn't tokenize or has an unbalanced ``)``."""
    toks = _tokenize(text)
    if toks is None:
        return None
    p = _Parser(toks)
    ast = p.parse_or()
    return ast if p.i == len(p.toks) else None


def _parse_literal_value(kind: str, text: str):
    """SQL literal token → comparable Python value (None if unsupported)."""
    if kind == "number":
        f = float(text)
        return int(text) if f.is_integer() and "." not in text and "e" not in text.lower() else f
    if kind == "string":
        # a backslash escape is Spark's to read; no value, so no bound
        return None if "\\" in text else text[1:-1].replace("''", "'")
    if kind == "typed":
        head, _, rest = text.partition("'")
        inner = rest.rstrip()[:-1].replace("''", "'")
        t = head.strip().upper()
        try:
            if t == "DATE":
                return datetime.date.fromisoformat(inner)
            if t == "TIMESTAMP":
                return datetime.datetime.fromisoformat(inner)
        except ValueError:
            return None
    return None


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
    qualifiers: set[str] | None = None,
) -> str | None:
    """SQL predicate over ``__bucket`` implied by ``ast``, or None.

    ``qualifiers``: the names (table name, FROM alias) that denote the
    distributed table itself (see :func:`resolve_column`); with none,
    every qualified ref is another relation's and never prunes.
    """
    part = part_col.lower()
    quals = {q.lower() for q in (qualifiers or set())}

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
        if node.kind not in ("=", "in", "isnull"):
            return None
        if resolve_column(node.col, quals) != part:
            return None
        lits = [text for _kind, text in node.literals] or ["NULL"]
        if any(not _literal_prunes(l, ptype_ddl) for l in lits):
            return None  # column-side coercion: hash(CAST(lit)) unsound
        hashes = ", ".join(_hash_expr(l, ptype_ddl, buckets) for l in lits)
        return f"__bucket IN ({hashes})" if node.kind == "in" else f"__bucket = {hashes}"

    return rec(ast)


def bucket_predicate_for_where(
    where: str | None,
    part_col: str,
    ptype_ddl: str,
    buckets: int,
    qualifiers: set[str] | None = None,
) -> str | None:
    if not where:
        return None
    ast = parse_predicate(where)
    if ast is None:
        return None
    return bucket_predicate(ast, part_col, ptype_ddl, buckets, qualifiers)


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
