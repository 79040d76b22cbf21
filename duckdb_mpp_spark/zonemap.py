"""Zone-map file skipping: the stat side.

Tables declared with ``SORT BY (col)`` keep each written file clustered on
the sort column, and every committed file carries Iceberg-style per-column
min/max stats in the snapshot manifest (``manifest.py``), so the stats are
*file-level* zone maps: a range predicate can skip whole files before
Spark ever schedules a task for them. This is the same design as
Iceberg/Delta data skipping (manifest min/max per file) and the reference's
DuckDB zone maps (row-group min/max), lifted to the bucket-directory layout.

Division of labor with the engine: Spark already prunes *row groups* via
pushed filters once a file is opened; file-level skipping removes the file
from the scan plan entirely — fewer tasks, fewer footer opens, and on object
storage fewer GETs.

This module owns the stat side only: :class:`Bounds`, and
:func:`file_overlaps` with its coercion rules. The predicate side is the
one grammar in ``pruning.py``; :func:`all_bounds` folds its top-level AND
atoms into per-column bounds.

Correctness contract (same as ``pruning.py``): skipping is an OPTIMIZATION,
never a filter. Only AND-conjuncts the grammar reads exactly (``col OP
literal``, ``literal OP col``, ``col BETWEEN a AND b``, ``col IN (...)``)
tighten a range; anything else is ignored, which can only keep extra files.
A file is skipped only when its stats PROVE it disjoint from the bound;
missing/untyped stats keep the file.
"""

from __future__ import annotations

import datetime
import re
from dataclasses import dataclass

from duckdb_mpp_spark.pruning import (
    BoolOp,
    _parse_literal_value,
    parse_predicate,
    resolve_column,
)

@dataclass
class Bounds:
    """Closed/open interval on the sort column. ``None`` end = unbounded."""

    lo: object | None = None
    lo_inclusive: bool = True
    hi: object | None = None
    hi_inclusive: bool = True
    # Set when two conjuncts constrained the same column with incomparable
    # literal types (``x > 5 AND x > '7'`` — legal SQL, Spark coerces).
    # Such bounds are dropped entirely: skipping must degrade to a full
    # scan, never crash the query (review r4).
    invalid: bool = False

    def tighten_lo(self, v, inclusive: bool) -> None:
        try:
            if self.lo is None or v > self.lo or (v == self.lo and not inclusive):
                self.lo, self.lo_inclusive = v, inclusive
        except TypeError:
            self.invalid = True

    def tighten_hi(self, v, inclusive: bool) -> None:
        try:
            if self.hi is None or v < self.hi or (v == self.hi and not inclusive):
                self.hi, self.hi_inclusive = v, inclusive
        except TypeError:
            self.invalid = True

    @property
    def constrained(self) -> bool:
        return not self.invalid and (self.lo is not None or self.hi is not None)


def _instant(v, tz):
    """Bound ``v`` as Spark compares it with a UTC-adjusted TIMESTAMP
    column, whose footer stats are aware datetimes: a naive TIMESTAMP or
    DATE literal, or an ISO date string, is a wall time in the session
    time zone ``tz`` (None: left naive, so the aware stat keeps its file).
    Other values stay as they are."""
    if isinstance(v, str):
        try:
            v = datetime.datetime.fromisoformat(v)
        except ValueError:
            return v
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        v = datetime.datetime.combine(v, datetime.time.min)
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=tz)
    return v


def session_zone(spark):
    """The zone Spark reads a naive TIMESTAMP literal in
    (``spark.sql.session.timeZone``), or None when it is not an IANA name
    Python knows (a fixed offset such as ``+08:00``)."""
    from zoneinfo import ZoneInfo

    try:
        return ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    except (KeyError, ValueError):  # ZoneInfoNotFoundError is a KeyError
        return None


def _conjuncts(node):
    """The atoms every row must satisfy: ``node`` itself, or the operands
    of its (nested) ANDs. An OR yields nothing — no single branch is
    required, so deriving bounds from one would skip files that satisfy
    another (review r4: wrong results)."""
    if isinstance(node, BoolOp):
        if node.op == "and":
            for child in node.children:
                yield from _conjuncts(child)
        return
    yield node


def _interval(atom):
    """(lo, lo_inclusive, hi, hi_inclusive) of one atom's literal values;
    None when the atom bounds nothing. An IN list gives its [min, max]
    envelope: files outside it can't hold any listed value; exact
    membership is left to the engine's filter."""
    vals = [_parse_literal_value(k, t) for k, t in atom.literals]
    if atom.kind == "in":
        if None in vals:
            return None  # non-literal element → no envelope
        try:
            return min(vals), True, max(vals), True
        except TypeError:
            return None  # mixed-type list → incomparable
    if atom.kind == "between":
        return vals[0], True, vals[1], True
    v = vals[0] if vals else None
    return {
        "=": (v, True, v, True),
        ">": (v, False, None, True),
        ">=": (v, True, None, True),
        "<": (None, True, v, False),
        "<=": (None, True, v, True),
    }.get(atom.kind)


def all_bounds(
    where: str | None, qualifiers: set[str] | None = None
) -> dict[str, Bounds]:
    """Conservative per-column bounds implied by ``where`` — the data-
    skipping predicate analysis over EVERY column (r4, Iceberg-style
    column stats in the manifest).

    Returns {column_name_lower: Bounds} for columns with a usable
    constraint, folded from the top-level AND atoms of
    ``pruning.parse_predicate``. A top-level OR gives {}; operands that
    aren't a literal comparison on a column of this table (ORs,
    functions, col-vs-col, another relation's column) are ignored — they
    can only narrow the result further, so ignoring them keeps skipping
    sound."""
    ast = parse_predicate(where) if where else None
    if ast is None:
        return {}
    quals = {q.lower() for q in (qualifiers or set())}
    out: dict[str, Bounds] = {}
    for atom in _conjuncts(ast):
        iv = _interval(atom)
        if iv is None:
            continue
        lo, lo_inclusive, hi, hi_inclusive = iv
        b = out.setdefault(resolve_column(atom.col, quals), Bounds())
        if lo is not None:
            b.tighten_lo(lo, lo_inclusive)
        if hi is not None:
            b.tighten_hi(hi, hi_inclusive)
    return {c: b for c, b in out.items() if b.constrained}


def _coerce(stat, bound, tz=None):
    """Coerce a parquet stat and a parsed literal to comparable types;
    returns (stat, bound) or None when incomparable (→ keep the file).
    ``tz`` is the session time zone a naive bound is read in against an
    aware (UTC-adjusted TIMESTAMP) stat."""
    import datetime as _dt

    if stat is None or bound is None:
        return None
    if isinstance(stat, _dt.datetime) and stat.tzinfo is not None:
        bound = _instant(bound, tz)
    if isinstance(stat, (int, float)) and isinstance(bound, (int, float)):
        # compare as-is: Python's int/float comparison is exact, while a
        # float cast collapses distinct int64 values above 2^53 and could
        # prove a false "disjoint"
        return stat, bound
    if isinstance(stat, bytes):
        try:
            stat = stat.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(stat, str) and isinstance(bound, str):
        return stat, bound
    if isinstance(stat, _dt.datetime) and isinstance(bound, _dt.datetime):
        # a naive/aware mix left over (no usable session zone, or a naive
        # stat against an aware bound) is incomparable in Python — keep
        # the file rather than crash the scan (review r4)
        if (stat.tzinfo is None) != (bound.tzinfo is None):
            return None
        return stat, bound
    if isinstance(stat, _dt.date) and isinstance(bound, _dt.date):
        # datetime vs date mixes: promote the pure-date side to a midnight
        # datetime — Spark casts DATE to TIMESTAMP at 00:00, so this is the
        # value the engine actually compares. Truncating the datetime side
        # to a date instead is UNSOUND for the lo/fmax check: a file with
        # fmax 2024-01-02 23:00 truncates to 2024-01-02 == lo and an
        # exclusive `ts > DATE '2024-01-02'` would skip it even though its
        # intraday rows satisfy the predicate.
        if isinstance(stat, _dt.datetime) and not isinstance(bound, _dt.datetime):
            return stat, _dt.datetime.combine(bound, _dt.time.min)
        if isinstance(bound, _dt.datetime) and not isinstance(stat, _dt.datetime):
            return _dt.datetime.combine(stat, _dt.time.min), bound
        return stat, bound
    if isinstance(stat, str) and isinstance(bound, _dt.date):
        # same promotion rule for string-typed stats: a datetime-shaped stat
        # string must not be truncated to its date prefix on the lo side.
        # No .strip(): a whitespace-padded stat is non-canonical and must
        # never parse here (file_overlaps refuses the skip first, but this
        # branch stays strict on its own — review r7)
        try:
            s = stat
            if len(s) > 10:
                sdt = _dt.datetime.fromisoformat(s)
                bdt = (
                    bound
                    if isinstance(bound, _dt.datetime)
                    else _dt.datetime.combine(bound, _dt.time.min)
                )
                return sdt, bdt
            sd = _dt.date.fromisoformat(s)
            if isinstance(bound, _dt.datetime):
                return _dt.datetime.combine(sd, _dt.time.min), bound
            return sd, bound
        except ValueError:
            return None
    if isinstance(stat, _dt.date) and isinstance(bound, str):
        # DATE/TIMESTAMP column compared against a bare string literal
        try:
            if isinstance(stat, _dt.datetime):
                return stat, _dt.datetime.fromisoformat(bound)
            return stat, _dt.date.fromisoformat(bound[:10])
        except ValueError:
            return None
    return None


_CANON_DATE_RE = re.compile(
    r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2}(\.\d{1,9})?)?"
)


def _canonical_temporal_stat(s) -> bool:
    """True when a STRING column stat is in strict canonical ISO form
    (zero-padded, no surrounding whitespace/sign). Only then is the
    column's lexicographic min/max order consistent with Spark's lenient
    string→date/timestamp cast for every castable value the stats bound:
    any leading-whitespace / '+' form sorts below all digit-leading
    strings (it would BE fmin), and unpadded-month/day or bare-prefix
    forms sort outside a canonical [fmin, fmax] (they would BE a stat) —
    so requiring BOTH stats canonical excludes every non-monotone form
    from the file (review r7: lexicographic fmax ' 2024-05-01'-style
    stats previously stripped+parsed, skipping files whose
    whitespace-prefixed rows cast ABOVE the bound — wrong results)."""
    if isinstance(s, bytes):
        try:
            s = s.decode("utf-8")
        except UnicodeDecodeError:
            return False
    if not isinstance(s, str):
        return True  # natively-typed stats don't take the string path
    return bool(_CANON_DATE_RE.fullmatch(s))


def file_overlaps(fmin, fmax, bounds: Bounds, tz=None) -> bool:
    """True unless the footer stats PROVE the file disjoint from bounds.
    ``tz`` is the session time zone (:func:`session_zone`) naive bounds
    are read in against aware stats. Any comparison that raises (types
    _coerce paired but Python still can't order) keeps the file —
    skipping degrades, never crashes."""
    if isinstance(bounds.lo, datetime.date) or isinstance(
        bounds.hi, datetime.date
    ):
        # temporal bound over a string-statted column: both stats must be
        # strictly canonical or no skip is sound (see helper docstring)
        if isinstance(fmin, (str, bytes)) or isinstance(fmax, (str, bytes)):
            if not (
                _canonical_temporal_stat(fmin)
                and _canonical_temporal_stat(fmax)
            ):
                return True
    try:
        if bounds.lo is not None:
            c = _coerce(fmax, bounds.lo, tz)
            if c is not None:
                fmx, lo = c
                if fmx < lo or (fmx == lo and not bounds.lo_inclusive):
                    return False
        if bounds.hi is not None:
            c = _coerce(fmin, bounds.hi, tz)
            if c is not None:
                fmn, hi = c
                if fmn > hi or (fmn == hi and not bounds.hi_inclusive):
                    return False
    except TypeError:
        return True
    return True
