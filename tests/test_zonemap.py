"""Zone-map file skipping for SORT BY tables (zonemap.py + table.py).

The contract mirrors bucket pruning: skipping is an optimization derived
from conservative predicate bounds + parquet footer stats — results must be
identical with and without it, and anything unparseable must skip nothing.
"""

import datetime

import pytest

from duckdb_mpp_spark.zonemap import Bounds, all_bounds, file_overlaps
from tests.conftest import rows


# ---------------------------------------------------------------------------
# bounds extraction (pure)
# ---------------------------------------------------------------------------

def test_bounds_simple_range():
    b = all_bounds("v >= 10 AND v < 20").get("v")
    assert (b.lo, b.lo_inclusive, b.hi, b.hi_inclusive) == (10, True, 20, False)


def test_bounds_flipped_and_equality():
    b = all_bounds("5 < v").get("v")
    assert (b.lo, b.lo_inclusive, b.hi) == (5, False, None)
    b = all_bounds("v = 7").get("v")
    assert (b.lo, b.hi) == (7, 7)


def test_bounds_between_stays_whole():
    b = all_bounds("v BETWEEN 3 AND 9").get("v")
    assert (b.lo, b.hi) == (3, 9)


def test_bounds_other_columns_between_not_misattributed():
    # the AND inside another column's BETWEEN must not leak a bound onto v
    b = all_bounds("other BETWEEN 1 AND 5 AND v > 3").get("v")
    assert (b.lo, b.hi) == (3, None)


def test_bounds_or_and_unknown_conjuncts_ignored():
    assert all_bounds("v > 5 OR x = 2").get("v") is None
    b = all_bounds("f(v) = 3 AND v <= 8").get("v")
    assert (b.lo, b.hi) == (None, 8)


def test_bounds_qualified_refs():
    assert all_bounds("t.v > 5", {"t"}).get("v") is not None
    # a different relation's same-named column must not constrain
    assert all_bounds("e.v > 5", {"t"}).get("v") is None


def test_bounds_date_literals():
    b = all_bounds("d >= DATE '1994-01-01' AND d < DATE '1995-01-01'").get("d")
    assert b.lo == datetime.date(1994, 1, 1)
    assert b.hi == datetime.date(1995, 1, 1) and not b.hi_inclusive


def test_datetime_stat_vs_date_bound_not_truncated():
    """ADVICE r2 (high): a DATE literal bound compares against a TIMESTAMP
    column at midnight (Spark's cast), so a datetime footer stat must be
    compared at datetime resolution. Truncating fmax 2024-01-02 23:00 to the
    date 2024-01-02 made `ts > DATE '2024-01-02'` skip a file whose intraday
    rows satisfy the predicate."""
    b = all_bounds("ts > DATE '2024-01-02'").get("ts")
    assert file_overlaps(
        datetime.datetime(2024, 1, 2, 1), datetime.datetime(2024, 1, 2, 23), b
    )
    # a file entirely before midnight IS provably disjoint
    assert not file_overlaps(
        datetime.datetime(2024, 1, 1, 0), datetime.datetime(2024, 1, 1, 23), b
    )
    # inclusive bound: rows at exactly midnight qualify, intraday too
    b = all_bounds("ts >= DATE '2024-01-02'").get("ts")
    assert file_overlaps(
        datetime.datetime(2024, 1, 2, 1), datetime.datetime(2024, 1, 2, 23), b
    )
    # string-typed stats with datetime shape: same promotion, no [:10] cut
    b = all_bounds("ts > DATE '2024-01-02'").get("ts")
    assert file_overlaps("2024-01-02 01:00:00", "2024-01-02 23:00:00", b)
    # DATE column vs TIMESTAMP literal: date stat promotes to midnight
    b = all_bounds("d > TIMESTAMP '2024-01-02 05:00:00'").get("d")
    assert not file_overlaps(
        datetime.date(2024, 1, 1), datetime.date(2024, 1, 2), b
    )
    assert file_overlaps(datetime.date(2024, 1, 2), datetime.date(2024, 1, 3), b)


def test_large_int_bounds_compared_exactly():
    """ADVICE r2 (low): int64 stats above 2^53 must not collapse under a
    float cast — two distinct ints rounding to the same float could prove a
    false 'disjoint'."""
    lo = 2**55 + 1
    b = all_bounds(f"v > {lo}").get("v")
    assert b.lo == lo and not b.lo_inclusive
    # fmax = lo+1 > lo: file overlaps; float(lo+1) == float(lo) would skip it
    assert file_overlaps(2**55 - 10, lo + 1, b)
    assert not file_overlaps(2**55 - 10, lo, b)


def test_file_overlaps_is_conservative():
    b = Bounds(lo=10, lo_inclusive=True, hi=20, hi_inclusive=False)
    assert not file_overlaps(1, 9, b)       # entirely below
    assert not file_overlaps(20, 30, b)     # at exclusive upper bound
    assert file_overlaps(19, 25, b)         # straddles
    assert file_overlaps(None, None, b)     # no stats → keep
    assert file_overlaps("a", "z", b)       # incomparable types → keep


# ---------------------------------------------------------------------------
# end-to-end on a distributed table
# ---------------------------------------------------------------------------

@pytest.fixture()
def sorted_table(spark, mpp):
    tbl = mpp.create_distributed_table(
        "m", "k INT, v INT, grp INT", "grp", 4, sort_column="v"
    )
    # three range-disjoint ingests → 3 file generations per bucket with
    # disjoint v ranges (the time-partitioned-ingest pattern)
    df = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS INT) AS v", "CAST(id % 17 AS INT) AS grp"
    )
    for lo in (0, 100, 200):
        tbl.insert(df.where(f"v >= {lo} AND v < {lo + 100}"))
    return tbl


def test_sorted_scan_matches_full_scan(sorted_table):
    got = rows(sorted_table.scan(where="v >= 150 AND v < 160"), "k")
    assert [r[1] for r in got] == list(range(150, 160))
    assert sorted_table.last_file_skip is not None
    kept, total = sorted_table.last_file_skip
    assert total == 12 and kept <= 4  # one generation of files survives


def test_zonemap_composes_with_bucket_pruning(sorted_table):
    got = rows(sorted_table.scan(where="grp = 3 AND v BETWEEN 100 AND 199"), "k")
    assert [r[1] for r in got] == [105, 122, 139, 156, 173, 190]  # v % 17 == 3
    kept, total = sorted_table.last_file_skip
    assert kept <= 1  # one bucket × one file generation


def test_unparseable_predicate_skips_nothing(sorted_table):
    got = rows(sorted_table.scan(where="v + 0 >= 290"), "k")
    assert len(got) == 10
    assert sorted_table.last_file_skip is None  # no bounds → no zonemap pass


def test_empty_result_when_all_files_skipped(sorted_table):
    got = rows(sorted_table.scan(where="v > 1000"))
    assert got == []


def test_ddl_sort_by_round_trip(spark, mpp):
    mpp.sql(
        "CREATE TABLE s(a INT, d DATE) PARTITION BY (a) WITH BUCKETS 2 SORT BY (d)"
    )
    assert mpp.catalog.get("s").sort_column == "d"
    mpp.sql("INSERT INTO s VALUES (1, DATE '2024-01-01'), (2, DATE '2024-06-01')")
    got = rows(mpp.sql("SELECT a FROM s WHERE d >= DATE '2024-03-01'"))
    assert got == [(2,)]


def test_sort_by_rejects_unknown_or_colocated(mpp):
    with pytest.raises(ValueError):
        mpp.create_distributed_table("x1", "a INT", "a", 2, sort_column="nope")
    with pytest.raises(ValueError):
        mpp.create_distributed_table(
            "x2", "a INT", "a", 2, colocated=True, sort_column="a"
        )


def test_explain_reports_file_skip(sorted_table):
    text = sorted_table.explain(where="v BETWEEN 0 AND 50")
    assert "Files: " in text


def test_compact_preserves_clustering(sorted_table):
    sorted_table.compact()
    got = rows(sorted_table.scan(where="v >= 10 AND v < 12"), "k")
    assert [r[1] for r in got] == [10, 11]
    # after compact each bucket is one file covering its full value range —
    # only buckets provably missing [10, 12) may still be skipped
    kept, total = sorted_table.last_file_skip
    assert total == 4 and 1 <= kept <= 4


# ---------------------------------------------------------------------------
# property-based soundness: a skipped file can never contain a matching row
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False


if _HAVE_HYP:

    _comparisons = st.sampled_from(["=", "<", "<=", ">", ">="])
    _vals = st.integers(min_value=-50, max_value=50)

    @st.composite
    def _conjuncts(draw):
        kind = draw(
            st.sampled_from(["cmp", "cmp_flipped", "between", "in", "noise"])
        )
        v = draw(_vals)
        if kind == "cmp":
            return f"v {draw(_comparisons)} {v}"
        if kind == "in":
            vals = draw(st.lists(_vals, min_size=1, max_size=4))
            return f"v IN ({', '.join(map(str, vals))})"
        if kind == "cmp_flipped":
            return f"{v} {draw(_comparisons)} v"
        if kind == "between":
            hi = draw(_vals)
            return f"v BETWEEN {min(v, hi)} AND {max(v, hi)}"
        return draw(
            st.sampled_from(
                [f"other = {v}", f"other BETWEEN {v} AND {v + 3}", f"f(v) > {v}"]
            )
        )

    def _row_matches(where: str, v: int) -> bool:
        """Brute-force evaluation of the conjunctive predicate for column v.
        Exact for every v-conjunct; noise conjuncts (other columns,
        functions) evaluate True — the most permissive reading, which is
        exactly what soundness must survive."""
        import re as _re

        ok = True
        # v BETWEEN a AND b handled whole, then removed so the AND splitter
        # can't cut it apart
        def _btw(m):
            nonlocal ok
            ok &= int(m.group(1)) <= v <= int(m.group(2))
            return "1 = 1"

        where = _re.sub(r"\bv BETWEEN (-?\d+) AND (-?\d+)", _btw, where)

        def _in(m):
            nonlocal ok
            ok &= v in {int(x) for x in m.group(1).split(",")}
            return "1 = 1"

        where = _re.sub(r"\bv IN \(([-\d, ]+)\)", _in, where)
        for conj in _re.split(r"\bAND\b", where):
            conj = conj.strip()
            m = _re.fullmatch(r"v (=|<|<=|>|>=) (-?\d+)", conj)
            if m:
                op, lit = m.group(1), int(m.group(2))
                ok &= eval(f"v {'==' if op == '=' else op} lit")
                continue
            m = _re.fullmatch(r"(-?\d+) (=|<|<=|>|>=) v", conj)
            if m:
                lit, op = int(m.group(1)), m.group(2)
                ok &= eval(f"lit {'==' if op == '=' else op} v")
                continue
            # noise conjunct → True
        return ok

    @given(
        conjs=st.lists(_conjuncts(), min_size=1, max_size=4),
        fmin=_vals,
        fspan=st.integers(min_value=0, max_value=20),
        probe=st.integers(min_value=0, max_value=20),
    )
    @settings(max_examples=300, deadline=None)
    def test_skipped_file_has_no_matching_row(conjs, fmin, fspan, probe):
        where = " AND ".join(conjs)
        bounds = all_bounds(where).get("v")
        if bounds is None:
            return  # no skipping — trivially sound
        fmax = fmin + fspan
        v = fmin + (probe % (fspan + 1))  # a row value inside the file
        if not file_overlaps(fmin, fmax, bounds):
            # file skipped → NO v in [fmin, fmax] may satisfy the predicate
            assert not _row_matches(where, v), (where, fmin, fmax, v)


def test_dml_rewrite_preserves_clustering(sorted_table, mpp):
    """COW UPDATE on a SORT BY table re-clusters rewritten buckets, so zone
    maps stay selective after DML."""
    from duckdb_mpp_spark import dml

    # prunable predicate → only grp=3's bucket is rewritten; other buckets
    # keep their 3 range-disjoint generations
    dml.update(sorted_table, {"k": "k + 1000"}, "grp = 3 AND v = 156")
    got = rows(sorted_table.scan(where="v >= 156 AND v < 158"), "v")
    assert [r[0] for r in got] == [1156, 157]
    # zone maps must still skip: unrewritten buckets' off-range generations
    # are provably disjoint from the narrow scan
    kept, total = sorted_table.last_file_skip
    assert kept < total


def test_frontdoor_select_uses_zonemap_and_explain_reports_files(spark, mpp):
    mpp.sql(
        "CREATE TABLE fd(a INT, v INT) PARTITION BY (a) WITH BUCKETS 2 SORT BY (v)"
    )
    df = spark.range(200).selectExpr("CAST(id % 7 AS INT) AS a", "CAST(id AS INT) AS v")
    tbl = mpp.table("fd")
    for lo in (0, 100):
        tbl.insert(df.where(f"v >= {lo} AND v < {lo + 100}"))
    got = rows(mpp.sql("SELECT v FROM fd WHERE v >= 150 AND v < 153"))
    assert sorted(r[0] for r in got) == [150, 151, 152]
    text = mpp.sql("EXPLAIN SELECT v FROM fd WHERE v >= 150 AND v < 153")
    assert "Files: 2/4" in text, text


def test_bounds_in_list_envelope():
    b = all_bounds("v IN (7, 3, 12)").get("v")
    assert (b.lo, b.hi) == (3, 12)
    # non-literal element → no envelope from this conjunct
    assert all_bounds("v IN (3, x)").get("v") is None
    # other column's IN must not constrain
    assert all_bounds("w IN (3, 5)").get("v") is None


def test_all_column_skipping_without_sort_by(spark, mpp):
    """r4: manifest carries per-column min/max (Iceberg column stats), so
    range-disjoint APPENDS skip files on any predicate column — no SORT BY
    declaration required."""
    tbl = mpp.create_distributed_table("zc", "k INT, v INT, grp INT", "grp", 2)
    df = spark.range(300).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS INT) AS v", "CAST(id % 2 AS INT) AS grp"
    )
    for lo in (0, 100, 200):  # three range-disjoint generations on v
        tbl.insert(df.where(f"v >= {lo} AND v < {lo + 100}"))
    got = sorted(r[0] for r in tbl.scan(where="v >= 150 AND v < 155").select("k").collect())
    assert got == [150, 151, 152, 153, 154]
    kept, total = tbl.last_file_skip
    n_files = len(tbl.snapshot_files())
    assert total == n_files          # no bucket pruning in this query
    assert kept == n_files // 3      # only the middle generation overlaps


def test_multi_column_conjunct_skipping(spark, mpp):
    """A conjunct on a second column composes: a file must overlap EVERY
    bounded column's range to be read."""
    tbl = mpp.create_distributed_table(
        "zm2", "k INT, v INT, grp INT", "grp", 2, sort_column="v"
    )
    df = spark.range(200).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS INT) AS v", "CAST(id % 2 AS INT) AS grp"
    )
    tbl.insert(df.where("v < 100"))    # gen A: v in [0,99],  k in [0,99]
    tbl.insert(df.where("v >= 100"))   # gen B: v in [100,199], k in [100,199]
    # v-bound alone keeps gen A; the k-bound excludes it too → zero files
    tbl.scan(where="v < 100 AND k >= 150").collect()
    kept, total = tbl.last_file_skip
    assert total == len(tbl.snapshot_files()) and kept == 0
    # sanity: the un-skipped query still returns complete results
    assert tbl.scan(where="v < 100 AND k >= 50").count() == 50


def test_all_bounds_ignores_col_vs_col_and_keywords():
    b = all_bounds("a < b AND c = 5 AND d IS NOT NULL AND e LIKE 'x%'", set())
    assert set(b) == {"c"}
    assert b["c"].lo == 5 and b["c"].hi == 5
    # flipped literal side and qualified references
    b2 = all_bounds("10 <= t.k AND t.k < 20", {"t"})
    assert b2["k"].lo == 10 and b2["k"].lo_inclusive
    assert b2["k"].hi == 20 and not b2["k"].hi_inclusive


def test_bounds_or_precedence_disables_all():
    """review r4: AND binds tighter than OR, so `x = 10 AND v > 5 OR b = 1`
    is a DISJUNCTION — no comparison in it is a required conjunct and no
    bound may be derived from any of them."""
    assert all_bounds("x = 10 AND v > 5 OR b = 1").get("v") is None
    assert all_bounds("v > 5 AND x = 1 OR v < 2").get("v") is None
    # a parenthesized OR under a top-level AND stays one ignorable conjunct
    b = all_bounds("(a > 5 OR b = 1) AND v = 10").get("v")
    assert (b.lo, b.hi) == (10, 10)


def test_mixed_type_conjuncts_do_not_crash():
    """review r4: `v > 5 AND v > '7'` is legal SQL (Spark coerces) — bounds
    extraction must degrade to no-skipping, not raise TypeError."""
    assert all_bounds("v > 5 AND v > '7'").get("v") is None
    assert all_bounds("v = 5 AND v = DATE '2024-01-02'").get("v") is None


def test_file_overlaps_naive_vs_aware_keeps_file():
    """review r4: tz-aware bound vs naive file stats must keep the file,
    not crash the scan."""
    aware = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    assert file_overlaps(
        datetime.datetime(2023, 1, 1), datetime.datetime(2023, 12, 31),
        Bounds(lo=aware),
    )
    assert file_overlaps(
        datetime.datetime(2023, 1, 1, tzinfo=datetime.timezone.utc),
        datetime.datetime(2023, 12, 31, tzinfo=datetime.timezone.utc),
        Bounds(hi=datetime.datetime(2024, 1, 1)),
    )


def test_file_overlaps_reads_naive_bounds_in_the_session_zone():
    """Against aware (UTC-adjusted TIMESTAMP) stats, a naive TIMESTAMP or
    DATE bound, or an ISO date string, is a wall time in the session zone."""
    from zoneinfo import ZoneInfo

    utc = datetime.timezone.utc
    # the file spans 2024-01-01 00:00 .. 2024-01-01 20:00 UTC
    fmin = datetime.datetime(2024, 1, 1, 0, tzinfo=utc)
    fmax = datetime.datetime(2024, 1, 1, 20, tzinfo=utc)
    tokyo, new_york = ZoneInfo("Asia/Tokyo"), ZoneInfo("America/New_York")
    # 16:00 is 07:00 UTC in Tokyo (inside the file), 21:00 UTC in New York
    late = Bounds(lo=datetime.datetime(2024, 1, 1, 16))
    assert file_overlaps(fmin, fmax, late, tokyo)
    assert not file_overlaps(fmin, fmax, late, new_york)
    assert file_overlaps(fmin, fmax, late)  # no zone: kept
    # midnight 2024-01-02 is 15:00 UTC on 2024-01-01 in Tokyo, and 05:00
    # UTC on 2024-01-02 in New York
    for day in (datetime.date(2024, 1, 2), "2024-01-02"):
        assert file_overlaps(fmin, fmax, Bounds(lo=day), tokyo)
        assert not file_overlaps(fmin, fmax, Bounds(lo=day), new_york)


def test_nested_leaf_stats_do_not_pose_as_top_level_column(spark, mpp):
    """A parquet footer names a struct field's stats by the leaf alone:
    ``st.x`` must not stand in for the top-level ``x`` it shadows."""
    # a range, not a local relation: the Spark write, which keeps leaf stats
    df = spark.range(1).selectExpr(
        "1 AS k", "5 AS x", "named_struct('x', 1) AS st"
    )
    tbl = mpp.create_distributed_table("nl", df.schema, "k", 2)
    tbl.insert(df)
    (ent,) = tbl.snapshot_files().values()
    assert set(ent["cols"]) == {"k", "x"}
    assert rows(tbl.scan(where="x > 1"), "k") == [(1, 5, (1,))]


def test_or_predicate_returns_all_matching_rows(sorted_table):
    """End-to-end review-r4 case: WHERE v = <in-file-A> AND k >= 0 OR
    v = <in-file-B> must return rows from BOTH files (the old bounds
    merge skipped everything outside the first conjunct's range)."""
    got = rows(sorted_table.scan(where="v = 10 AND k >= 0 OR v = 250"), "v")
    assert [r[1] for r in got] == [10, 250]


def test_timestamp_sort_by_skips_files(spark, mpp):
    """A TIMESTAMP SORT BY column skips files: staged writes store
    TIMESTAMP as UTC-adjusted INT64 microseconds, whose footers carry the
    min/max that INT96 lacks, and a naive literal is read in the session
    time zone before it meets those aware stats. Every read returns the
    unpruned view's rows, in zones on both sides of UTC."""
    from duckdb_mpp_spark.session import conf_guard

    tbl = mpp.create_distributed_table(
        "tsz", "k INT, ts TIMESTAMP", "k", 4, sort_column="ts"
    )
    hours = spark.range(200).selectExpr(
        "CAST(id AS INT) AS k",
        "timestampadd(HOUR, id, TIMESTAMP '2024-01-01 00:00:00') AS ts",
    )
    # two range-disjoint loads: k 0-99 end at 2024-01-05 03:00 UTC
    for lo in (0, 100):
        tbl.insert(hours.where(f"k >= {lo} AND k < {lo + 100}"))
    assert all(e["min"] is not None for e in tbl.snapshot_files().values())
    unpruned = tbl._read_files(tbl.snapshot_files())
    cases = [
        ("UTC", "ts >= TIMESTAMP '2024-01-06 00:00:00'"),
        ("UTC", "ts < '2024-01-03'"),
        ("UTC", "ts BETWEEN DATE '2024-01-07' AND DATE '2024-01-08'"),
        # 11:00 in Tokyo is 02:00 UTC: k = 99 (03:00 UTC) is in the first
        # load, which a literal read as UTC would skip whole
        ("Asia/Tokyo", "ts > TIMESTAMP '2024-01-05 11:00:00'"),
        # 23:00 in New York is 04:00 UTC the next day: the first load is out
        ("America/New_York", "ts > TIMESTAMP '2024-01-04 23:00:00'"),
    ]
    for zone, where in cases:
        with conf_guard(spark, {"spark.sql.session.timeZone": zone}):
            got = rows(tbl.scan(where=where), "k")
            kept, total = tbl.last_file_skip
            assert got == rows(unpruned.where(where).select("k", "ts"), "k"), where
        assert kept < total, (zone, where, kept, total)
    assert "Files: " in mpp.sql(
        "EXPLAIN SELECT k FROM tsz WHERE ts >= TIMESTAMP '2024-01-06 00:00:00'"
    )
