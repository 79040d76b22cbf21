"""Regression tests for the second r7 review pass (corpus / events /
substrings / zonemap — the layers without a deep review since r4).

Each test reproduces the reviewed failure scenario on crafted frames the
null-free fixtures can never exercise, and — where the finding was a
cross-dialect divergence — runs the exact gate SQL on BOTH engines.
"""

import datetime

import duckdb
import pytest

import duckdb_mpp_spark.queries.events  # noqa: F401 — populates REGISTRY
from pyspark.sql import functions as F

from duckdb_mpp_spark.queries import REGISTRY
from duckdb_mpp_spark.zonemap import Bounds, file_overlaps


def _key(t):
    # None-safe total order, same recipe as the driver's comparator
    return tuple((x is None, str(type(x)), str(x)) for x in t)


def _duck_rows(con, sql):
    res = con.execute(sql)
    return [tuple(r) for r in res.fetchall()]


def _both(spark, con, name, frames, shadow, sf_dir=None):
    """Run REGISTRY[name]'s Spark side and oracle on the same crafted
    frames (registered via the shadow_views fixture so the real tables
    come back after the test / DuckDB tables); return both row lists
    sorted. Callable gates (r9: size-switched final orders) read the
    crafted frames through the shadowed views too; ``sf_dir`` supplies
    the parquet layout they consult for plan-size switches."""
    q = REGISTRY[name]
    for tbl, df in frames.items():
        shadow(tbl, df)
        con.register(tbl, df.toPandas())
    if callable(q.spark):
        sdf = q.spark(spark, sf_dir)
    else:
        sdf = spark.sql(q.spark)
    s = sorted((tuple(r) for r in sdf.collect()), key=_key)
    d = sorted(_duck_rows(con, q.oracle_sql()), key=_key)
    return s, d


# --- zonemap: string-stat temporal coercion soundness ----------------------

def test_noncanonical_string_stats_never_skip():
    # the review repro: lexicographic fmin ' 2024-12-01' (leading space),
    # fmax '2024-05-01'; predicate >= 2024-06-01. The file CONTAINS a
    # matching row (' 2024-12-01' casts to 2024-12-01) — must keep.
    b = Bounds(lo=datetime.date(2024, 6, 1), lo_inclusive=True,
               hi=None, hi_inclusive=True)
    assert file_overlaps(" 2024-12-01", "2024-05-01", b) is True
    # bytes-typed stats take the same guard
    assert file_overlaps(b" 2024-12-01", b"2024-05-01", b) is True


def test_canonical_string_stats_still_skip():
    b = Bounds(lo=datetime.date(2024, 6, 1), lo_inclusive=True,
               hi=None, hi_inclusive=True)
    # canonical, provably below the bound → skip is sound and taken
    assert file_overlaps("2024-01-01", "2024-05-01", b) is False
    # canonical timestamp-shaped stats skip too
    assert file_overlaps(
        "2024-01-01 00:00:00", "2024-05-01 23:59:59", b
    ) is False
    # string bound (no temporal coercion) keeps plain lexicographic skip
    sb = Bounds(lo="2024-06-01", lo_inclusive=True, hi=None,
                hi_inclusive=True)
    assert file_overlaps("2024-01-01", "2024-05-01", sb) is False


# --- substrings: empty-doc span parity -------------------------------------

def test_span_oracle_skips_zero_token_docs(spark):
    from duckdb_mpp_spark.operators.substrings import (
        _SPAN_ORACLE,
        duplicated_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
            (3, "   "),        # whitespace-only: zero tokens
            (4, None),          # NULL text: zero tokens
            (5, ""),            # empty: zero tokens
        ],
        "doc_id bigint, text string",
    )
    got = sorted(
        (tuple(r) for r in duplicated_span_stats(docs).collect()), key=_key
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(_duck_rows(con, _SPAN_ORACLE), key=_key)
    assert got == want
    assert {r[0] for r in got} == {1, 2}  # dead docs emit NO span rows


def test_tfidf_matches_oracle_on_crafted_docs(spark):
    from duckdb_mpp_spark.operators.substrings import (
        _KEYWORD_ORACLE,
        tfidf_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha beta gamma"),
            (2, "beta beta gamma delta"),
            (3, None),
            (4, "epsilon"),
        ],
        "doc_id bigint, text string",
    )
    got = sorted((tuple(r) for r in tfidf_keywords(docs).collect()), key=_key)
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(_duck_rows(con, _KEYWORD_ORACLE), key=_key)
    assert got == want and len(got) > 0


def test_span_and_tfidf_plans_have_no_window_on_content_key(spark):
    """The df/n_docs attachment must be a join (streams a hot key), not a
    WindowExec buffering one gram/token's rows in a single task."""
    from duckdb_mpp_spark.operators.substrings import (
        duplicated_span_stats,
        tfidf_keywords,
    )

    # multi-char tokens: single letters fall under MIN_KEYWORD_LEN and
    # AQE collapses tfidf to an EmptyRelation with no exchange to reuse
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (2, "beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id bigint, text string",
    )
    spans_df = duplicated_span_stats(docs)
    tfidf_df = tfidf_keywords(docs)
    spans_plan = spans_df._jdf.queryExecution().toString()
    # tfidf keeps ONE window — the per-doc top-k rank (bounded by doc
    # size); the df attachment itself must not be windowed on tok
    tfidf_plan = tfidf_df._jdf.queryExecution().toString()
    assert "windowspecdefinition(sh" not in spans_plan.lower()
    assert "windowspecdefinition(tok" not in tfidf_plan.lower()
    # spans (r8 shape): the gram stream feeds exactly ONE aggregate —
    # there must be no join keyed on the gram hash at all (the r7
    # self-join shape needed an exchange reuse; the complement identity
    # removed the second consumer). Grep the analyzed plan: 'sh' may
    # appear only in Aggregate keys, never in a Join condition.
    for ln in spans_plan.splitlines():
        if "Join" in ln:
            assert "sh#" not in ln, spans_plan
    # tfidf's join branches must SHARE the tf aggregate exchange so the
    # tokenize map side runs exactly once, not once per branch. AQE
    # materializes the reuse only at runtime, so execute first and assert
    # on the final adaptive plan (this is also the regression guard for
    # the column-pruning trap: a count(*)-keyed second aggregate prunes
    # differently per branch, canonical equality breaks, and the reuse
    # silently vanishes).
    tfidf_df.collect()
    executed = tfidf_df._jdf.queryExecution().executedPlan().toString()
    assert "reused" in executed.lower(), executed


# --- events: NULL-aware gates ----------------------------------------------

@pytest.fixture()
def events_fixture_dir(spark, tmp_path):
    """Tiny events/orders parquet laid out like a testdata sf dir, with
    the NULLs the driver fixtures never contain."""
    events = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 10, 12), 7, "view", 10.0, '{"k": 1}'),
            (2, datetime.datetime(2024, 1, 11, 12), 7, "click", None, '{"k": 3000000000}'),
            (3, datetime.datetime(2024, 1, 12, 12), 7, "view", 20.0, "not json"),
            (4, None, 8, "view", 5.0, None),
            (5, datetime.datetime(2024, 1, 13, 12), 8, "view", 7.0, '{"k": 2}'),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    orders = spark.createDataFrame(
        [
            (100, 7, datetime.date(2024, 1, 11), 50.0),
            (101, 7, None, 60.0),  # NULL order date: must never match
            (102, 8, datetime.date(2024, 2, 1), 70.0),
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderdate date, "
        "o_totalprice double",
    )
    events.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    orders.coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path), events, orders


def test_asof_ignores_null_order_dates(spark, events_fixture_dir):
    sf_dir, events, orders = events_fixture_dir
    from duckdb_mpp_spark.queries.events import _asof_spark

    got = {r["event_id"]: r["o_orderkey"] for r in _asof_spark(spark, sf_dir).collect()}
    con = duckdb.connect()
    # parquet views like the driver (pandas round-trip types ts as
    # TIMESTAMP_NS, which DuckDB refuses to ASOF-compare against DATE)
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet/*.parquet'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet/*.parquet'")
    want = {
        r[0]: r[2]
        for r in _duck_rows(con, REGISTRY["asof_join_events_orders"].oracle)
    }
    assert got == want
    # the NULL-date order (key 101) must never back-fill anything
    assert 101 not in set(got.values())


def test_json_props_overflow_and_null_bucket(spark, events_fixture_dir, shadow_views):
    _sf, events, _orders = events_fixture_dir
    con = duckdb.connect()
    s, d = _both(spark, con, "events_json_props", {"events": events}, shadow_views)
    assert s == d
    buckets = {r[0] for r in s}
    assert None in buckets  # malformed + NULL + overflow all group as NULL
    assert 0 in buckets     # k=3e9 lands in bucket 0 via BIGINT, not wraps


def test_zscore_sample_stats_skip_null_values(spark, events_fixture_dir, shadow_views):
    _sf, events, _orders = events_fixture_dir
    con = duckdb.connect()
    s, d = _both(spark, con, "events_zscore_outliers", {"events": events}, shadow_views)
    assert s == d
    by_user = {r[0]: r for r in s}
    # user 7 has values [10, NULL, 20]: n_scored must count the 2 real
    # samples, never the NULL row
    assert by_user[7][1] == 2


def test_user_features_avg_gap_counts_real_timestamps(spark, events_fixture_dir, shadow_views):
    _sf, events, _orders = events_fixture_dir
    con = duckdb.connect()
    s, d = _both(
        spark, con, "events_user_features", {"events": events}, shadow_views,
        sf_dir=_sf,
    )
    assert s == d
    by_user = {r[0]: r for r in s}
    # user 8 has ts [NULL, 2024-01-13]: ONE real timestamp → no gap (NULL
    # avg_gap), not a 0-second gap divided over a phantom interval
    assert by_user[8][4] is None


def test_hourly_agg_null_keys_order_identically(spark, events_fixture_dir, shadow_views):
    _sf, events, _orders = events_fixture_dir
    con = duckdb.connect()
    q = REGISTRY["events_hourly_agg"]
    shadow_views("events", events)
    con.register("events", events.toPandas())
    s = [tuple(r) for r in spark.sql(q.spark).collect()]  # ORDERED compare
    d = _duck_rows(con, q.oracle_sql())
    assert s == d  # NULL hour_start row (event 4) placed last on BOTH


# --- corpus: global shuffle NULL id, chunk stride contract -----------------

def test_global_shuffle_null_id_position_deterministic(spark, tmp_path, monkeypatch):
    from duckdb_mpp_spark import table
    from duckdb_mpp_spark.operators.corpus import (
        _GLOBAL_SHUFFLE_SQL,
        global_shuffle_positions,
    )

    docs = spark.createDataFrame(
        [(1, "x"), (None, "y"), (2, "z"), (3, "w")],
        "doc_id bigint, text string",
    )
    # parquet view, not a pandas frame: pandas floats nullable BIGINTs, and
    # concat('epoch-42:', 3.0) hashes a different string than 'epoch-42:3'
    docs.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = _duck_rows(con, _GLOBAL_SHUFFLE_SQL)
    for arm in ("single_task", "parallel"):
        monkeypatch.setitem(table._FORCED, "sort_shape", arm)
        res = global_shuffle_positions(docs).orderBy("pos")
        got = [tuple(r) for r in res.collect()]
        assert got == want, arm


def test_chunk_documents_rejects_uncovering_strides(spark):
    from duckdb_mpp_spark.operators.corpus import chunk_documents

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, size=64, stride=100)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, size=64, stride=0)
    # valid strides still work
    assert chunk_documents(docs, size=2, stride=1).count() == 3
