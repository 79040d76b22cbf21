"""Property-based safety test for bucket pruning (hypothesis).

The invariant the reference also guarantees (SURVEY §2.A4: "anything else
keeps all shards"): for ANY predicate — inside or outside the pruning
mini-grammar — a pruned scan returns exactly the rows a full-table filter
returns. Pruning may only ever *skip* buckets the predicate cannot touch;
it must never change results.

Strategy: generate predicates over the partition column (equality, IN,
IS [NOT] NULL, ranges, arithmetic the grammar intentionally rejects, and
random AND/OR/NOT nestings), run each against a 8-bucket table, and compare
with the same predicate applied to the raw (unbucketed) DataFrame — alone
and inside every query shape the front door's prune rule must judge
(joins, derived tables, CTEs, set-op legs, aliases, second references).
"""

import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from duckdb_mpp_spark.mpp import MppSession

VALUES = [(-2, "apple"), (-1, "banana"), (None, "pear"), (0, None),
          (1, "watermelon"), (2, "grape"), (7, "fig"), (13, "lime")]


@pytest.fixture(scope="module")
def table(spark):
    wh = tempfile.mkdtemp(prefix="mpp_prop_")
    mpp = MppSession(spark, wh)
    mpp.sql("CREATE TABLE p(c0 INT, c1 TEXT) PARTITION BY (c0) WITH BUCKETS 8")
    vals = ", ".join(
        f"({ 'NULL' if v is None else v }, { 'NULL' if s is None else repr(s) })"
        for v, s in VALUES
    )
    mpp.sql(f"INSERT INTO p VALUES {vals}")
    raw = spark.createDataFrame(VALUES, "c0 int, c1 string")
    raw.createOrReplaceTempView("p_raw")
    yield mpp, spark
    shutil.rmtree(wh, ignore_errors=True)


_int = st.integers(min_value=-3, max_value=14)

_atom = st.one_of(
    _int.map(lambda k: f"c0 = {k}"),
    st.lists(_int, min_size=1, max_size=4).map(
        lambda ks: f"c0 IN ({', '.join(map(str, ks))})"
    ),
    st.just("c0 IS NULL"),
    st.just("c0 IS NOT NULL"),
    _int.map(lambda k: f"c0 < {k}"),
    _int.map(lambda k: f"c0 >= {k}"),
    st.tuples(_int, _int).map(lambda t: f"c0 BETWEEN {min(t)} AND {max(t)}"),
    _int.map(lambda k: f"c0 = {k} + 1"),          # arithmetic → must not prune
    _int.map(lambda k: f"abs(c0) = {abs(k)}"),    # function → must not prune
    st.sampled_from(["c1 = 'apple'", "c1 = 'zzz'", "c1 IS NULL"]),
)


def _combine(children):
    preds, op = children
    joined = f" {op} ".join(f"({p})" for p in preds)
    return joined


_pred = st.recursive(
    _atom,
    lambda inner: st.one_of(
        st.tuples(st.lists(inner, min_size=2, max_size=3), st.sampled_from(["AND", "OR"])).map(_combine),
        inner.map(lambda p: f"NOT ({p})"),
    ),
    max_leaves=4,
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pred=_pred)
def test_pruned_scan_equals_full_filter(table, pred):
    mpp, spark = table
    key = lambda t: tuple((x is None, str(x)) for x in t)
    got = sorted(
        (tuple(r) for r in mpp.sql(f"SELECT c0, c1 FROM p WHERE {pred}").collect()),
        key=key,
    )
    want = sorted(
        (tuple(r) for r in spark.sql(f"SELECT c0, c1 FROM p_raw WHERE {pred}").collect()),
        key=key,
    )
    assert got == want, f"predicate {pred!r}: {got} != {want}"


_set_expr = st.sampled_from(
    ["c1 = upper(c1)", "c1 = 'zap'", "c1 = NULL", "c0 = c0 + 100", "c0 = 0"]
)
_op = st.tuples(st.sampled_from(["UPDATE", "DELETE"]), _atom, _set_expr)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(_op, min_size=1, max_size=2))
def test_cow_dml_matches_plain_semantics(spark, tmp_path_factory, ops):
    """COW UPDATE/DELETE over pruned buckets must leave exactly the state a
    plain (unbucketed) SQL rewrite produces — for any predicate, including
    ones the pruner can't parse and updates touching the partition column."""
    import shutil as _sh
    import tempfile

    wh = tempfile.mkdtemp(prefix="mpp_dmlprop_")
    mpp = MppSession(spark, wh)
    mpp.sql("CREATE TABLE d(c0 INT, c1 TEXT) PARTITION BY (c0) WITH BUCKETS 8")
    vals = ", ".join(
        f"({'NULL' if v is None else v}, {'NULL' if s is None else repr(s)})"
        for v, s in VALUES
    )
    mpp.sql(f"INSERT INTO d VALUES {vals}")
    expected = spark.createDataFrame(VALUES, "c0 int, c1 string")

    try:
        for kind, pred, setx in ops:
            expected.createOrReplaceTempView("d_expected")
            if kind == "UPDATE":
                mpp.sql(f"UPDATE d SET {setx} WHERE {pred}")
                col, _, expr = setx.partition("=")
                col, expr = col.strip(), expr.strip()
                other = "c1" if col == "c0" else "c0"
                expected = spark.sql(
                    f"SELECT CASE WHEN coalesce({pred}, false) THEN CAST(({expr}) AS "
                    f"{'INT' if col == 'c0' else 'STRING'}) ELSE {col} END AS {col}, {other} "
                    "FROM d_expected"
                ).select("c0", "c1")
            else:
                mpp.sql(f"DELETE FROM d WHERE {pred}")
                expected = spark.sql(
                    f"SELECT * FROM d_expected WHERE NOT coalesce({pred}, false)"
                )
            expected = expected.localCheckpoint(eager=True)

        key = lambda t: tuple((x is None, str(x)) for x in t)
        got = sorted((tuple(r) for r in mpp.sql("SELECT c0, c1 FROM d").collect()), key=key)
        want = sorted((tuple(r) for r in expected.collect()), key=key)
        assert got == want, f"ops {ops}: {got} != {want}"
        # every row sits in the bucket its c0 hashes to (an UPDATE of c0
        # moves it), so a pruned point read of each value is exact
        tbl = mpp.table("d")
        misplaced = (
            tbl.read_buckets(tbl.snapshot_files())
            .where("__bucket <> pmod(hash(c0), 8)")
            .collect()
        )
        assert not misplaced, f"ops {ops}: rows outside their bucket {misplaced}"
        for v in {r[0] for r in want}:
            cond = "c0 IS NULL" if v is None else f"c0 = {v}"
            point = sorted(
                (tuple(r) for r in mpp.sql(f"SELECT c0, c1 FROM d WHERE {cond}").collect()),
                key=key,
            )
            assert point == [r for r in want if r[0] == v], f"ops {ops}: {cond}"
    finally:
        _sh.rmtree(wh, ignore_errors=True)


@pytest.fixture(scope="module")
def gen_table(spark):
    """Multi-generation table: three range-disjoint inserts, so the r4
    all-column zone maps actually SKIP files for range predicates — the
    property then guards the skipping, not just the bucket pruning."""
    wh = tempfile.mkdtemp(prefix="mpp_zprop_")
    mpp = MppSession(spark, wh)
    mpp.sql("CREATE TABLE z(c0 INT, c1 TEXT) PARTITION BY (c0) WITH BUCKETS 4")
    gens = [VALUES[:3], VALUES[3:6], VALUES[6:]]
    for gen in gens:
        vals = ", ".join(
            f"({'NULL' if v is None else v}, {'NULL' if s is None else repr(s)})"
            for v, s in gen
        )
        mpp.sql(f"INSERT INTO z VALUES {vals}")
    raw = spark.createDataFrame(VALUES, "c0 int, c1 string")
    raw.createOrReplaceTempView("z_raw")
    yield mpp, spark
    shutil.rmtree(wh, ignore_errors=True)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pred=_pred)
def test_zonemap_skipping_never_changes_results(gen_table, pred):
    """Zone-map file skipping (any-column, r4) is an optimization, never a
    filter: for ANY predicate, a scan over the skipped file set returns
    exactly what a full filter over the raw rows returns."""
    mpp, spark = gen_table
    key = lambda t: tuple((x is None, str(x)) for x in t)
    got = sorted(
        (tuple(r) for r in mpp.sql(f"SELECT c0, c1 FROM z WHERE {pred}").collect()),
        key=key,
    )
    want = sorted(
        (tuple(r) for r in spark.sql(f"SELECT c0, c1 FROM z_raw WHERE {pred}").collect()),
        key=key,
    )
    assert got == want, pred


_setop_kw = st.sampled_from(["UNION ALL", "UNION", "EXCEPT", "INTERSECT"])

# Every query shape the front door's prune rule must judge, as (template,
# qualifier): {T} is the distributed table's name in the front-door text
# and the raw view's name in the ground-truth text, {OP} a set operator,
# {P} the predicate with its column refs prefixed by the qualifier (a
# shape that sees two relations must qualify them, or Spark rejects them
# as ambiguous; the fruit literals contain neither c0 nor c1).
_SHAPES = {
    "plain": ("SELECT c0, c1 FROM {T} WHERE {P}", ""),
    "from_alias": ("SELECT a.c0, a.c1 FROM {T} a WHERE {P}", "a."),
    "inner_join": (
        "SELECT {T}.c0, {T}.c1, tvx.c1 AS w FROM {T} "
        "JOIN tvx ON {T}.c0 <= tvx.c0 WHERE {P}",
        "{T}.",
    ),
    "left_join_nullable_side": (
        "SELECT tvx.c0 AS k, {T}.c0, {T}.c1 FROM tvx "
        "LEFT JOIN {T} ON tvx.c0 = {T}.c0 WHERE {P}",
        "{T}.",
    ),
    "derived_table_rename": (
        "SELECT * FROM (SELECT length(c1) AS c0, c1 FROM {T}) s WHERE {P}", ""
    ),
    "select_alias_shadows_column": ("SELECT c0 AS c1 FROM {T} WHERE {P}", ""),
    "self_join": (
        "SELECT a.c0, b.c1 FROM {T} a JOIN {T} b ON a.c0 = b.c0 + 1 WHERE {P}",
        "a.",
    ),
    "backtick_second_ref": (
        "SELECT c0, c1 FROM {T} WHERE ({P}) "
        "AND NOT EXISTS (SELECT 1 FROM `{T}` s WHERE s.c0 = 13)",
        "",
    ),
    # text Spark never reads as a conjunct: a commented-out condition, a
    # double-quoted string, a subquery's own WHERE
    "commented_out_conjunct": (
        "SELECT c0, c1 FROM {T} WHERE {P}\n  -- AND c0 = 13\n", ""
    ),
    "block_commented_conjunct": (
        "SELECT c0, c1 FROM {T} WHERE {P} /* AND c0 = 13 */", ""
    ),
    "double_quoted_string": (
        'SELECT c0, c1 FROM {T} WHERE {P} AND "x AND c0 = 13 AND y" <> c1', ""
    ),
    "scalar_subquery_where": (
        "SELECT c0, c1 FROM {T} WHERE "
        "(SELECT count(*) > 0 FROM tvx WHERE c1 IS NOT NULL AND {P})",
        "",
    ),
    # set-op legs: WHERE in either leg, table in either leg, comma-joins
    "setop_leg1": ("SELECT c0 FROM {T} WHERE {P} {OP} SELECT c0 FROM tvx", ""),
    "setop_leg1_other_table": (
        "SELECT c0 FROM tvx WHERE {P} {OP} SELECT c0 FROM {T}", ""
    ),
    "setop_leg2_other_table": (
        "SELECT c0 FROM {T} {OP} SELECT c0 FROM tvx WHERE {P}", ""
    ),
    "setop_leg2": ("SELECT c0 FROM tvx {OP} SELECT c0 FROM {T} WHERE {P}", ""),
    "comma_join": ("SELECT {T}.c0 AS c0 FROM tvx,{T} WHERE {P}", "{T}."),
    "comma_join_space": ("SELECT {T}.c0 AS c0 FROM tvx, {T} WHERE {P}", "{T}."),
    "setop_comma_join_leg2": (
        "SELECT c0 FROM {T} WHERE {P} {OP} SELECT {T}.c0 FROM tvx,{T}", "{T}."
    ),
    # a CTE body feeds every consumer, so no WHERE prunes its source
    "cte_body": (
        "WITH x AS (SELECT c0, c1 FROM {T}) SELECT c0 FROM x WHERE {P}", ""
    ),
    "cte_setop_leg1": (
        "WITH x AS (SELECT c0, c1 FROM {T}) "
        "SELECT c0 FROM x WHERE {P} {OP} SELECT c0 FROM x",
        "",
    ),
    "cte_setop_leg2": (
        "WITH x AS (SELECT c0, c1 FROM {T}) "
        "SELECT c0 FROM x {OP} SELECT c0 FROM x WHERE {P}",
        "",
    ),
    "cte_rename": (
        "WITH x AS (SELECT c0 + 100 AS c0, c1 FROM {T}) "
        "SELECT c0 FROM x WHERE {P}",
        "",
    ),
}
_templates = st.sampled_from(list(_SHAPES.values()))


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pred=_pred, op=_setop_kw, tmpl=_templates)
# the shapes that once pruned wrongly, each on a predicate that shows it
@example(pred="c0 IS NULL", op="UNION", tmpl=_SHAPES["derived_table_rename"])
@example(pred="c0 IS NULL", op="UNION", tmpl=_SHAPES["left_join_nullable_side"])
@example(pred="c0 IS NULL", op="UNION", tmpl=_SHAPES["backtick_second_ref"])
@example(pred="c1 IS NULL", op="UNION", tmpl=_SHAPES["select_alias_shadows_column"])
@example(pred="c1 = 'apple'", op="UNION", tmpl=_SHAPES["commented_out_conjunct"])
@example(pred="c1 = 'apple'", op="UNION", tmpl=_SHAPES["double_quoted_string"])
@example(pred="c0 = 5", op="UNION", tmpl=_SHAPES["scalar_subquery_where"])
def test_setop_shapes_never_lose_rows_to_pruning(table, pred, op, tmpl):
    """For ANY predicate in ANY query shape — set-op legs, joins, derived
    tables, CTEs, aliases, second references, comments — the front door
    (bucket pruning and zone maps active) returns exactly what the same
    SQL returns over unpruned temp views of the raw rows: a WHERE prunes
    only the one table its FROM clause names, and only on the conjuncts
    Spark reads."""
    mpp, spark = table
    spark.createDataFrame(
        [(5, "mango"), (-2, "apple"), (None, "kiwi")], "c0 int, c1 string"
    ).createOrReplaceTempView("tvx")
    tmpl, qual = tmpl
    q = tmpl.replace("{P}", pred.replace("c0", qual + "c0").replace("c1", qual + "c1"))
    q = q.replace("{OP}", op)
    q_mpp, q_raw = q.replace("{T}", "p"), q.replace("{T}", "p_raw")
    key = lambda t: tuple((x is None, str(x)) for x in t)
    got = sorted((tuple(r) for r in mpp.sql(q_mpp).collect()), key=key)
    want = sorted((tuple(r) for r in spark.sql(q_raw).collect()), key=key)
    assert got == want, f"{q_mpp!r}: {got} != {want}"
