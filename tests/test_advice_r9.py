"""Regression tests for the ADVICE-r8 findings fixed in round 9.

1. mpp.py — ``_blank_quotes_and_comments`` tracks NESTED bracketed
   comments (SPARK-28880): '/* a /* b */ c */' blanks through the OUTER
   terminator, so no keyword guard (``_pin_versions``, RETURNING/ON
   CONFLICT rejection) can see text that is actually inside a comment.
2. queries/__init__.py — ``ordered_small`` sorts asc NULLS LAST (the r6
   cross-dialect convention), so a NULL sort key cannot diverge row order
   from the DuckDB oracle's default NULLS LAST.
3. dedup band index — now a DistributedTable; see tests/test_band_index.py.
4. corpus.py — contamination_overlap's scale shape: covered by
   tests/test_corpus.py (duplicate-id exactness) plus the hit-bounded
   shuffle note in SCALING.md; the r9 rework keeps every shuffle
   hit-sized (see contamination_overlap docstring).
5. dml.py — the WHERE-determinism guard names the nondeterministic
   predicate itself in its error, not the (innocent) first unique column.
"""

import pytest

from duckdb_mpp_spark.mpp import _blank_quotes_and_comments


# --- 1. nested bracketed comments -------------------------------------------

@pytest.mark.parametrize(
    "text, hidden, kept",
    [
        # the ADVICE repro: inner terminator must not end the outer comment
        (
            "/* a /* b */ VERSION AS OF 1 */ SELECT k FROM t",
            "VERSION AS OF 1",
            "SELECT k FROM t",
        ),
        # two levels of nesting
        (
            "/* x /* y /* z */ y2 */ x2 */ SELECT 1",
            "x2",
            "SELECT 1",
        ),
        # RETURNING inside a nested comment must stay invisible to guards
        (
            "INSERT INTO t VALUES(1) /* note /* r */ RETURNING k */",
            "RETURNING",
            "INSERT INTO t VALUES(1)",
        ),
    ],
)
def test_nested_block_comments_blank_to_outer_terminator(text, hidden, kept):
    out = _blank_quotes_and_comments(text)
    assert len(out) == len(text)
    assert hidden not in out
    assert kept in out


def test_unterminated_nested_comment_blanks_to_end():
    text = "SELECT 1 /* a /* b */ never closed"
    out = _blank_quotes_and_comments(text)
    assert len(out) == len(text)
    assert "never closed" not in out
    assert "SELECT 1" in out


def test_flat_block_comment_still_terminates():
    text = "SELECT a /* c */ FROM t"
    out = _blank_quotes_and_comments(text)
    assert "FROM t" in out
    assert " c " not in out


def test_pin_versions_ignores_version_clause_inside_nested_comment(mpp):
    # end-to-end direction of the ADVICE: a VERSION AS OF inside a nested
    # comment must not be spliced/pinned — the query reads the LATEST data
    mpp.sql("CREATE TABLE nbc(k INT) PARTITION BY(k) WITH BUCKETS 2")
    mpp.sql("INSERT INTO nbc VALUES(1)")
    mpp.sql("INSERT INTO nbc VALUES(2)")
    got = mpp.sql(
        "SELECT count(*) AS n FROM nbc /* old /* v */ VERSION AS OF 1 */"
    )
    assert [tuple(r) for r in got.collect()] == [(2,)]


# --- 2. ordered_small NULLS LAST ---------------------------------------------

def test_ordered_small_sorts_nulls_last(spark):
    from duckdb_mpp_spark.queries import ordered_small

    df = spark.createDataFrame(
        [(None, "a"), (2, "b"), (1, "c"), (None, "d")], "k INT, v STRING"
    )
    got = [tuple(r) for r in ordered_small(df, "k", "v").collect()]
    assert got == [(1, "c"), (2, "b"), (None, "a"), (None, "d")]


# --- 5. WHERE-determinism guard names the predicate ---------------------------

def test_nondeterministic_where_error_names_the_predicate(mpp):
    mpp.sql(
        "CREATE TABLE ndw(k INT UNIQUE, v TEXT) PARTITION BY(k) WITH BUCKETS 4"
    )
    mpp.sql("INSERT INTO ndw VALUES(1,'a'),(2,'b')")
    with pytest.raises(ValueError) as ei:
        mpp.sql("UPDATE ndw SET k = 9 WHERE rand() < 0.5")
    msg = str(ei.value)
    assert "WHERE predicate" in msg
    assert "rand() < 0.5" in msg


def test_nondeterministic_where_rejected_without_unique_column_too(mpp):
    # review r9: the staged write's observe() metric embeds the predicate
    # and Spark rejects nondeterministic observed metrics regardless — so
    # EVERY UPDATE/DELETE gets the engine's named error, not the opaque
    # INVALID_OBSERVED_METRICS analyzer failure
    mpp.sql("CREATE TABLE ndw2(k INT, v TEXT) PARTITION BY(k) WITH BUCKETS 4")
    mpp.sql("INSERT INTO ndw2 VALUES(1,'a'),(2,'b')")
    with pytest.raises(ValueError, match="WHERE predicate"):
        mpp.sql("UPDATE ndw2 SET v = 'x' WHERE rand() < 0.5")
    with pytest.raises(ValueError, match="WHERE predicate"):
        mpp.sql("DELETE FROM ndw2 WHERE rand() < 0.5")
    # deterministic WHEREs keep working on both paths
    assert mpp.sql("UPDATE ndw2 SET v = 'x' WHERE k = 1") == 1
    assert mpp.sql("DELETE FROM ndw2 WHERE k = 2") == 1
