"""Regression tests for the five ADVICE-r7 findings fixed in round 8.

1. streaming — the replay-lineage file lives INSIDE the directory passed
   as checkpointLocation, so deleting the Spark checkpoint resets the
   lineage identity too (the r7 fix minted it in a PARENT dir, recreating
   the path-keyed silent-skip data loss for the documented reset
   procedure).
2. mpp.py — ``_blank_quotes_and_comments`` is one left-to-right state
   machine: a lone quote inside a comment is inert and can no longer blank
   genuine code (which could erase a real ``FROM name`` in a WITH prefix
   and re-enable pruning on a CTE-fed source).
3. dedup band index — now a DistributedTable; see tests/test_band_index.py.
4. sources/tables.py — the INT96-vs-INT64 physical-type check covers every
   member file; mixed encodings fail loudly instead of getting one
   uniform (wrong for half the files) treatment.
5. dml.py — value-global unique checks flag only operation-created values
   (tests live in test_advice_r7.py alongside the r6-contract tests).
"""

import shutil

import pytest

from duckdb_mpp_spark.mpp import _blank_quotes_and_comments


# --- 1. lineage identity lives inside the checkpointLocation ---------------

def test_streaming_gates_mint_lineage_inside_checkpoint_location():
    # structural assertion on the gate sources: every _checkpoint_lineage
    # call must receive the exact checkpointLocation dir (the 'offsets'
    # path), never its parent — enforced here because the behavior only
    # shows up across a process-crash + manual-reset sequence no unit test
    # can run end-to-end cheaply
    import inspect

    import duckdb_mpp_spark.streaming as streaming

    src = inspect.getsource(streaming)
    # the only _checkpoint_lineage call sites pass a ckpt_loc that is also
    # the checkpointLocation option (ingest, upsert, crawl-dedup)
    assert '_checkpoint_lineage(ckpt)' not in src
    n_lineage = src.count('_checkpoint_lineage(ckpt_loc)')
    n_option = src.count('.option("checkpointLocation", ckpt_loc)')
    assert n_lineage == n_option >= 3, (n_lineage, n_option)


def test_reset_of_exact_checkpoint_dir_resets_lineage(tmp_path):
    from duckdb_mpp_spark.streaming import _checkpoint_lineage

    ckpt_loc = str(tmp_path / "ckpt" / "offsets")
    a = _checkpoint_lineage(ckpt_loc)
    # operator deletes the SPARK checkpoint (the documented reset) — the
    # lineage must die with it because it lives inside
    shutil.rmtree(ckpt_loc)
    b = _checkpoint_lineage(ckpt_loc)
    assert a != b


# --- 2. quote-in-comment state machine --------------------------------------

@pytest.mark.parametrize(
    "text, must_survive",
    [
        # lone single quote in a -- comment must not pair with a later
        # real literal quote and blank the code between them
        ("-- don't\nWITH c AS (SELECT k FROM st) SELECT 'x' FROM c", "FROM st"),
        # lone double quote inside a block comment
        ('/* say " */ SELECT a FROM cte_src, other WHERE b = "q"', "FROM cte_src, other"),
        # lone backtick in a line comment
        ("-- a ` tick\nSELECT a FROM t WHERE n = `q`", "FROM t"),
        # comment-opener inside a literal stays a literal (no comment state)
        ("SELECT '--not a comment' , k FROM t", ", k FROM t"),
        # block-comment opener inside a quoted identifier is inert
        ('SELECT "/*" , k FROM t', ", k FROM t"),
    ],
)
def test_blank_state_machine_quote_comment_interactions(text, must_survive):
    out = _blank_quotes_and_comments(text)
    assert len(out) == len(text)
    assert must_survive in out


def test_blank_state_machine_blanks_all_regions():
    text = "SELECT 'lit', \"id\", `bt` FROM t -- c\n/* b */ WHERE k=1"
    out = _blank_quotes_and_comments(text)
    assert len(out) == len(text)
    for hidden in ("lit", "id", "bt", "-- c", "/* b */"):
        assert hidden not in out
    for kept in ("SELECT", "FROM t", "WHERE k=1"):
        assert kept in out


# --- 4. mixed INT96/INT64 timestamp files fail loudly ------------------------

def test_mixed_physical_timestamp_encodings_raise(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    from duckdb_mpp_spark.sources.tables import _nanos_timestamp_cols

    d = tmp_path / "mixed.parquet"
    d.mkdir()
    tbl = pa.table({"ts": pa.array([0, 1000], type=pa.timestamp("ns"))})
    # file A: true TIMESTAMP(NANOS) → physical INT64
    pq.write_table(tbl, str(d / "a.parquet"))
    # file B: legacy INT96 (Spark 3.x default outputTimestampType)
    pq.write_table(tbl, str(d / "b.parquet"), use_deprecated_int96_timestamps=True)
    with pytest.raises(RuntimeError, match="mixes physical"):
        _nanos_timestamp_cols(str(d))


def test_uniform_int96_across_all_files_reads_natively(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    from duckdb_mpp_spark.sources.tables import _nanos_timestamp_cols

    d = tmp_path / "i96.parquet"
    d.mkdir()
    tbl = pa.table({"ts": pa.array([0, 1000], type=pa.timestamp("ns"))})
    for name in ("a", "b"):
        pq.write_table(
            tbl, str(d / f"{name}.parquet"), use_deprecated_int96_timestamps=True
        )
    assert _nanos_timestamp_cols(str(d)) == []


def test_uniform_nanos_across_all_files_truncates(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    from duckdb_mpp_spark.sources.tables import _nanos_timestamp_cols

    d = tmp_path / "ns.parquet"
    d.mkdir()
    tbl = pa.table({"ts": pa.array([0, 1000], type=pa.timestamp("ns"))})
    for name in ("a", "b"):
        pq.write_table(tbl, str(d / f"{name}.parquet"))
    assert _nanos_timestamp_cols(str(d)) == ["ts"]
