"""cut_duplicated_spans — the removal half of exact-substring dedup
(Lee et al. 2022; scoring half = duplicated_span_stats).

Covers the crafted-semantics matrix (cross-doc spans cut, within-doc
repeats kept, short identical docs cut to '', empty/NULL text, unique
docs untouched, duplicate-id folding) plus full value-equality against
the DuckDB oracle on both a crafted corpus and the real sf0.001
documents table. The oracle (``cut_spans_oracle_sql``) is the r13 gate's
SQL — registration is deferred because the r12 rotation is frozen
(VERDICT r11 #2), so this file is the correctness evidence until then.
"""

import os

import duckdb
import pytest

from duckdb_mpp_spark.operators.substrings import (
    SPAN_WORDS,
    cut_duplicated_spans,
    cut_spans_oracle_sql,
)

SHARED = "alpha beta gamma delta epsilon zeta eta theta"  # exactly k=8 words


def _rows(df):
    return sorted(
        (r.doc_id, r.n_tokens, r.n_kept, r.n_removed, r.text_cleaned)
        for r in df.collect()
    )


def test_cross_doc_span_cut_within_doc_repeat_kept(spark):
    docs = spark.createDataFrame(
        [
            # doc 1 and 2 share the 8-gram -> those tokens cut in both
            (1, f"intro one two {SHARED} outro three"),
            (2, f"{SHARED} tail four five six seven eight nine"),
            # doc 3 repeats ITS OWN 8-gram twice: all occurrences in one
            # doc -> nothing cut
            (3, "p q r s t u v w " + "p q r s t u v w"),
            # doc 4 shares nothing
            (4, "unique words only here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in cut_duplicated_spans(docs).collect()}
    assert got[1].text_cleaned == "intro one two outro three"
    assert got[1].n_removed == 8
    assert got[2].text_cleaned == "tail four five six seven eight nine"
    assert got[3].n_removed == 0
    assert got[3].n_tokens == 16
    assert got[4].n_removed == 0
    assert got[4].text_cleaned == "unique words only here nothing shared at all"


def test_short_identical_docs_cut_to_empty(spark):
    # shorter than k: each doc emits its single whole-doc gram; identical
    # short docs are cross-doc duplicates and cut to ''
    docs = spark.createDataFrame(
        [(1, "tiny doc"), (2, "tiny doc"), (3, "different tiny")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in cut_duplicated_spans(docs).collect()}
    assert got[1].text_cleaned == "" and got[1].n_kept == 0
    assert got[2].text_cleaned == "" and got[2].n_removed == 2
    assert got[3].text_cleaned == "different tiny" and got[3].n_removed == 0


def test_empty_and_null_text_rows_survive_with_zero_tokens(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real content words")],
        "doc_id long, text string",
    )
    got = _rows(cut_duplicated_spans(docs))
    assert got == [
        (1, 0, 0, 0, ""),
        (2, 0, 0, 0, ""),
        (3, 0, 0, 0, ""),
        (4, 3, 3, 0, "real content words"),
    ]


def test_overlapping_spans_cut_union_of_positions(spark):
    # doc 1 shares TWO overlapping 8-grams with docs 2 and 3; covered
    # positions are the union, counted once
    nine = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # grams: w1..w8 and w2..w9
    docs = spark.createDataFrame(
        [
            (1, f"{nine} trailer"),
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 other stuff here pad pad pad"),
            (3, "lead w2 w3 w4 w5 w6 w7 w8 w9 closing words pad pad"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in cut_duplicated_spans(docs).collect()}
    assert got[1].n_removed == 9  # union of the two 8-spans, not 16
    assert got[1].text_cleaned == "trailer"


def test_duplicate_input_ids_fold_like_stats_operator(spark):
    docs = spark.createDataFrame(
        [(7, "only content here nothing else at all now"),
         (7, "second row same id more words beyond eight")],
        "doc_id long, text string",
    )
    out = cut_duplicated_spans(docs).collect()
    assert len(out) == 1
    assert out[0].n_tokens == 16  # folded totals


def _duck_on_parquet(path):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    return con.execute(cut_spans_oracle_sql()).fetchall()


def _assert_matches_oracle(spark, docs_df, tmp_path):
    path = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(path)
    want = sorted(tuple(r) for r in _duck_on_parquet(path))
    got = _rows(cut_duplicated_spans(spark.read.parquet(path)))
    assert got == want


def test_matches_duckdb_oracle_on_crafted_corpus(spark, tmp_path):
    rows = [
        (1, f"intro one two {SHARED} outro three"),
        (2, f"{SHARED} tail four five six seven"),
        (3, "p q r s t u v w " + "p q r s t u v w"),
        (4, "tiny doc"),
        (5, "tiny doc"),
        (6, ""),
        (7, "w1 w2 w3 w4 w5 w6 w7 w8 w9 trailer"),
        (8, "w1 w2 w3 w4 w5 w6 w7 w8 pad pad pad pad"),
        (9, "lead w2 w3 w4 w5 w6 w7 w8 w9 close pad pad"),
        (10, "Mixed CASE Words lower UPPER case mixed words again ok"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _assert_matches_oracle(spark, docs, tmp_path)


def test_matches_duckdb_oracle_on_sf0001_documents(spark):
    sf = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(sf):
        pytest.skip("testdata not present")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}'")
    want = sorted(tuple(r) for r in con.execute(cut_spans_oracle_sql()).fetchall())
    got = _rows(cut_duplicated_spans(spark.read.parquet(sf)))
    assert got == want
    # the corpus has engineered duplicates — the operator must actually
    # cut something, or the fixture stopped exercising it
    assert any(r[3] > 0 for r in got), "no spans cut on the dedup corpus"


def test_token_conservation_invariant(spark):
    docs = spark.createDataFrame(
        [(i, f"{SHARED} filler{i} more{i} words{i}") for i in range(20)],
        "doc_id long, text string",
    )
    out = cut_duplicated_spans(docs).collect()
    for r in out:
        assert r.n_kept + r.n_removed == r.n_tokens
        assert r.n_kept == (len(r.text_cleaned.split()) if r.text_cleaned else 0)
