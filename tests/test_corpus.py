"""Unit tests for corpus-curation operators (repetition quality,
contamination, PII redaction, sequence packing, weighted sampling).
Exact-value oracle parity is covered by tests/test_oracle.py; these pin the
operator semantics on hand-built fixtures."""

import pytest
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.corpus import (
    CONTEXT_TOKENS,
    contamination_overlap,
    pii_redact,
    repetition_stats,
    sequence_packing,
    weighted_domain_sample,
)
import os

from duckdb_mpp_spark.sources import load_table

SF_DIR = os.environ.get("MPP_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_repetition_stats_values(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),        # 5 tokens, 2 distinct; top bigram "a b" 2/4
            (2, "x y z"),            # no repetition; every bigram unique
            (3, "w"),                # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[1].n_tokens == 5
    assert got[1].dup_token_frac == pytest.approx(1 - 2 / 5)
    assert got[1].top_bigram_frac == pytest.approx(2 / 4)
    assert got[2].dup_token_frac == 0.0
    assert got[2].top_bigram_frac == pytest.approx(1 / 2)
    assert got[3].n_tokens == 1 and got[3].top_bigram_frac == 0.0


def test_contamination_detects_benchmark_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox climbs")], "doc_id long, text string"
    )
    got = contamination_overlap(docs, bench).collect()
    assert [r.doc_id for r in got] == [1]  # doc 2 shares no 3-gram
    assert got[0].n_contaminated == 1 and got[0].n_shingles == 3


def test_pii_redaction_counts_and_scrubs(spark):
    docs = spark.createDataFrame(
        [(1, "mail a@b.com and c.d@e.org or +1-555-0199 now")],
        "doc_id long, text string",
    )
    r = pii_redact(docs).collect()[0]
    assert (r.n_emails, r.n_phones) == (2, 1)
    redacted = spark.createDataFrame([(1, "mail a@b.com and c.d@e.org or +1-555-0199 now")],
                                     "doc_id long, text string").select(
        F.md5(F.lit("mail <EMAIL> and <EMAIL> or <PHONE> now")).alias("h")
    ).collect()[0].h
    assert r.redacted_md5 == redacted


def test_sequence_packing_conserves_tokens(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(500)
    bins = sequence_packing(docs)
    rows = bins.collect()
    from duckdb_mpp_spark.operators.text import token_count

    total = docs.select(F.sum(token_count("text"))).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == total
    assert all(r.n_docs > 0 for r in rows)
    # greedy density: every non-final bin of a worker starts a new window,
    # so bins per worker == ceil(worker_tokens / context) bounded below
    per_worker = {}
    for r in rows:
        per_worker.setdefault(r.worker, []).append(r)
    for w, bs in per_worker.items():
        toks = sum(r.n_tokens for r in bs)
        assert len(bs) >= toks // CONTEXT_TOKENS  # can't pack tighter than capacity


def test_weighted_sampling_deterministic_and_weighted(spark):
    docs = load_table(spark, SF_DIR, "documents")
    a = sorted(r.doc_id for r in weighted_domain_sample(docs).select("doc_id").collect())
    b = sorted(r.doc_id for r in weighted_domain_sample(docs).select("doc_id").collect())
    assert a == b  # md5-derived, not rand(): identical across runs
    kept = {r.lang: r.n for r in weighted_domain_sample(docs).groupBy("lang").agg(F.count("*").alias("n")).collect()}
    tot = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert kept["en"] == tot["en"]  # weight 1.0 keeps everything
    if "zh" in tot and tot["zh"] >= 20:
        assert kept.get("zh", 0) < tot["zh"] * 0.35  # weight 0.1 thins hard


def test_chunk_documents_geometry(spark):
    """Overlapping token-window chunking: stride-placed windows cover every
    token, boundary tokens land where expected, empty docs yield ZERO
    chunks (r6 — the old phantom empty chunk gave every fetch-failed doc
    the same xxhash64('') chunk_hash), and the chunk hash distinguishes
    distinct pieces."""
    from duckdb_mpp_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.chunk_id): r for r in chunk_documents(df).collect()}
    assert {k[1] for k in rows if k[0] == 1} == {0, 1, 2}
    assert rows[(1, 0)].n_tokens == 64
    assert rows[(1, 1)].n_tokens == 52
    assert rows[(1, 2)].n_tokens == 4
    assert rows[(1, 0)].first_token == "t0" and rows[(1, 0)].last_token == "t63"
    assert rows[(1, 1)].first_token == "t48"
    assert rows[(1, 2)].first_token == "t96" and rows[(1, 2)].last_token == "t99"
    assert rows[(2, 0)].n_tokens == 2
    assert not [k for k in rows if k[0] == 3]  # empty doc: zero chunks
    hashes = {r.chunk_hash for r in rows.values() if r.n_tokens > 0}
    assert len(hashes) == 4  # all non-empty pieces distinct


def test_global_shuffle_two_phase_matches_single_window(spark, monkeypatch):
    """r6: global training-order positions must be identical whichever
    plan produced them — the small-input single-task window or the
    at-scale two-phase prefix rank (the md5 hex prefix partitions are
    contiguous ranges of the total (key, id) order, so per-group rank +
    group offset IS the global rank)."""
    from duckdb_mpp_spark import table
    from duckdb_mpp_spark.operators.corpus import global_shuffle_positions

    docs = spark.range(0, 997).select(F.col("id").alias("doc_id"))
    positions = {}
    for arm in ("single_task", "parallel"):
        monkeypatch.setitem(table._FORCED, "sort_shape", arm)
        positions[arm] = {
            r["doc_id"]: r["pos"]
            for r in global_shuffle_positions(docs).collect()
        }
    assert positions["parallel"] == positions["single_task"]
    assert sorted(positions["single_task"].values()) == list(range(997))
