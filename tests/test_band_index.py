"""The persisted band index: a DistributedTable ``(doc_id, band,
band_key)`` routed on ``band_key`` — the storage half of incremental
dedup's daily-crawl contract.

Covers: roundtrip fidelity, the pruned read listing only the batch's
buckets' files, appends growing the index (and a reader planned before an
append keeping its view), value-identity of the gate path against the
in-memory formulation, and losslessness of the gate's min-doc-per-key
rows.
"""

import pytest
from pyspark.sql import functions as F

from duckdb_mpp_spark.operators.dedup import (
    create_band_index,
    incremental_dedup,
    minhash_bands,
    probe_band_index,
)
from duckdb_mpp_spark.sources import load_table
from duckdb_mpp_spark.table import BUCKET_COL
from tests.conftest import bucket_files, input_paths

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bands(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return minhash_bands(docs).localCheckpoint()


@pytest.fixture()
def index(mpp):
    return create_band_index(mpp, "band_index", 8)


def _rows(df):
    return sorted(
        tuple(r) for r in df.select("doc_id", "band", "band_key").collect()
    )


def _verdicts(index_bands, batch, **kw):
    return sorted(tuple(r) for r in incremental_dedup(index_bands, batch, **kw).collect())


def _min_doc(bands):
    return bands.groupBy("band", "band_key").agg(F.min("doc_id").alias("doc_id"))


def test_roundtrip(bands, index):
    index.insert(bands)
    assert _rows(probe_band_index(index)) == _rows(bands)


def test_bucket_pruning_reaches_file_index(bands, index):
    index.insert(bands)
    one = bands.where(F.col("doc_id") == bands.agg(F.min("doc_id")).collect()[0][0])
    pruned = probe_band_index(index, one)
    hit = {r[0] for r in index.route(one).select(BUCKET_COL).distinct().collect()}
    assert 0 < len(hit) < index.meta.buckets
    files = index.snapshot_files()
    assert input_paths(pruned) == set().union(
        *(bucket_files(index, files, b) for b in hit)
    )
    # exactly the hit buckets' contents
    assert _rows(pruned) == _rows(index.route(bands).where(F.col(BUCKET_COL).isin(list(hit))))


def test_append_mode_unions_new_bands(bands, index):
    index.insert(bands.where(F.col("doc_id") % 2 == 0))
    reader = probe_band_index(index)  # planned before the append
    index.insert(bands.where(F.col("doc_id") % 2 != 0))
    assert len(index.history()) == 2
    assert _rows(reader) == _rows(bands.where(F.col("doc_id") % 2 == 0))
    assert _rows(probe_band_index(index)) == _rows(bands)


def test_incremental_dedup_over_persisted_index_value_identical(bands, index):
    batch = bands.where(F.col("doc_id") % 7 == 0)
    idx_mem = bands.where(F.col("doc_id") % 7 != 0)
    index.insert(idx_mem)
    got = _verdicts(probe_band_index(index, batch), batch)
    assert got == _verdicts(idx_mem, batch) and len(got) > 0


def test_min_doc_only_layout_lossless_for_verdicts(bands, index):
    """min-doc-per-key rows (the gate's index) must yield identical
    verdicts AND identical dup_of ids, including across append
    generations (several per-key min rows)."""
    batch = bands.where(F.col("doc_id") % 7 == 0)
    idx_mem = bands.where(F.col("doc_id") % 7 != 0)
    # two append generations, split mid-corpus
    index.insert(_min_doc(idx_mem.where(F.col("doc_id") % 3 == 1)))
    index.insert(_min_doc(idx_mem.where(F.col("doc_id") % 3 != 1)))
    got = _verdicts(probe_band_index(index, batch), batch, prefilter=False)
    assert got == _verdicts(idx_mem, batch) and len(got) > 0


def test_directory_partitioned_writes_only_in_table_and_formats():
    """One bucketed layout and one staged write: a DataFrameWriter
    ``.partitionBy(`` appears only in ``DistributedTable._staged``
    (``table.py``), which every insert, compaction and COW DML stages
    through, plus the hive-partitioned file sink of COPY/``write_df``
    (``sources/formats.py``), which partitions on user-named columns."""
    import os
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "duckdb_mpp_spark")
    writers = set()
    for root, _dirs, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(root, f)) as fh:
                    src = re.sub(r"Window\s*\.\s*partitionBy\(", "", fh.read())
                if ".partitionBy(" in src:
                    writers.add(os.path.relpath(os.path.join(root, f), pkg))
    assert writers == {"table.py", os.path.join("sources", "formats.py")}
