"""The benchmark's fixture tables.

``data/`` holds copies of the repository's test tables, checked in so that
a run reads only its own checkout:

- ``data/sf0.1``: ``orders`` (150k rows) and ``customer`` (15k) at TPC-H
  scale factor 0.1, for ``serving``;
- ``data/sf0.01``: ``orders``, ``customer`` and ``documents`` (500 docs),
  the inputs of the ``llm_pipeline`` gates.

The workload seed drives the operation script (``script.py``), never the
base data, so every run of a workload scans the same bytes and the gate
oracles see the same inputs.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture_dir(scale: str) -> str:
    return os.path.join(DATA_DIR, scale)


def read_fixtures(path: str) -> dict[str, pa.Table]:
    """Every ``<name>.parquet`` under ``path``, by name."""
    return {f[:-len(".parquet")]: pq.read_table(os.path.join(path, f))
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")}


def vocabulary(documents: pa.Table) -> list[str]:
    """The corpus's distinct words, sorted: new crawl documents are drawn
    from it."""
    return sorted({w for t in documents["text"].to_pylist() for w in t.split()})
