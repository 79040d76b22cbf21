"""ColocatedTable — append-only distributed table backed by Spark NATIVE
bucketed storage, the co-located-join flavor of the MPP layer.

The reference's core MPP promise is that two tables hash-distributed on the
same key join WITHOUT redistributing either side (its router pairs shard i
of t1 with shard i of t2 on the same worker). The directory-per-bucket
``DistributedTable`` can't express that to Catalyst — a plain parquet scan
reports no output partitioning, so every join shuffles both sides. This
flavor stores data with ``df.write.bucketBy(n, key)``: the scan node then
REPORTS ``HashPartitioning(key, n)``, and a join of two tables bucketed on
their join keys with equal bucket counts plans with ZERO Exchange on the
join keys (verified by plan assertion in tests/test_colocated.py) — Spark's
idiomatic equivalent of shard-co-located execution, and the difference
between shuffling 2×100 TB and shuffling nothing.

Bucket-id parity: Spark's bucketed writer assigns files by
``pmod(murmur3_hash(key), n)`` — the same expression ``DistributedTable``
routes with (``F.hash`` IS Murmur3), so ``pruning.py``'s derived bucket ids
stay truthful here and the ``EXPLAIN … Shards: k/n`` contract carries over
unchanged. Native bucket pruning (``SelectedBucketsCount: k out of n`` on
=/IN/OR-of-= predicates) engages when
``spark.sql.sources.bucketing.autoBucketedScan.enabled=false``; with the
default ``true`` Spark deliberately reads small single-table scans
non-bucketed for split parallelism — at 100 TB a point-lookup-heavy
deployment sets it false, an aggregation-heavy one leaves it on.

Trade-offs vs the COW flavor (both are real MPP designs; the reference's
shards are closer to this one — DuckDB tables, no file-level COW):
- UPDATE/DELETE are rejected (append-only); compact()/rowid need the
  directory layout and are likewise unsupported.
- Table metadata lives in Spark's session catalog (in-memory on local
  builds); the MPP catalog is the durable source of truth and re-registers
  the identifier on first touch — ``CREATE TABLE … CLUSTERED BY … LOCATION``
  over the existing files, a metadata-only operation at any scale.

Reference parity: create_distributed_table.cpp:60-118 (hash distribution by
partition column), mpp_table_scan.cpp scatter-gather (here: bucketed scan),
co-located shard join per README's distributed-join description.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from duckdb_mpp_spark.table import DistributedTable


def _bq(ident: str) -> str:
    """Backtick-quote a SQL identifier (escaping embedded backticks) — the
    table/column names reach CREATE TABLE text, and names the python API
    accepts (hyphens, spaces, reserved words) must not break the COLOCATED
    flavor or smuggle SQL (review r6)."""
    return "`" + ident.replace("`", "``") + "`"


class ColocatedTable(DistributedTable):
    """Append-only bucketed table; see module docstring."""

    @property
    def ident(self) -> str:
        """Session-catalog identifier: unique per (warehouse, name, oid) so
        concurrent MppSessions over different warehouses never collide, and a
        DROP+CREATE of the same name gets a fresh identity (oid bump). The
        user-supplied name is reduced to a sanitized slug (the oid+hash keep
        identity, so slug collisions between different names are harmless);
        quoting at the use sites handles whatever remains."""
        wh = hashlib.md5(self.catalog.warehouse.encode()).hexdigest()[:6]
        # actually sanitize (ADVICE r6): the docstring promised a slug but
        # the raw name was interpolated, leaving safety to every use site
        # remembering _bq() — strip to [A-Za-z0-9_] so even an unquoted
        # future use cannot break or smuggle SQL
        slug = re.sub(r"[^A-Za-z0-9_]+", "_", self.meta.name) or "t"
        return f"mpp_{slug}_{self.meta.oid}_{wh}"

    @property
    def _sql_schema(self) -> str:
        return ", ".join(
            f"{_bq(f.name)} {f.dataType.simpleString()}"
            for f in self.meta.schema.fields
        )

    def ensure_registered(self) -> None:
        """Idempotently (re-)attach the bucketed table to Spark's session
        catalog. Metadata-only: points at the warehouse directory, declares
        the bucketing spec so scans report HashPartitioning."""
        import os

        os.makedirs(self.path, exist_ok=True)  # quiet first-touch listing
        key = _bq(self.meta.partition_column)
        loc = self.path.replace("'", "\\'")
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {_bq(self.ident)} ({self._sql_schema}) "
            f"USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {self.meta.buckets} BUCKETS LOCATION '{loc}'"
        )

    def unregister(self) -> None:
        """Drop the session-catalog entry (files stay — DROP parity with the
        reference, mpp_schema_entry.cpp:141-156)."""
        self.spark.sql(f"DROP TABLE IF EXISTS {_bq(self.ident)}")

    # -- write path -------------------------------------------------------
    def insert(self, df: DataFrame) -> int:
        """Bucketed append. The bucketBy writer shuffles on the key exactly
        once (same cost as the directory flavor's repartition) and tags each
        file with its bucket id; SORTED BY keeps files key-ordered so
        bucketed sort-merge joins skip the per-partition sort when file
        counts allow."""
        self.ensure_registered()
        aligned = df.select(*self._insert_columns(df))
        obs = Observation()
        aligned = aligned.observe(obs, F.count(F.lit(1)).alias("cnt"))
        key = self.meta.partition_column
        (
            aligned.repartition(self.meta.buckets, key)
            .write.bucketBy(self.meta.buckets, key)
            .sortBy(key)
            .mode("append")
            .option("path", self.path)
            .saveAsTable(_bq(self.ident))
        )
        return int(obs.get["cnt"])

    # -- read path --------------------------------------------------------
    def scan(
        self,
        where: str | None = None,
        columns: list[str] | None = None,
        keep_bucket: bool = False,
        qualifiers: set[str] | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Catalog-backed scan. No __bucket partition column exists here;
        bucket pruning is Spark-native (see module docstring), so the derived
        predicate machinery is bypassed — ``pruned_bucket_ids`` (inherited)
        still answers EXPLAIN's ``Shards: k/n``."""
        if keep_bucket:
            raise NotImplementedError(
                "COLOCATED tables do not expose __bucket (no COW DML)"
            )
        if version is not None:
            # signature parity with DistributedTable.scan so the shared
            # call sites fail loudly, not with a TypeError (review r4)
            raise NotImplementedError(
                "VERSION AS OF is not supported on COLOCATED tables "
                "(no snapshot commit log; use the directory-per-bucket flavor)"
            )
        self.ensure_registered()
        df = self.spark.table(_bq(self.ident))
        if where:
            df = df.where(where)
        return df.select(*(columns or [f.name for f in self.meta.schema.fields]))

    # -- unsupported surface ----------------------------------------------
    def scan_with_rowid(self, *a, **k):
        raise NotImplementedError("rowid requires the directory-per-bucket layout")

    def compact(self, *a, **k):
        raise NotImplementedError(
            "compact() requires the directory-per-bucket layout"
        )
