"""Parquet-backed table layer with upsert discipline.

Stands in for the reference's PostgreSQL storage: ``append_missing`` ≙
``INSERT ... ON CONFLICT DO NOTHING`` (processor.py:249-256, 326-333),
``upsert`` ≙ ``ON CONFLICT DO UPDATE`` (processor.py:395-401), ``overwrite``
≙ materialized-view refresh (processor.py:444-448).

Delta/Iceberg are not present in this environment, so merge semantics are
implemented as anti-join/union plans materialized via an atomic
staging-directory swap. On a production cluster the same call sites map 1:1
onto ``MERGE INTO`` against Delta/Iceberg tables (table-transactional,
concurrent-writer-safe) — this class is the seam where that swap happens.

Scale notes:
- ``append_missing`` reads only the key columns of the existing side
  (projection pushdown) and lets AQE broadcast the smaller side of the anti
  join; with a date/hemisphere-partitioned table, callers pre-filter the
  existing side to the touched partitions (partition pruning) so the anti
  join never scans history.
- Tables are written ``partitionBy`` the columns declared in
  ``PARTITIONING`` — date + hemisphere, mirroring the reference's B-tree
  read-path indexes (processor.py:286-288) with layout instead of indexes.
- Every write this class makes records the table's schema in a
  ``<table>/_schema.json`` sidecar (data columns, then partition columns:
  the order Spark's inference gives; Spark skips the file for its ``_``
  prefix). ``read`` hands it to the reader, so no read starts a
  footer-inference job; a table without the sidecar is inferred as before.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from icenetetl_spark.operators.relational import (
    insert_missing,
    predicate,
    upsert as upsert_plan,
)
from icenetetl_spark.operators.scale import cluster

PARTITIONING: dict[str, list[str]] = {
    "forecasts": ["hemisphere", "date_forecast_generated"],
    "cells": ["hemisphere"],
}

SCHEMA_FILE = "_schema.json"


def written_schema(dt: DataType) -> DataType:
    """The type a parquet round trip gives back for ``dt``: every field,
    array element and map value nullable, as Spark reads parquet files."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, written_schema(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(written_schema(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(written_schema(dt.keyType), written_schema(dt.valueType), True)
    return dt


class ParquetCatalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def exists(self, name: str) -> bool:
        """True iff the table directory holds at least one parquet data file
        (possibly nested under hive partition dirs). A dir containing only
        _SUCCESS markers or abandoned staging dirs is NOT a readable table."""
        p = self.path(name)
        if not os.path.isdir(p):
            return False
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def schema(self, name: str) -> StructType | None:
        """The schema recorded by the last write, None without a sidecar."""
        try:
            with open(os.path.join(self.path(name), SCHEMA_FILE)) as f:
                return StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    def read(self, name: str) -> DataFrame:
        schema = self.schema(name)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(self.path(name))

    def read_pruned(
        self, name: str, branches: Sequence[Sequence[tuple[str, str, object]]]
    ) -> DataFrame:
        """Read restricted to an OR of predicate conjunctions (each branch a
        list of ``(col, op, value)``): one scan with the literal disjunction
        pushed into it — Catalyst turns equality branches on layout columns
        into hive PartitionFilters, so only matching partition directories
        are listed. Branches may overlap; a row matching several is read
        once. Shared seam with TxnParquetCatalog.read_pruned (which skips
        write sets by manifest statistics, then runs the same one filtered
        scan), letting plan code like the latest-snapshot recompute stay
        catalog-agnostic."""
        return self.read(name).filter(predicate(branches))

    def _writer(self, df: DataFrame, name: str):
        w = df.write
        parts = PARTITIONING.get(name)
        return w.partitionBy(*parts) if parts else w

    @staticmethod
    def _layout_schema(name: str, schema: StructType) -> StructType:
        """``schema`` as a read of the ``_writer`` layout returns it: data
        columns, then the partition columns in directory order."""
        parts = PARTITIONING.get(name, [])
        fields = {f.name: f for f in written_schema(schema).fields}
        return StructType(
            [f for f in fields.values() if f.name not in parts]
            + [fields[p] for p in parts]
        )

    @staticmethod
    def _record_schema(path: str, schema: StructType) -> None:
        with open(os.path.join(path, SCHEMA_FILE), "w") as f:
            json.dump(schema.jsonValue(), f)

    def _create(self, name: str, df: DataFrame) -> int:
        """Write ``df`` as the whole table at its path; returns its rows,
        observed on the write job itself."""
        obs = Observation()
        counted = df.observe(obs, F.count(F.lit(1)).alias("n"))
        self._writer(counted, name).mode("overwrite").parquet(self.path(name))
        self._record_schema(self.path(name), self._layout_schema(name, df.schema))
        return obs.get["n"]

    def _swap_in(self, staging: str, name: str) -> None:
        target = self.path(name)
        if os.path.isdir(target):
            shutil.rmtree(target)
        os.rename(staging, target)

    def overwrite(self, name: str, df: DataFrame) -> None:
        """CREATE OR REPLACE TABLE AS SELECT — matview refresh semantics.
        Staged write + directory swap so a plan reading the old table can
        finish materializing before the old files disappear."""
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        self._writer(df, name).mode("overwrite").parquet(staging)
        self._record_schema(staging, self._layout_schema(name, df.schema))
        self._swap_in(staging, name)

    def append(self, name: str, df: DataFrame) -> None:
        """Add ``df``'s rows to the table. The sidecar stays only when the
        frame has the table's recorded schema: after any other append a
        read infers again."""
        created = not self.exists(name)
        self._writer(df, name).mode("append").parquet(self.path(name))
        schema = self._layout_schema(name, df.schema)
        if created:
            self._record_schema(self.path(name), schema)
        elif self.schema(name) not in (None, schema):
            os.unlink(os.path.join(self.path(name), SCHEMA_FILE))

    def append_missing(self, name: str, df: DataFrame, keys: Sequence[str]) -> int:
        """INSERT ... ON CONFLICT DO NOTHING. Returns rows appended.
        Idempotent: replaying the same batch appends nothing."""
        if not self.exists(name):
            return self._create(name, df)
        # the anti join puts the keys first; keep the frame's column order
        # so the appended files match the table's and its sidecar survives
        fresh = insert_missing(df, self.read(name), keys).select(*df.columns)
        # Materialize to staging before appending: `fresh` reads the target
        # table lazily, and appending while scanning the same files is racy.
        # The count rides the staging write; the append rewrite repacks the
        # staged small files.
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        obs = Observation()
        fresh.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(staging)
        n = obs.get["n"]
        if n:
            staged = self.spark.read.schema(written_schema(fresh.schema))
            self.append(name, staged.parquet(staging))
        shutil.rmtree(staging)
        return n

    def upsert(self, name: str, df: DataFrame, keys: Sequence[str]) -> None:
        """INSERT ... ON CONFLICT DO UPDATE (last-writer-wins on key)."""
        if not self.exists(name):
            self._create(name, df)
            return
        merged = upsert_plan(df, self.read(name), keys)
        self.overwrite(name, merged)

    def cluster_by(
        self,
        name: str,
        cols: Sequence[str],
        num_files: int | None = None,
        zorder: bool = False,
    ) -> None:
        """Rewrite the table clustered on ``cols`` so parquet min/max footer
        stats let filtered scans skip whole files/row-groups (this engine's
        replacement for the reference's secondary B-tree read-path indexes
        on date_forecast_for / cell_id, processor.py:286-288).

        ``zorder=False``: range-partition + sort — each file covers a
        disjoint range of the LEADING column (perfect skipping on it,
        nothing on the others). ``zorder=True`` (exactly 2 cols): cluster on
        the Morton-interleaved key (operators/scale.zorder_key) — Delta's
        OPTIMIZE ZORDER — so every file covers a small rectangle of BOTH
        dimensions and filters on either column skip files."""
        df = self.read(name)
        if num_files is None:
            num_files = max(8, df.rdd.getNumPartitions())
        clustered = cluster(df, cols, num_files, zorder)
        staging = self.path(f".staging-{name}-{uuid.uuid4().hex[:8]}")
        # plain (non-hive-partitioned) layout: clustering replaces
        # partitioning for high-cardinality columns
        clustered.write.mode("overwrite").parquet(staging)
        self._record_schema(staging, written_schema(clustered.schema))
        self._swap_in(staging, name)

    def compact(self, name: str, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        """Rewrite the table into ~target-sized files.

        Per-file micro-batch appends (streaming ingest: one file per trigger)
        accumulate small files, degrading scan parallelism and footer
        overhead — the lakehouse equivalent of index bloat. This is Delta's
        OPTIMIZE; here: size the partition count from on-disk bytes and
        rewrite through the atomic staging swap. Returns the file count
        after compaction.
        """
        total = 0
        for root, _dirs, files in os.walk(self.path(name)):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        n_parts = max(1, -(-total // target_file_bytes))  # ceil
        df = self.read(name).repartition(n_parts)
        self.overwrite(name, df)
        return sum(
            1
            for root, _d, files in os.walk(self.path(name))
            for f in files
            if f.endswith(".parquet")
        )
