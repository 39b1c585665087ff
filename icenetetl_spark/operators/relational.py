"""Reusable relational operators re-expressing the reference's Python/SQL
dataflow (SURVEY.md §2) as composable DataFrame transforms.

Every function is a pure logical-plan builder: no actions, no collects —
Catalyst sees the whole composed plan and optimizes across operator
boundaries (filter pushdown through joins, column pruning into the scan).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

# The (col, op, value) predicate vocabulary shared by the two catalog
# implementations (catalog.ParquetCatalog pushes it into a scan filter,
# txn.TxnParquetCatalog prunes manifests with it) — one table so an
# operator added for one side of the seam reaches the other.
PRED_OPS = {
    "==": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def predicate(branches: Sequence[Sequence[tuple[str, str, object]]]) -> Column:
    """The OR of ``branches``, each an AND of ``(col, op, value)`` triples,
    as one Column: an empty branch list is false, an empty branch true.
    Raises ValueError on an op outside ``PRED_OPS`` before any scan starts."""
    disj = F.lit(False)
    for branch in branches:
        conj = F.lit(True)
        for col, op, value in branch:
            if op not in PRED_OPS:
                raise ValueError(
                    f"unsupported predicate op {op!r}; use one of {sorted(PRED_OPS)}"
                )
            conj = conj & PRED_OPS[op](F.col(col), F.lit(value))
        disj = disj | conj
    return disj


def rename_normalize(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Conditionally rename columns that are present — old-format input
    compatibility, reference processor.py:125-133 (mean->sic_mean etc.).
    Mappings whose source column is absent are silently skipped.
    """
    present = {old: new for old, new in mapping.items() if old in df.columns}
    return df.withColumnsRenamed(present) if present else df


def latest_snapshot(df: DataFrame, col: str) -> DataFrame:
    """Rows whose ``col`` equals the global max — the reference's
    scalar-subquery filter (processor.py:430,
    ``WHERE date_forecast_generated = (SELECT max(...) ...)``).

    Implemented as an inner join against the 1-row aggregate with an explicit
    broadcast hint: at 100 TB the fact side streams through a broadcast hash
    join with zero shuffle (vs. a window-over-all-rows, which would shuffle
    the entire table into one partition).
    """
    mx = df.agg(F.max(F.col(col)).alias("__latest"))
    return df.join(
        F.broadcast(mx), F.col(col) == F.col("__latest"), "inner"
    ).drop("__latest")


def insert_missing(
    incoming: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Rows of ``incoming`` whose key is not already in ``existing`` —
    ``INSERT ... ON CONFLICT DO NOTHING`` (reference processor.py:249-256,
    326-333) as a left anti join. Appending the result to ``existing``'s
    table gives identical idempotent-upsert semantics.

    Scale note: the anti join shuffles both sides on the key unless one is
    broadcastable; for incremental ingest the *incoming* side is small, so
    Catalyst/AQE flips the build side automatically. When ``existing`` is a
    partitioned table, pre-filter it to the partitions incoming touches
    (partition pruning) before calling this.
    """
    return incoming.join(existing.select(*keys).distinct(), list(keys), "left_anti")


def upsert(
    incoming: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Last-writer-wins merge: every key from both sides, incoming rows
    replacing existing rows on key collision — ``ON CONFLICT DO UPDATE``
    (reference processor.py:395-401) without a transactional table format:
    the caller overwrites the table with the returned frame.

    With Delta/Iceberg available this is ``MERGE INTO ... WHEN MATCHED THEN
    UPDATE WHEN NOT MATCHED THEN INSERT``; the plan below is the same shuffle
    (join on keys) plus a union, and is what foreachBatch executes here.
    """
    kept = existing.join(incoming.select(*keys).distinct(), list(keys), "left_anti")
    return kept.unionByName(incoming)


def dedup_exact(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """GROUP-BY-as-distinct (reference processor.py:431 — matview GROUP BY
    with no aggregate functions)."""
    return df.dropDuplicates(list(keys))
