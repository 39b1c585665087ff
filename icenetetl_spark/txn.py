"""Optimistic-concurrency table commits over plain Parquet — the public
Delta/Iceberg transaction-log idea, jar-free.

:class:`ParquetCatalog` reproduces the reference's Postgres merge semantics
(processor.py:249-256, 326-333, 395-401) for a SINGLE writer: its atomic
directory swap loses one side when two writers race. This module closes that
gap the way lakehouse formats do publicly:

- A table is a ``data/`` directory of immutable write sets plus a
  ``_manifests/`` log. Manifest ``v{N}.json`` lists the data directories
  visible at version N; readers resolve the latest manifest and read
  exactly those files — never a raw directory listing.
- Each manifest also records ``schema``: the table's StructType JSON at
  that version. Readers hand it to the parquet reader, so a read starts no
  footer-inference job; a manifest without the key (written before it
  existed) is read by inference.
- Every write op runs through ONE commit loop, ``_commit``: read the base
  version and its manifest, let the op compute its attempt against that
  snapshot (writing its data first — invisible until referenced), then
  try to create ``v{N+1}.json`` with a hard link — the filesystem's
  compare-and-swap: exactly one contender can create a given name. The
  loser deletes the write sets its attempt made and RETRIES against the
  new snapshot, re-running its anti-join/merge so its decision is always
  based on the state it serialized after. (On HDFS the same CAS is atomic
  rename-without-overwrite; on S3, put-if-absent.)
- Every read runs through ONE pruned scan: a disjunction of predicate
  conjunctions drops the write sets whose manifest min/max statistics
  rule out every branch, scans the rest once and applies the disjunction
  as a residual row filter. ``read(where=...)`` is its one-branch case.

This gives serializable append_missing/upsert under concurrent writers:
every committed version is derived from the immediately preceding one, so
the history is a linear chain and ``ON CONFLICT`` semantics hold exactly.

Scale notes: the manifest holds directory names, not rows — O(commits)
metadata, independent of data size; readers cost one small JSON read.
``compact``/``vacuum`` bound file-count growth the way OPTIMIZE/VACUUM do.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from icenetetl_spark.catalog import written_schema
from icenetetl_spark.operators.relational import (
    insert_missing,
    predicate,
    upsert as upsert_plan,
)
from icenetetl_spark.operators.scale import cluster

Where = Sequence[tuple[str, str, object]]


class CommitConflict(Exception):
    """Another writer committed the version this transaction targeted."""


class _Attempt(NamedTuple):
    """One write op's outcome against one base snapshot. ``op=None`` means
    nothing to commit: ``result`` stands if the base is still current.
    ``new`` lists the write sets this attempt wrote, dropped if it loses
    the CAS or commits nothing."""

    result: object
    op: str | None = None
    dirs: Sequence[str] = ()
    stats: dict[str, dict] | None = None
    schema: StructType | None = None
    new: Sequence[str] = ()


def _json_stat(v):
    """JSON-safe manifest statistic. Temporal values become ISO strings
    (ISO ordering == temporal ordering, so range pruning stays valid);
    anything else non-primitive becomes None = "no statistic" (pruning
    falls back to keeping the write set)."""
    if isinstance(v, bool) or v is None:
        return v if v is None else bool(v)
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return None


def _manifest_schema(manifest: dict) -> StructType | None:
    schema = manifest.get("schema")
    return None if schema is None else StructType.fromJson(schema)


def _stats_columns(manifest: dict) -> list[str]:
    """Columns any write set of ``manifest`` keeps statistics on: rewrites
    carry them over so the table keeps its data-skipping metadata."""
    return sorted({c for s in manifest.get("stats", {}).values() for c in s})


def _widen(schema: StructType, other: StructType) -> StructType:
    """``schema`` with ``other``'s extra columns appended in order — the
    column order a ``mergeSchema`` read of both gives."""
    extra = [f for f in other.fields if f.name not in schema.names]
    return StructType(list(schema.fields) + extra)


def _may_match(minmax, op: str, value) -> bool:
    """Can ``col op value`` hold for any row of a write set with the given
    [min, max]? Unknown stats, all-null bounds, or cross-type comparisons
    all answer True — pruning is only ever an optimization."""
    if not minmax:
        return True
    lo, hi = minmax
    if lo is None or hi is None:
        return True
    if isinstance(value, (_dt.datetime, _dt.date)):
        value = value.isoformat()
    try:
        if op == "==":
            return lo <= value <= hi
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True
    raise ValueError(f"unsupported predicate op {op!r}")


class TxnParquetCatalog:
    """Manifest-logged catalog with optimistic concurrency.

    API-compatible with :class:`icenetetl_spark.catalog.ParquetCatalog`
    for read/append_missing/upsert/overwrite, safe for concurrent writers
    within and across processes sharing a filesystem.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        max_retries: int = 20,
        default_stats: dict[str, Sequence[str]] | None = None,
    ):
        """``default_stats`` maps table name -> columns whose min/max go
        into every write set's manifest entry unless the call site passes
        its own ``stats_cols`` — the seam that lets generic callers (the
        ingest pipeline writes through the ParquetCatalog-shaped API,
        which has no stats parameter) still get manifest-level data
        skipping on their layout keys."""
        self.spark = spark
        self.warehouse = warehouse
        self.max_retries = max_retries
        self.default_stats = {
            k: list(v) for k, v in (default_stats or {}).items()
        }
        os.makedirs(warehouse, exist_ok=True)

    def _stats_for(self, name: str, stats_cols: Sequence[str]) -> Sequence[str]:
        return stats_cols or self.default_stats.get(name, ())

    # -- layout -----------------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self.path(name), "_manifests")

    def _data_dir(self, name: str) -> str:
        return os.path.join(self.path(name), "data")

    @staticmethod
    def _vname(version: int) -> str:
        return f"v{version:016d}.json"

    def current_version(self, name: str) -> int:
        """Latest committed version, -1 for an absent/empty table."""
        mdir = self._manifest_dir(name)
        if not os.path.isdir(mdir):
            return -1
        versions = [
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions, default=-1)

    def _load_manifest(self, name: str, version: int) -> dict:
        with open(os.path.join(self._manifest_dir(name), self._vname(version))) as f:
            return json.load(f)

    def exists(self, name: str) -> bool:
        return self.current_version(name) >= 0

    # -- snapshot reads ---------------------------------------------------

    def version_at(self, name: str, ts: float) -> int:
        """Latest committed version whose commit timestamp is <= ``ts``
        (timestamp-based time travel, resolved from the manifest log's own
        ``ts`` fields — O(retained versions) small-JSON reads)."""
        latest = self.current_version(name)
        if latest < 0:
            raise FileNotFoundError(f"table {name!r} has no committed version")
        best = -1
        for v in range(latest + 1):
            try:
                m = self._load_manifest(name, v)
            except FileNotFoundError:  # vacuumed away
                continue
            if m.get("ts", float("inf")) <= ts:
                best = v
        if best < 0:
            raise FileNotFoundError(
                f"table {name!r} has no version at or before ts={ts}"
            )
        return best

    def read(
        self,
        name: str,
        version: int | None = None,
        where: Sequence[tuple[str, str, object]] | None = None,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """DataFrame over exactly the write sets the manifest references —
        uncommitted/orphaned data is invisible by construction. Passing
        ``version`` time-travels to an older snapshot (manifests are
        immutable, so old versions stay readable until vacuumed).

        ``where`` is a conjunction of simple predicates ``(col, op, value)``
        with op in {'==','<','<=','>','>='}. Write sets whose manifest
        min/max statistics prove the predicate can't match are never
        listed, never opened, never scanned — manifest-level data skipping,
        the public Iceberg idea. The same predicates are re-applied as a
        residual row filter, so pruning is purely an optimization: the
        result equals ``read(name).filter(...)`` whether or not any write
        set carries statistics. At cluster scale this turns a point/range
        lookup over a long-appended table into an O(matching write sets)
        scan driven by O(commits) JSON metadata.

        ``as_of_ts`` time-travels by commit timestamp instead of version
        number (mutually exclusive with ``version``)."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass either version or as_of_ts, not both")
            version = self.version_at(name, as_of_ts)
        v = self.current_version(name) if version is None else version
        return self._pruned_scan(name, v, [where] if where else None)

    def read_pruned(self, name: str, branches: Sequence[Where]) -> DataFrame:
        """Read restricted to an OR of predicate conjunctions: one scan over
        the write sets whose manifest statistics let ANY branch match, with
        the disjunction as the residual row filter. Branches may overlap; a
        row matching several is read once. The ParquetCatalog twin pushes
        the same disjunction into one hive-partitioned scan; both sides of
        the seam return an EMPTY frame for an empty disjunction (OR of
        nothing is false)."""
        return self._pruned_scan(name, self.current_version(name), branches)

    def _pruned_scan(
        self, name: str, version: int, branches: Sequence[Where] | None
    ) -> DataFrame:
        """Version ``version`` of the table, filtered by the disjunction
        ``branches`` (None: unfiltered). An all-pruned read is an empty
        frame with the table's schema."""
        if version < 0:
            raise FileNotFoundError(f"table {name!r} has no committed version")
        manifest = self._load_manifest(name, version)
        if not manifest["dirs"]:
            raise FileNotFoundError(f"table {name!r} v{version} is empty")
        schema = _manifest_schema(manifest)
        if branches is None:
            return self._scan(name, manifest["dirs"], schema)
        cond = predicate(branches)
        dirs = self._prune_dirs(manifest, branches)
        if not dirs:
            return self._scan(name, manifest["dirs"], schema).limit(0).filter(cond)
        return self._scan(name, dirs, schema).filter(cond)

    def _scan(
        self, name: str, dirs: Sequence[str], schema: StructType | None
    ) -> DataFrame:
        """Parquet scan of the write sets ``dirs``. A known table schema
        skips footer inference, and sets written before a column was added
        read it as NULL; without one, mergeSchema infers the same union —
        Delta-style additive schema evolution either way."""
        reader = self.spark.read.option("mergeSchema", "true")
        if schema is not None:
            reader = reader.schema(schema)
        base = self._data_dir(name)
        return reader.parquet(*[os.path.join(base, d) for d in dirs])

    @staticmethod
    def _prune_dirs(manifest: dict, branches: Sequence[Where]) -> list[str]:
        """Write-set names that MAY satisfy every conjunct of some branch. A
        dir without statistics for a predicate's column is always kept
        (pruning must never change results)."""
        stats = manifest.get("stats", {})
        return [
            d
            for d in manifest["dirs"]
            if any(
                all(
                    _may_match(stats.get(d, {}).get(col), op, value)
                    for col, op, value in branch
                )
                for branch in branches
            )
        ]

    # -- commit machinery -------------------------------------------------

    def _write_set(
        self, name: str, df: DataFrame, stats_cols: Sequence[str] = ()
    ) -> tuple[str, int, dict]:
        """Materialize ``df`` as a new immutable write set; returns
        (dir-name, row-count, {col: [min, max]}). Invisible until a
        manifest references it. Count and statistics are an Observation on
        the write job itself: collecting them reads nothing back and starts
        no job of its own."""
        d = f"ws-{uuid.uuid4().hex}"
        cols = [c for c in stats_cols if c in df.columns]
        aggs = [F.count(F.lit(1)).alias("n")]
        for i, c in enumerate(cols):
            aggs += [F.min(c).alias(f"min{i}"), F.max(c).alias(f"max{i}")]
        obs = Observation()
        df.observe(obs, *aggs).write.parquet(os.path.join(self._data_dir(name), d))
        row = obs.get
        stats = {
            c: [_json_stat(row[f"min{i}"]), _json_stat(row[f"max{i}"])]
            for i, c in enumerate(cols)
        }
        return d, row["n"], stats

    def _drop_write_set(self, name: str, d: str) -> None:
        shutil.rmtree(os.path.join(self._data_dir(name), d), ignore_errors=True)

    def _try_commit(
        self,
        name: str,
        base_version: int,
        dirs: list[str],
        op: str,
        stats: dict[str, dict] | None = None,
        schema: StructType | None = None,
    ) -> None:
        """CAS: publish v{base+1} if and only if nobody else has. The body
        is fully written (and fsynced) to a hidden temp file first, then
        hard-linked to the version name — ``link(2)`` fails with EEXIST if
        any other writer claimed it, and on success the manifest appears
        atomically with its complete content (no partially-written-JSON
        window for readers). HDFS maps this to rename-without-overwrite,
        S3 to put-if-absent."""
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        target = os.path.join(mdir, self._vname(base_version + 1))
        body = json.dumps(
            {
                "version": base_version + 1,
                "dirs": dirs,
                "op": op,
                "ts": time.time(),
                "stats": {d: s for d, s in (stats or {}).items() if d in dirs},
                "schema": None if schema is None else schema.jsonValue(),
            }
        )
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(body)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise CommitConflict(
                f"{name}: version {base_version + 1} already committed"
            ) from None
        finally:
            os.unlink(tmp)

    def _commit(
        self,
        name: str,
        attempt: Callable[[int, dict], _Attempt],
        create: Callable[[], _Attempt] | None = None,
    ):
        """The optimistic-commit loop every write op runs through: read the
        base version and its manifest, compute ``attempt(base, manifest)``
        against that snapshot, CAS it as v{base+1} through ``_try_commit``
        and return its result. A lost CAS drops the attempt's new write
        sets and retries against the winner's snapshot. An absent table is
        created by ``create``; ops without one need a committed version."""
        for _ in range(self.max_retries):
            base = self.current_version(name)
            if base >= 0:
                a = attempt(base, self._load_manifest(name, base))
            elif create is not None:
                a = create()
            else:
                raise FileNotFoundError(f"table {name!r} has no committed version")
            if a.op is None:
                for ws in a.new:
                    self._drop_write_set(name, ws)
                # nothing to commit relative to `base`; a concurrent
                # overwrite or delete could have changed that, so the
                # answer stands only while `base` is still current
                if self.current_version(name) == base:
                    return a.result
                continue
            try:
                self._try_commit(name, base, a.dirs, a.op, a.stats, a.schema)
                return a.result
            except CommitConflict:
                for ws in a.new:
                    self._drop_write_set(name, ws)
        raise CommitConflict(f"{name}: commit exceeded {self.max_retries} retries")

    def _create(self, name: str, df: DataFrame, stats_cols: Sequence[str]) -> _Attempt:
        """The first commit of ``append_missing``/``upsert``: ``df`` as
        the table's only write set."""
        ws, n, st = self._write_set(name, df, self._stats_for(name, stats_cols))
        return _Attempt(n, "create", [ws], {ws: st}, written_schema(df.schema), [ws])

    # -- public write ops -------------------------------------------------

    def overwrite(
        self, name: str, df: DataFrame, stats_cols: Sequence[str] = ()
    ) -> None:
        """CREATE OR REPLACE: new snapshot referencing only this write set.
        Blind write — no read-set to validate, so a conflict just means
        re-CAS at the next version (data files are already durable); the
        write set is dropped only when the retry budget runs out."""
        ws, _, st = self._write_set(name, df, self._stats_for(name, stats_cols))
        blind = _Attempt(None, "overwrite", [ws], {ws: st}, written_schema(df.schema))
        try:
            self._commit(name, lambda base, manifest: blind, lambda: blind)
        except CommitConflict:
            self._drop_write_set(name, ws)
            raise

    def append_missing(
        self,
        name: str,
        df: DataFrame,
        keys: Sequence[str],
        stats_cols: Sequence[str] = (),
    ) -> int:
        """INSERT ... ON CONFLICT DO NOTHING, serializable under races.

        Each attempt anti-joins against the snapshot it will CAS over; a
        lost CAS discards the now-possibly-stale write set and recomputes
        from the winner's snapshot — so two writers inserting the same key
        concurrently commit it exactly once, whichever order they land.
        Returns rows actually appended (idempotent replay returns 0)."""

        def attempt(base: int, manifest: dict) -> _Attempt:
            existing = self.read(name, base)
            fresh = insert_missing(df, existing, keys)
            ws, n, st = self._write_set(name, fresh, self._stats_for(name, stats_cols))
            if n == 0:
                return _Attempt(0, new=[ws])
            return _Attempt(
                n,
                "append_missing",
                manifest["dirs"] + [ws],
                {**manifest.get("stats", {}), ws: st},
                _widen(existing.schema, written_schema(fresh.schema)),
                [ws],
            )

        return self._commit(
            name, attempt, lambda: self._create(name, df, stats_cols)
        )

    def upsert(
        self,
        name: str,
        df: DataFrame,
        keys: Sequence[str],
        stats_cols: Sequence[str] = (),
    ) -> None:
        """INSERT ... ON CONFLICT DO UPDATE (last-writer-wins per key),
        serializable: the merge is recomputed against the exact snapshot
        the CAS extends, so concurrent upserts of disjoint keys both
        survive and same-key races resolve to the later committed merge."""

        def attempt(base: int, manifest: dict) -> _Attempt:
            merged = upsert_plan(df, self.read(name, base), keys)
            ws, _, st = self._write_set(name, merged, self._stats_for(name, stats_cols))
            return _Attempt(
                None, "upsert", [ws], {ws: st}, written_schema(merged.schema), [ws]
            )

        self._commit(name, attempt, lambda: self._create(name, df, stats_cols))

    def delete_where(
        self,
        name: str,
        where: Sequence[tuple[str, str, object]],
        stats_cols: Sequence[str] = (),
    ) -> int:
        """Row-level DELETE (the right-to-be-forgotten operation a
        training-data table must support): rewrite WITHOUT the matching
        rows as a new snapshot, serializable under concurrent writers via
        the same CAS loop — a concurrent append that loses the race is
        recomputed against the post-delete snapshot, and vice versa.
        Returns rows deleted. Write sets whose statistics prove they hold
        no matching rows are REUSED by reference (their files are not
        rewritten): a targeted delete from a well-clustered table rewrites
        only the affected write sets, not the table."""
        if not where:
            raise ValueError("delete_where requires at least one predicate")
        # SQL DELETE removes rows where the predicate is TRUE; a NULL
        # predicate (e.g. a column added by schema evolution that old
        # write sets read as NULL) must KEEP the row — a bare ~pred would
        # drop it under three-valued logic
        survives = ~F.coalesce(predicate([where]), F.lit(False))

        def attempt(base: int, manifest: dict) -> _Attempt:
            touched = self._prune_dirs(manifest, [where])
            if not touched:
                return _Attempt(0)
            schema = _manifest_schema(manifest)
            before = Observation()
            survivors = (
                self._scan(name, touched, schema)
                .observe(before, F.count(F.lit(1)).alias("n"))
                .filter(survives)
            )
            ws, n_after, st = self._write_set(
                name, survivors, stats_cols or _stats_columns(manifest)
            )
            deleted = before.get["n"] - n_after
            if deleted == 0:
                # stats said "may match" but nothing actually did
                return _Attempt(0, new=[ws])
            # the rewritten set is referenced even when empty: its 0-row
            # parquet carries the schema, so a delete-everything leaves a
            # readable, appendable empty table instead of dirs=[]
            kept = [d for d in manifest["dirs"] if d not in touched]
            return _Attempt(
                deleted,
                "delete",
                kept + [ws],
                {**manifest.get("stats", {}), ws: st},
                schema,
                [ws],
            )

        return self._commit(name, attempt)

    # -- maintenance ------------------------------------------------------

    def table_changes(
        self,
        name: str,
        from_version: int,
        to_version: int | None = None,
        keys: Sequence[str] = (),
    ) -> DataFrame:
        """Row-level change feed between two committed snapshots (the
        Delta Lake change-data-feed idea, computed from immutable write
        sets instead of logged change files): every table column plus
        ``_change_type`` in {'insert', 'delete', 'update_preimage',
        'update_postimage'}.

        Manifest-level pruning does the heavy lifting: write sets shared
        by both manifests reference the SAME immutable files, so their
        rows cannot differ — only the symmetric difference of the two
        dir lists is ever scanned. An upsert that rewrites the table
        diffs rewritten-set vs rewritten-set; an append diffs one new
        set against nothing; unchanged history costs zero I/O.

        Requires ``keys`` to be unique per snapshot — the invariant
        append_missing/upsert/delete_where maintain. Value changes are
        detected by xxhash64 over the non-key columns (null-safe,
        deterministic); schema-evolved snapshots align by name with
        missing columns read as NULL, so adding a column does not flag
        untouched rows."""
        if not keys:
            raise ValueError("table_changes requires the table's key columns")
        v2 = self.current_version(name) if to_version is None else to_version
        m1 = self._load_manifest(name, from_version)
        m2 = self._load_manifest(name, v2)
        d1, d2 = set(m1["dirs"]), set(m2["dirs"])
        only1, only2 = sorted(d1 - d2), sorted(d2 - d1)
        # schema source: both manifests' schemas; for older manifests
        # without one, inference over the differing write sets only —
        # shared sets are not even footer-read. Under additive evolution
        # the newest sets (always in the diff of a changing table) carry
        # the union schema; the same-version case falls back to the v2
        # manifest.
        s1, s2 = _manifest_schema(m1), _manifest_schema(m2)
        schema = _widen(s2, s1) if s1 is not None and s2 is not None else None
        src = (only1 + only2) or m2["dirs"]
        empty = (
            self._scan(name, src, schema)
            .limit(0)
            .withColumn("_change_type", F.lit(""))
        )
        if not only1 and not only2:
            return empty
        ordered = [c for c in empty.columns if c != "_change_type"]

        def _subset(dirs: list[str]) -> DataFrame:
            if not dirs:
                return empty.select(*ordered)
            df = self._scan(name, dirs, schema)
            for c in ordered:
                if c not in df.columns:
                    df = df.withColumn(
                        c, F.lit(None).cast(empty.schema[c].dataType)
                    )
            return df.select(*ordered)

        old, new = _subset(only1), _subset(only2)
        val_cols = sorted(c for c in ordered if c not in keys)
        row_hash = (
            F.xxhash64(*[F.col(c) for c in val_cols])
            if val_cols
            else F.lit(0).cast("long")
        )
        oldh = old.withColumn("__h", row_hash)
        newh = new.withColumn("__h", row_hash)
        klist = list(keys)
        inserts = newh.join(oldh.select(klist), klist, "leftanti").withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = oldh.join(newh.select(klist), klist, "leftanti").withColumn(
            "_change_type", F.lit("delete")
        )
        changed = (
            oldh.select(*klist, F.col("__h").alias("__h_old"))
            .join(newh.select(*klist, "__h"), klist)
            .filter(F.col("__h") != F.col("__h_old"))
            .select(klist)
        )
        pre = oldh.join(changed, klist, "leftsemi").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = newh.join(changed, klist, "leftsemi").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        out = inserts.unionByName(deletes).unionByName(pre).unionByName(post)
        return out.select(*ordered, "_change_type")

    def restore(self, name: str, version: int) -> int:
        """Delta-style RESTORE: roll the table back to an older snapshot by
        committing a NEW version whose manifest references the old
        version's write sets (history is preserved — a rollback is itself
        an auditable commit, and the rolled-back versions stay readable
        until vacuumed). Serializable via the same CAS loop as every
        write; returns the new head version.

        The restored manifest re-references the old write sets BY NAME, so
        no data is copied and vacuum keeps them alive as long as a
        retained manifest points at them."""

        def attempt(base: int, manifest: dict) -> _Attempt:
            old = self._load_manifest(name, version)
            return _Attempt(
                base + 1,
                f"restore:v{version}",
                list(old["dirs"]),
                dict(old.get("stats", {})),
                _manifest_schema(old),
            )

        return self._commit(name, attempt)

    def vacuum(
        self, name: str, keep_versions: int = 1, min_age_s: float = 3600.0
    ) -> int:
        """Delete write sets referenced by NO retained manifest (crash
        orphans and superseded snapshots) and manifests older than the
        retained window. Returns directories removed. Like Delta VACUUM,
        concurrent readers of vacuumed-away old versions would break —
        ``keep_versions`` is that retention window.

        ``min_age_s`` protects LIVE writers: a concurrent commit
        materializes its write set BEFORE the manifest references it, so
        an unreferenced-but-fresh directory may belong to an in-flight
        transaction — only directories older than the window are removed
        (Delta's retention-check, defaulting to 1 hour; tests pass 0)."""
        latest = self.current_version(name)
        if latest < 0:
            return 0
        keep = range(max(0, latest - keep_versions + 1), latest + 1)
        referenced: set[str] = set()
        for v in keep:
            # versions inside the window may already have been dropped by
            # an earlier, tighter vacuum — retain what remains
            try:
                referenced |= set(self._load_manifest(name, v)["dirs"])
            except FileNotFoundError:
                continue
        removed = 0
        now = time.time()
        ddir = self._data_dir(name)
        for d in os.listdir(ddir) if os.path.isdir(ddir) else []:
            full = os.path.join(ddir, d)
            try:
                fresh = now - os.path.getmtime(full) < min_age_s
            except OSError:
                continue
            if d not in referenced and not fresh:
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        # crashed compacts leave staging dirs; same age gate as above
        sdir = os.path.join(self.path(name), "_staging")
        for d in os.listdir(sdir) if os.path.isdir(sdir) else []:
            full = os.path.join(sdir, d)
            try:
                if now - os.path.getmtime(full) >= min_age_s:
                    shutil.rmtree(full, ignore_errors=True)
                    removed += 1
            except OSError:
                pass
        mdir = self._manifest_dir(name)
        for f in os.listdir(mdir):
            if f.startswith("v") and f.endswith(".json"):
                if int(f[1:-5]) < keep.start:
                    os.unlink(os.path.join(mdir, f))
        return removed

    def compact(
        self,
        name: str,
        num_files: int = 8,
        cluster_by: Sequence[str] = (),
        zorder: bool = False,
    ) -> None:
        """OPTIMIZE: rewrite the current snapshot as one write set. Just an
        ``overwrite`` of a coalesced self-read — the CAS loop makes it safe
        to run while writers are active (their commits simply land after).
        Statistics columns carry over from the current manifest so a
        compacted table keeps its data-skipping metadata.

        ``cluster_by`` range-partitions and sorts the rewrite on those
        columns (Delta's OPTIMIZE ... ZORDER idea, linearized): each output
        write set then covers a narrow, non-overlapping value range, so the
        manifest min/max statistics become tight and ``read(where=...)``
        pruning is effective even when the original ingest order was
        uncorrelated with the query key. One clustered write set is
        committed per range partition (a single-write-set compact would
        collapse the manifest to one all-covering range and prune
        nothing).

        ``zorder=True`` (exactly two cluster columns) clusters on the
        Morton-interleaved key instead of the linear sort — Delta's
        OPTIMIZE ZORDER: each write set then covers a narrow range in
        BOTH dimensions, so predicates on either column alone still
        prune, where linear clustering only serves its leading column.

        Concurrency: the rewrite CASes against EXACTLY the version it
        read. A concurrent commit landing first makes the rewrite stale —
        the loser discards its write sets and recompacts from the new
        snapshot, so no concurrently committed rows are ever dropped
        (a re-CAS of the stale rewrite at the next version would silently
        erase the interleaved commit)."""

        def attempt(base: int, manifest: dict) -> _Attempt:
            stats_cols = _stats_columns(manifest)
            current = self.read(name, base)
            if not cluster_by:
                ws, _, st = self._write_set(
                    name, current.coalesce(num_files), stats_cols
                )
                write_sets = {ws: st}
            else:
                write_sets = self._clustered_write_sets(
                    name,
                    cluster(current, cluster_by, num_files, zorder),
                    num_files,
                    sorted(set(stats_cols) | set(cluster_by)),
                )
            new = list(write_sets)
            return _Attempt(None, "compact", new, write_sets, current.schema, new)

        self._commit(name, attempt)

    def _clustered_write_sets(
        self,
        name: str,
        clustered: DataFrame,
        num_parts: int,
        stats_cols: Sequence[str],
    ) -> dict[str, dict]:
        """Materialize the clustered rewrite: ONE write job produces every
        range partition as its own directory (partitionBy keys the layout
        on __pid); each becomes an independent write set so manifest stats
        describe disjoint ranges. ``clustered`` has ``num_parts`` range
        partitions (``scale.cluster``). As in ``_write_set``, counts and
        stats are an Observation on the write job — a count per range
        partition, a min and max per (range partition, column) — so
        nothing is read back."""
        clustered = clustered.withColumn("__pid", F.spark_partition_id())
        aggs = []
        for p in range(num_parts):
            hit = F.col("__pid") == p
            aggs.append(F.count(F.when(hit, 1)).alias(f"n{p}"))
            for i, c in enumerate(stats_cols):
                v = F.when(hit, F.col(c))
                aggs += [F.min(v).alias(f"min{p}_{i}"), F.max(v).alias(f"max{p}_{i}")]
        staging = os.path.join(
            self.path(name), "_staging", f"compact-{uuid.uuid4().hex}"
        )
        obs = Observation()
        clustered.observe(obs, *aggs).write.partitionBy("__pid").parquet(staging)
        row = obs.get
        write_sets: dict[str, dict] = {}
        for p in range(num_parts):
            if not row[f"n{p}"]:
                continue  # an empty range partition writes no directory
            ws = f"ws-{uuid.uuid4().hex}"
            os.rename(
                os.path.join(staging, f"__pid={p}"),
                os.path.join(self._data_dir(name), ws),
            )
            write_sets[ws] = {
                c: [_json_stat(row[f"min{p}_{i}"]), _json_stat(row[f"max{p}_{i}"])]
                for i, c in enumerate(stats_cols)
            }
        shutil.rmtree(staging, ignore_errors=True)
        return write_sets
