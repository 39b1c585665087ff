"""The IceNet ingest pipeline — the reference's five-stage lifecycle
(azfunctions/InputBlobTrigger/__init__.py:22-26: load -> update_geometries ->
update_forecasts -> update_latest_forecast -> update_forecast_meta)
re-expressed as DataFrame plans over a Parquet/Delta table layer.

One ``run()`` call ≙ one blob-trigger invocation (one NetCDF file). The
pipeline is idempotent by construction — replaying a file is a no-op for the
fact tables (anti-join insert ≙ ON CONFLICT DO NOTHING) and a deterministic
overwrite for the rollup/matview — which is the reference's core operational
invariant (README.md:42-51: retry = re-upload the blob).

Scale notes (100 TB of forecasts):
- ``forecasts`` is partitioned by (hemisphere, date_forecast_generated); each
  ingest touches exactly one partition, so the dedup anti join prunes to that
  partition instead of scanning history.
- The cell lookup join broadcasts the cells table (~187k rows/hemisphere ≪
  broadcast threshold) — same strategy the reference hand-rolls by preloading
  cells into pandas (processor.py:296-321).
- ``update_latest`` recomputes only from the max-generation-date partitions;
  ``update_meta`` recomputes the full rollup exactly like the reference
  (processor.py:385-394) — kept for semantic parity; the incremental variant
  (merge only the touched generation date) is a one-line change documented in
  ARCHITECTURE.md.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from icenetetl_spark.catalog import PARTITIONING, ParquetCatalog
from icenetetl_spark.functions.geo import build_cell_grid
from icenetetl_spark.functions.reproject import ring_4326_wkt
from icenetetl_spark.operators.relational import latest_snapshot, rename_normalize
from icenetetl_spark.operators.sampling import sequential_id
from icenetetl_spark.schemas import SRID_BY_HEMISPHERE

# Old-format variable compatibility, processor.py:126-133
RENAME_MAP = {"mean": "sic_mean", "stddev": "sic_stddev"}

# Columns dropped after derivation, processor.py:170-180
DROP_COLS = ["yc", "xc", "leadtime", "Lambert_Azimuthal_Grid", "lat", "lon"]


@dataclass
class FileAttrs:
    """Per-file NetCDF global attributes (processor.py:137-150)."""

    geospatial_lat_max: float | None = None
    geospatial_lat_min: float | None = None
    keywords: str = ""


def classify_hemisphere(attrs: FileAttrs) -> str:
    """Hemisphere routing predicate, processor.py:137-153: geospatial attrs
    first, keyword sniff fallback, error if unresolvable."""
    if attrs.geospatial_lat_max is not None and attrs.geospatial_lat_max > 80:
        return "north"
    if attrs.geospatial_lat_min is not None and attrs.geospatial_lat_min < -80:
        return "south"
    kw = (attrs.keywords or "").lower()
    # Exclusivity check, processor.py:145-148: route on a keyword only when
    # exactly ONE hemisphere is named — a file mentioning both is ambiguous
    # and must fail loudly, not land in the wrong hemisphere partition.
    has_north, has_south = "north" in kw, "south" in kw
    if has_north and not has_south:
        return "north"
    if has_south and not has_north:
        return "south"
    from icenetetl_spark.errors import HemisphereUnresolvedError

    raise HemisphereUnresolvedError(
        "unable to identify hemisphere from file attributes"
        + (" (keywords name both hemispheres)" if has_north and has_south else "")
    )


def normalize_forecasts(raw: DataFrame, hemisphere: str) -> DataFrame:
    """load() stage, processor.py:117-190: rename-normalize old variables,
    filter sic_mean > 0, drop rows with ANY null (dropna 'any' semantics —
    a null stddev drops the row even when mean > 0; replicated exactly, see
    SURVEY.md §7 hard-part 6), derive metre coords + forecast date, project.
    """
    df = rename_normalize(raw, RENAME_MAP)
    df = df.filter(F.col("sic_mean") > 0).na.drop("any")
    df = (
        df.withColumn("xc_m", F.floor(F.col("xc") * 1000).cast("int"))
        .withColumn("yc_m", F.floor(F.col("yc") * 1000).cast("int"))
        .withColumn(
            "time_forecast", F.timestamp_add("DAY", F.col("leadtime"), F.col("time"))
        )
        .withColumn("hemisphere", F.lit(hemisphere))
    )
    return df.drop(*[c for c in DROP_COLS if c in df.columns])


def raw_axes(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Full coordinate axes from the UN-filtered file. The reference builds
    cells and mean_step_size from the raw xc/yc coordinate arrays
    (processor.py:156-157, 218-219) BEFORE any sic_mean/null masking — real
    sea-ice data masks most cells, and deriving the axes post-filter would
    leave holes and shrunken extremes, overestimating (max-min)/(count-1)
    and freezing oversized polygons into the cells table."""
    xs = (
        raw.select(F.floor(F.col("xc") * 1000).cast("int").alias("centroid_x"))
        .na.drop()
        .distinct()
    )
    ys = (
        raw.select(F.floor(F.col("yc") * 1000).cast("int").alias("centroid_y"))
        .na.drop()
        .distinct()
    )
    return xs, ys


def surrogate_cell_id() -> F.Column:
    """Deterministic replacement for SERIAL (processor.py:201): stable across
    runs/executors, no single-partition window bottleneck."""
    return F.xxhash64("hemisphere", "centroid_x", "centroid_y")


def portable_cell_id() -> F.Column:
    """Bit-packed natural cell key ((centroid_x << 32) | centroid_y) —
    the SQL-reproducible surrogate used by the hash-gated queries (see
    latest_view_plan's cell_id note). Collision-free for two int32s,
    pure codegen arithmetic."""
    return F.shiftleft(F.col("centroid_x").cast("long"), 32).bitwiseOR(
        F.col("centroid_y").cast("long").bitwiseAND(F.lit(0xFFFFFFFF))
    )


class IceNetPipeline:
    """Runs against either catalog implementation (duck-typed seam):

    - :class:`icenetetl_spark.catalog.ParquetCatalog` — single-writer,
      hive-partitioned layout, atomic directory swaps.
    - :class:`icenetetl_spark.txn.TxnParquetCatalog` (via
      :func:`make_txn_catalog`) — manifest log + CAS commits; safe for
      CONCURRENT ingests: append_missing/upsert serialize per table, so
      ``forecasts``/``cells``/``forecast_meta`` never lose rows under
      racing writers (reference semantics: row-atomic ON CONFLICT,
      processor.py:249-256). Cross-TABLE consistency matches the
      reference's function model, which also runs each statement
      non-transactionally: the ``forecast_latest``/``forecast_meta``
      derived tables are recomputed deterministically from ``forecasts``,
      so a racing refresh can briefly lag the fact table and the LAST
      refresh converges (pinned by test_txn_pipeline_concurrent_ingest).
    """

    def __init__(self, catalog: ParquetCatalog):
        self.catalog = catalog

    # -- stage 2: update_geometries (processor.py:192-266) ---------------
    def update_geometries(self, raw: DataFrame, hemisphere: str) -> None:
        """Takes the RAW (pre-filter) frame: cells and spacing come from the
        full coordinate axes (processor.py:156-157), not the rows surviving
        the sic_mean>0 / dropna mask — see raw_axes."""
        xs, ys = raw_axes(raw)
        grid = build_cell_grid(xs, ys).withColumn("hemisphere", F.lit(hemisphere))
        # ST_Transform(geom, 4326) twin (processor.py:252): vectorized LAEA
        # inverse, Arrow-batched — runs once per cell, not per forecast row.
        cells = grid.select(
            surrogate_cell_id().alias("cell_id"),
            "hemisphere",
            "centroid_x",
            "centroid_y",
            "geom_laea_wkt",
            F.lit(SRID_BY_HEMISPHERE[hemisphere]).alias("srid_laea"),
            ring_4326_wkt(
                F.col("centroid_x"),
                F.col("centroid_y"),
                F.col("half_step"),
                F.col("hemisphere"),
            ).alias("geom_4326_wkt"),
        )
        # UNIQUE(centroid_x, centroid_y) per hemisphere, processor.py:206
        self.catalog.append_missing(
            "cells", cells, ["hemisphere", "centroid_x", "centroid_y"]
        )

    # -- stage 3: update_forecasts (processor.py:268-344) ----------------
    def update_forecasts(self, forecasts: DataFrame, hemisphere: str) -> None:
        cells = self.catalog.read("cells").filter(
            F.col("hemisphere") == hemisphere
        ).select("cell_id", "centroid_x", "centroid_y")
        facts = (
            forecasts.join(
                F.broadcast(cells),
                (forecasts.xc_m == cells.centroid_x)
                & (forecasts.yc_m == cells.centroid_y),
                "left",
            )
            .select(
                F.lit(None).cast("long").alias("forecast_id"),
                "hemisphere",
                F.to_date("time").alias("date_forecast_generated"),
                F.to_date("time_forecast").alias("date_forecast_for"),
                "cell_id",
                F.col("sic_mean").alias("sea_ice_concentration_mean"),
                F.col("sic_stddev").alias("sea_ice_concentration_stddev"),
            )
        )
        facts = facts.withColumn(
            "forecast_id",
            F.xxhash64(
                "hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"
            ),
        )
        # UNIQUE(date_generated, date_for, cell_id), processor.py:283
        self.catalog.append_missing(
            "forecasts",
            facts,
            ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"],
        )

    # -- stage 4: update_latest_forecast (processor.py:409-451) ----------
    def update_latest(self) -> None:
        self.catalog.overwrite("forecast_latest", self.latest_frame())

    def latest_pruned(self) -> DataFrame:
        """The per-hemisphere latest snapshot with the max dates applied as
        LITERAL partition filters — this is the stage whose scan must prune
        (exposed separately because the downstream sequential_id pins its
        input with a checkpoint, hiding the scan from the final plan)."""
        forecasts = self.catalog.read("forecasts")
        # Per-hemisphere latest snapshot (the reference has one matview per
        # hemisphere table; max is taken within each, processor.py:430).
        # The max is COLLECTED (k rows, k = #hemispheres = 2 — partition
        # metadata, not data; the aggregate reads only partition columns, an
        # empty-schema scan) and applied as a LITERAL filter: with forecasts
        # partitioned by (hemisphere, date_forecast_generated) this prunes at
        # the file index, so the recompute scans ONLY the max-date partitions
        # (asserted by tests/test_icenet_pipeline.py plan inspection). A
        # broadcast join against the 1-row aggregate would NOT prune: Spark
        # only inserts a dynamic-pruning subquery when the build side has a
        # selective predicate, which a bare max() is not — the join form
        # scans the full history at 100 TB.
        per_hemi_max = forecasts.groupBy("hemisphere").agg(
            F.max("date_forecast_generated").alias("__latest")
        )
        # read_pruned is the catalog seam: both catalogs run one scan
        # filtered by the disjunction. ParquetCatalog lists only matching
        # partitions (hive PartitionFilters); the txn catalog opens only
        # write sets whose manifest statistics may match some branch —
        # either way the recompute reads only the max-date data.
        branches = [
            [
                ("hemisphere", "==", r["hemisphere"]),
                ("date_forecast_generated", "==", r["__latest"]),
            ]
            for r in per_hemi_max.collect()
        ]
        if not branches:
            return forecasts.filter(F.lit(False))
        return self.catalog.read_pruned("forecasts", branches)

    def latest_frame(self) -> DataFrame:
        """The matview SELECT as a DataFrame (separated from the write so
        tests can inspect the plan)."""
        cells = self.catalog.read("cells")
        enriched = self.latest_pruned().join(
            F.broadcast(cells.select("cell_id", "geom_4326_wkt", "geom_laea_wkt")),
            "cell_id",
            "inner",
        ).dropDuplicates(
            ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"]
        )
        # row_number surrogate with EXPLICIT deterministic ordering (the
        # reference's has no ORDER BY, processor.py:420 — documented fix).
        # Sequential contract kept via the distributed prefix sum — no
        # single-partition WindowExec (every latest-snapshot row through one
        # task at 100 TB).
        out = sequential_id(
            enriched,
            ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"],
            id_col="forecast_id",
        ).select(
            "forecast_id",
            "hemisphere",
            "date_forecast_generated",
            "date_forecast_for",
            "cell_id",
            "sea_ice_concentration_mean",
            "sea_ice_concentration_stddev",
            "geom_4326_wkt",
            "geom_laea_wkt",
        )
        return out

    # -- stage 5: update_forecast_meta (processor.py:346-407) ------------
    def update_meta(self, touched: DataFrame | None = None) -> None:
        """``touched=None`` recomputes the rollup over ALL generation dates —
        exact reference semantics (processor.py:385-394: the SQL recomputes
        every date each run). Passing the (date, hemisphere) pairs a batch
        ingested switches to the incremental form: the groupBy scans only the
        touched partitions (partition pruning on the semi join) — at 100 TB
        the difference between a full-history aggregation per file and O(one
        partition). Both paths upsert on the same key, so final states are
        identical (test_incremental_meta_equivalent).
        """
        meta = self.meta_frame(touched)
        # ON CONFLICT (date_forecast_generated, hemisphere) DO UPDATE
        self.catalog.upsert(
            "forecast_meta", meta, ["date_forecast_generated", "hemisphere"]
        )

    def meta_frame(self, touched: DataFrame | None = None) -> DataFrame:
        """The rollup SELECT as a DataFrame (separated from the upsert so
        tests and the stress harness can inspect the plan — the
        latest_frame() pattern)."""
        forecasts = self.catalog.read("forecasts")
        if touched is not None:
            forecasts = forecasts.join(
                F.broadcast(touched.select("date_forecast_generated", "hemisphere")),
                ["date_forecast_generated", "hemisphere"],
                "left_semi",
            )
        rollup = forecasts.groupBy("date_forecast_generated", "hemisphere").agg(
            F.min("date_forecast_for").alias("date_forecast_first"),
            F.max("date_forecast_for").alias("date_forecast_last"),
            F.count(F.lit(1)).alias("n_records"),
        )
        return rollup.select(
            F.xxhash64("date_forecast_generated", "hemisphere").alias(
                "forecast_meta_id"
            ),
            "date_forecast_generated",
            "date_forecast_first",
            "date_forecast_last",
            "hemisphere",
            "n_records",
        )

    # -- the five-stage lifecycle (__init__.py:22-26) --------------------
    def run(
        self, raw: DataFrame, attrs: FileAttrs, incremental_meta: bool = False
    ) -> None:
        hemisphere = classify_hemisphere(attrs)
        forecasts = normalize_forecasts(raw, hemisphere)
        self.update_geometries(raw, hemisphere)
        self.update_forecasts(forecasts, hemisphere)
        self.update_latest()
        if incremental_meta:
            touched = forecasts.select(
                F.to_date("time").alias("date_forecast_generated"), "hemisphere"
            ).distinct()
            self.update_meta(touched)
        else:
            self.update_meta()


def make_txn_catalog(spark, warehouse: str):
    """TxnParquetCatalog wired for the ingest pipeline: every write set's
    manifest entry carries min/max statistics on the tables' layout keys
    (the same columns ParquetCatalog hive-partitions by), so
    ``read_pruned`` skips non-matching write sets from the manifest alone
    — the txn twin of hive partition pruning."""
    from icenetetl_spark.txn import TxnParquetCatalog

    stats = dict(PARTITIONING)
    stats["forecast_meta"] = ["hemisphere", "date_forecast_generated"]
    return TxnParquetCatalog(spark, warehouse, default_stats=stats)


def latest_view_plan(raw: DataFrame, hemisphere: str) -> DataFrame:
    """Pure-transform (no table layer) version of the flagship chain:
    normalize -> grid -> cell assign -> latest snapshot -> enrich -> number.
    Used by the ``icenet_pipeline_latest`` driver query.

    cell_id is the BIT-PACKED natural key ((centroid_x << 32) | centroid_y
    as int64), not the catalog's xxhash64 surrogate: DuckDB reproduces it
    exactly, and the driver's hash gate compares cell_id values (DuckDB
    has no xxhash64). A surrogate key only needs determinism + uniqueness,
    and the pack is both by construction (two int32s, collision-free)
    while staying pure codegen arithmetic — an md5-based portable hash
    measured ~2x on this query from expression compile alone. The
    catalog's cells table keeps the hemisphere-qualified xxhash64 (one
    table across hemispheres).
    """
    forecasts = normalize_forecasts(raw, hemisphere)
    xs, ys = raw_axes(raw)
    # The grid subtree is recomputed by each downstream job (latest-max
    # aggregate, range-partition sampling, prefix-sum pin). That is the
    # right trade here: the subtree is O(grid-side^2) rows of pure codegen
    # arithmetic, cheaper than the extra materialization job a checkpoint
    # pin costs (measured both ways; the pin only paid off when cell_id was
    # an interpreter-bound md5 expression). The catalog path never faces
    # this: update_geometries persists cells to a table once.
    cells = (
        build_cell_grid(xs, ys)
        .withColumn("hemisphere", F.lit(hemisphere))
        .withColumn("cell_id", portable_cell_id())
    )
    facts = forecasts.join(
        F.broadcast(cells),
        (forecasts.xc_m == cells.centroid_x) & (forecasts.yc_m == cells.centroid_y),
        "left",
    ).select(
        forecasts.hemisphere.alias("hemisphere"),
        F.to_date("time").alias("date_forecast_generated"),
        F.to_date("time_forecast").alias("date_forecast_for"),
        "cell_id",
        "sic_mean",
        "sic_stddev",
        "geom_laea_wkt",
    )
    latest = latest_snapshot(facts, "date_forecast_generated")
    return sequential_id(
        latest, ["date_forecast_for", "cell_id"], id_col="forecast_id"
    ).select(
        "forecast_id",
        "hemisphere",
        "date_forecast_generated",
        "date_forecast_for",
        "cell_id",
        "sic_mean",
        "sic_stddev",
        "geom_laea_wkt",
    )
