"""The IceNet domain pipeline as a driver query — WITH a DuckDB oracle.

Round-2 closure: the flagship chain was rows-only because its fixture input
lived only inside the Spark session. Now the deterministic fixture is
materialized ONCE as a parquet file (at import time, atomic write) and both
engines read that same file: Spark runs ``latest_view_plan`` over it, DuckDB
runs the SQL restatement of the identical chain — normalize (filter /
dropna-any / derive) -> raw-axes grid + polygon WKT -> broadcast cell assign
-> latest snapshot -> deterministic sequential id. Every stage is
SQL-expressible (the queries/core.py stage twins prove each individually);
this oracle proves the COMPOSED chain end-to-end with a value-hash gate.

Reference lifecycle: azfunctions/InputBlobTrigger/__init__.py:22-26;
matview query processor.py:416-448.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from icenetetl_spark.plans.icenet import latest_view_plan
from icenetetl_spark.sources.fixtures import write_raw_fixture

GEN_DATE = "2024-03-01"
GRID_SIDE = 16


def _generator_fingerprint() -> str:
    """Content-address the fixture filename by the generator's source +
    parameters: after any edit to make_raw_pdf, the oracle SQL references a
    NEW filename, so a stale pre-built file can never be silently read —
    even on a read-only checkout where the rewrite below fails. The failure
    mode becomes an explicit missing-file error pointing at the fixture,
    not a hash-gate mismatch masquerading as an engine-semantics bug."""
    import hashlib
    import inspect

    from icenetetl_spark.sources import fixtures

    src = inspect.getsource(fixtures.make_raw_pdf)
    key = f"{src}|{GEN_DATE}|{GRID_SIDE}".encode()
    return hashlib.md5(key).hexdigest()[:8]


_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".fixtures",
    f"icenet_raw_{GEN_DATE}_g{GRID_SIDE}_{_generator_fingerprint()}.parquet",
)

def _ensure_fixture() -> str:
    """Materialize the parquet twin the DuckDB oracle reads (always
    rewritten — see write_raw_fixture — so generator edits can't leave a
    stale file)."""
    return write_raw_fixture(_FIXTURE_PATH, GEN_DATE, grid_side=GRID_SIDE)


# Best-effort at import so the oracle file exists even if a driver runs the
# SQL before the Spark query. Swallowing OSError keeps a read-only checkout
# usable for every OTHER registry consumer (bench/cli/__spark_entry__ all
# import this module); the query call below re-attempts and raises there.
try:
    _ensure_fixture()
except OSError:
    pass


def icenet_pipeline_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full chain on the deterministic fixture: normalize -> grid/WKT ->
    broadcast cell-assign -> latest snapshot -> enrich -> deterministic
    sequential id. cell_id is the bit-packed key DuckDB reproduces (the
    catalog's cells table uses xxhash64 — same plan). sf_dir is
    unused: the input is the IceNet-shaped fixture, not a testdata table.

    The Spark side builds the frame in-memory (Arrow local relation — the
    chain triggers several jobs and a LocalRelation avoids re-scanning a
    file in each); the oracle reads the parquet twin written at import.
    Both come from the same seeded generator and the pandas->parquet
    roundtrip is lossless (us timestamps, float32 incl. NaN), so the two
    engines still see identical input — the hash gate proves it."""
    from icenetetl_spark.sources.fixtures import make_raw_file

    _ensure_fixture()  # oracle twin; raises clearly if truly unwritable
    raw, _ = make_raw_file(spark, GEN_DATE, "north", grid_side=GRID_SIDE, seed=42)
    return latest_view_plan(raw, "north")


QUERIES = {"icenet_pipeline_latest": icenet_pipeline_latest}

# SQL restatement of latest_view_plan over the same parquet file.
# Engine-portability notes mirrored from the Spark plan:
# - dropna('any') ≙ NOT isnan(sic_stddev) (the only NaN-bearing column);
# - Spark's cast(long) TRUNCATES doubles, DuckDB's CAST rounds -> floor()
#   before casting the half-step;
# - cell_id = bit-packed natural key (cx << 32 | cy) — see latest_view_plan.
_CELL_ID_SQL = (
    "CAST(centroid_x AS BIGINT) * 4294967296"
    " + (CAST(centroid_y AS BIGINT) & 4294967295)"
)

# The chain CTEs are shared by the latest-view oracle and the Zarr
# export-roundtrip oracle (facts/latest deliberately carry xc_m/yc_m
# through for the roundtrip's coordinate columns; the extra passthrough
# columns do not affect the latest-view SELECT's values).
_CHAIN_CTES = f"""
        WITH raw AS (SELECT * FROM read_parquet('{_FIXTURE_PATH}')),
        fc AS (
            SELECT 'north' AS hemisphere,
                   CAST(time AS DATE) AS date_forecast_generated,
                   CAST(time + leadtime * INTERVAL 1 DAY AS DATE)
                       AS date_forecast_for,
                   CAST(floor(xc * 1000) AS INTEGER) AS xc_m,
                   CAST(floor(yc * 1000) AS INTEGER) AS yc_m,
                   sic_mean, sic_stddev
            FROM raw
            WHERE sic_mean > 0 AND NOT isnan(sic_stddev)
        ),
        xs AS (SELECT DISTINCT CAST(floor(xc * 1000) AS INTEGER) AS centroid_x
               FROM raw WHERE xc IS NOT NULL),
        ys AS (SELECT DISTINCT CAST(floor(yc * 1000) AS INTEGER) AS centroid_y
               FROM raw WHERE yc IS NOT NULL),
        sx AS (SELECT (max(centroid_x) - min(centroid_x)) * 1.0
                      / (count(centroid_x) - 1) AS step_x FROM xs),
        sy AS (SELECT (max(centroid_y) - min(centroid_y)) * 1.0
                      / (count(centroid_y) - 1) AS step_y FROM ys),
        grid AS (
            SELECT centroid_x, centroid_y,
                   CAST(floor((step_x + step_y) / 2 / 2) AS BIGINT) AS d
            FROM xs, ys, sx, sy
        ),
        cells AS (
            SELECT centroid_x, centroid_y,
                   printf('POLYGON((%d %d, %d %d, %d %d, %d %d, %d %d))',
                          centroid_x - d, centroid_y + d,
                          centroid_x + d, centroid_y + d,
                          centroid_x + d, centroid_y - d,
                          centroid_x - d, centroid_y - d,
                          centroid_x - d, centroid_y + d) AS geom_laea_wkt,
                   {_CELL_ID_SQL} AS cell_id
            FROM grid
        ),
        facts AS (
            SELECT fc.hemisphere, fc.date_forecast_generated,
                   fc.date_forecast_for, c.cell_id, fc.sic_mean,
                   fc.sic_stddev, c.geom_laea_wkt,
                   fc.xc_m, fc.yc_m
            FROM fc LEFT JOIN cells c
              ON fc.xc_m = c.centroid_x AND fc.yc_m = c.centroid_y
        ),
        latest AS (
            SELECT * FROM facts
            WHERE date_forecast_generated =
                  (SELECT max(date_forecast_generated) FROM facts)
        )
"""

ORACLES = {
    "icenet_pipeline_latest": _CHAIN_CTES + """
        SELECT row_number() OVER (ORDER BY date_forecast_for, cell_id)
                   AS forecast_id,
               hemisphere, date_forecast_generated, date_forecast_for,
               cell_id, sic_mean, sic_stddev, geom_laea_wkt
        FROM latest
    """,
}


def _zarr_fingerprint() -> str:
    """Content-address the Zarr fixture path by the generator AND writer
    sources so edits can never silently reuse a stale store (the
    parquet-twin pattern above, for the store). Hashing make_zarr_store
    — the WRITER — means any change to how the store is laid down (e.g.
    the round-6 atomicity fix) rotates the path, so remnants left by an
    OLD writer are unreachable by construction rather than guarded
    against heuristically."""
    import hashlib
    import inspect

    from icenetetl_spark.sources import fixtures, zarrstore

    key = (
        inspect.getsource(fixtures.make_raw_pdf)
        + inspect.getsource(fixtures.make_netcdf_bytes)
        + inspect.getsource(zarrstore.write_zarr)
        + inspect.getsource(fixtures.make_zarr_store)
        + f"|{GEN_DATE}|{GRID_SIDE}"
    ).encode()
    return hashlib.md5(key).hexdigest()[:8]


_ZARR_STORE_PATH = os.path.join(
    os.path.dirname(_FIXTURE_PATH),
    f"icenet_zarr_{GEN_DATE}_g{GRID_SIDE}_{_zarr_fingerprint()}",
)


def _assert_melt_matches_twin(melted: DataFrame, spark: SparkSession) -> None:
    """Localizing probe for the driver gate (round-5 lesson: a driver-side
    hash red on the composed chain gave no signal WHERE the divergence
    was). Compares the melted store frame against the parquet twin the
    oracle reads, bitwise, on every column both sides share semantically
    (lat/lon are excluded: the store's are deterministic 2-D coords, the
    twin's are random scalars — both dropped by the pipeline). A mismatch
    raises HERE, turning a would-be hash-red into an err that names the
    store-vs-melt layer; the chain downstream is then exonerated. Cost:
    one extra job over ~1k fixture rows."""
    import numpy as np

    cols = ["time", "leadtime", "xc", "yc", "sic_mean", "sic_stddev"]
    # hard bound BEFORE localizing (VERDICT r7 #7): this probe sits inside
    # a gated query path, and a future fixture swap must not silently turn
    # it into a driver-side transfer of a scaled table
    n = melted.count()
    if n > 10_000:
        raise AssertionError(
            f"zarr melt probe refused: {n} rows > 10k bound — the "
            "localizing twin-compare is for the ~1k-row fixture only"
        )
    a = melted.select(cols).toPandas()
    b = spark.read.parquet(_FIXTURE_PATH).select(cols).toPandas()
    key = ["time", "leadtime", "yc", "xc"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    if len(a) != len(b):
        raise AssertionError(
            f"zarr melt rows {len(a)} != parquet twin rows {len(b)}"
        )
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype != bv.dtype:
            raise AssertionError(
                f"zarr melt col {c}: dtype {av.dtype} != twin {bv.dtype} "
                "(the driver value-hash is dtype-sensitive)"
            )
        ok = (
            np.array_equal(av, bv, equal_nan=True)
            if av.dtype.kind == "f"
            else bool((av == bv).all())
        )
        if not ok:
            raise AssertionError(f"zarr melt col {c}: values differ from twin")


def icenet_zarr_pipeline_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME composed pipeline chain as icenet_pipeline_latest, but fed
    from a REAL Zarr v2 store on disk (sources/zarrstore: spec-built
    reader, zlib chunks, hemisphere attrs) through the distributed store
    melt — the format-agnostic-ingest claim under the driver's hash gate:
    the oracle is the parquet-fixture SQL chain, so a store-layout or
    melt bug that changes ANY value fails the gate. sf_dir unused (the
    input is the IceNet-shaped fixture store).

    Store creation is ATOMIC (make_zarr_store builds in a tmp dir and
    os.replace()s it in), so the root's existence IS the completeness
    marker — a .zgroup-keyed check on an in-place write could bless a
    half-written store forever (round-5 hazard (a)). Remnants from any
    OLDER writer cannot collide here at all: _zarr_fingerprint hashes
    make_zarr_store itself, so a writer change rotates the path. The
    .zgroup sanity check below is belt-and-braces for a manually
    corrupted dir: a root without its .zgroup is invalid whatever its
    origin and is rebuilt rather than trusted."""
    from icenetetl_spark.sources.fixtures import make_zarr_store
    from icenetetl_spark.sources.zarrstore import melt_zarr_stores

    _ensure_fixture()  # the oracle's parquet twin
    if os.path.isdir(_ZARR_STORE_PATH) and not os.path.exists(
        os.path.join(_ZARR_STORE_PATH, ".zgroup")
    ):
        import shutil

        shutil.rmtree(_ZARR_STORE_PATH)
    if not os.path.isdir(_ZARR_STORE_PATH):
        make_zarr_store(
            _ZARR_STORE_PATH,
            GEN_DATE,
            "north",
            grid_side=GRID_SIDE,
            leadtimes=5,
            seed=42,
            compressor={"id": "zlib", "level": 1},
        )
    melted = melt_zarr_stores(spark, [_ZARR_STORE_PATH])
    _assert_melt_matches_twin(melted, spark)
    return latest_view_plan(melted, "north")


QUERIES["icenet_zarr_pipeline_latest"] = icenet_zarr_pipeline_latest
ORACLES["icenet_zarr_pipeline_latest"] = ORACLES["icenet_pipeline_latest"]


def _zarr_export_fingerprint() -> str:
    """Content-address the EXPORTED store path by everything that shapes
    its bytes: the fixture generator, the whole zarrstore module (writer,
    export pivot, melt widths), and the pipeline module that produces the
    latest view. Over-rotation is free (a re-export on a fresh path costs
    seconds); a stale store surviving a code change is a silent gate
    hazard."""
    import hashlib
    import inspect

    from icenetetl_spark.functions import geo
    from icenetetl_spark.plans import icenet as plans_icenet
    from icenetetl_spark.sources import fixtures, zarrstore

    key = (
        inspect.getsource(fixtures.make_raw_pdf)
        + inspect.getsource(zarrstore)
        + inspect.getsource(plans_icenet.latest_view_plan)
        + inspect.getsource(plans_icenet.normalize_forecasts)
        # the grid/coordinate derivation shapes the store's axes: a geo
        # or raw_axes edit must rotate the path too (review finding r7)
        + inspect.getsource(plans_icenet.raw_axes)
        + inspect.getsource(geo)
        + f"|{GEN_DATE}|{GRID_SIDE}"
    ).encode()
    return hashlib.md5(key).hexdigest()[:8]


_ZARR_EXPORT_PATH = os.path.join(
    os.path.dirname(_FIXTURE_PATH),
    f"icenet_zarr_export_{GEN_DATE}_g{GRID_SIDE}_{_zarr_export_fingerprint()}",
)


def icenet_zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITE→READ closure for the Zarr export sink
    (sources/zarrstore.export_forecasts_to_zarr): run the flagship latest
    view, pivot it into a real Zarr v2 store on disk (one distributed
    applyInPandas task per (hemisphere, date) group), melt that store
    back through the same reader the ingest path uses, and return the
    present (non-NaN-fill) values. The oracle is the parquet-fixture
    chain SQL projected to the store's coordinate frame — so a pivot
    transpose, axis-ordering, CF-date, fill-placement, or dtype-width bug
    anywhere in writer OR reader changes values and fails the hash gate.
    (store→melt was already gated by icenet_zarr_pipeline_latest; this
    closes export→melt. NaN fill placement for absent grid cells is
    pinned in tests/test_zarr.py::test_export_forecasts_roundtrip.)
    sf_dir unused (fixture-driven, like the rest of this module).
    Reference semantics: the inverse of the xarray ingest at
    azfunctions/InputBlobTrigger/processor.py:117-124."""
    import shutil

    from pyspark.sql import functions as F

    from icenetetl_spark.functions.geo import build_cell_grid
    from icenetetl_spark.plans.icenet import portable_cell_id, raw_axes
    from icenetetl_spark.sources.fixtures import make_raw_file
    from icenetetl_spark.sources.zarrstore import (
        export_forecasts_to_zarr,
        melt_zarr_stores,
    )

    _ensure_fixture()  # the oracle's parquet twin
    raw, _ = make_raw_file(
        spark, GEN_DATE, "north", grid_side=GRID_SIDE, seed=42
    )
    latest = latest_view_plan(raw, "north")
    forecasts = latest.select(
        "hemisphere",
        "date_forecast_generated",
        "date_forecast_for",
        "cell_id",
        F.col("sic_mean").alias("sea_ice_concentration_mean"),
        F.col("sic_stddev").alias("sea_ice_concentration_stddev"),
    )
    xs, ys = raw_axes(raw)
    cells = build_cell_grid(xs, ys).withColumn("cell_id", portable_cell_id())

    store = os.path.join(_ZARR_EXPORT_PATH, f"north_{GEN_DATE}")
    if os.path.isdir(_ZARR_EXPORT_PATH) and not os.path.isdir(store):
        shutil.rmtree(_ZARR_EXPORT_PATH)  # half a dir without its store
    if not os.path.isdir(_ZARR_EXPORT_PATH):
        # atomic like make_zarr_store: export into a sibling tmp dir,
        # os.replace into place; a concurrent winner's dir is kept.
        # Stranded tmp dirs from crashed runs (any pid, any old
        # fingerprint) are swept here — the only writer of *.tmp.* under
        # this prefix is this function, and a live concurrent export is
        # by construction seconds old, so age-gate the sweep.
        import glob
        import time as _time

        for stale in glob.glob(
            os.path.join(os.path.dirname(_ZARR_EXPORT_PATH),
                         "icenet_zarr_export_*.tmp.*")
        ):
            try:
                if _time.time() - os.path.getmtime(stale) > 3600:
                    shutil.rmtree(stale, ignore_errors=True)
            except OSError:
                pass
        tmp = f"{_ZARR_EXPORT_PATH}.tmp.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            export_forecasts_to_zarr(
                forecasts, cells, tmp, compressor={"id": "zlib", "level": 1}
            ).collect()
            os.replace(tmp, _ZARR_EXPORT_PATH)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(store):
                raise
        except BaseException:
            # failed export (task error, interrupt): never strand the tmp
            shutil.rmtree(tmp, ignore_errors=True)
            raise
    melted = melt_zarr_stores(spark, [store])
    # fill cells arrive as NULL, not NaN: Arrow's from_pandas (under the
    # melt's mapInPandas) treats NaN in a float column as the null
    # sentinel — so "present values" = IS NOT NULL here
    return melted.filter(F.col("sic_mean").isNotNull()).select(
        "time", "leadtime", "yc", "xc", "sic_mean", "sic_stddev"
    )


def _txn_wh_fingerprint() -> str:
    """Content-address the txn warehouse by every source that shapes its
    contents (fixture generator, pipeline, txn catalog, plain catalog
    base) — same rationale as the zarr fixtures: a code edit rotates the
    path so stale manifests are unreachable, and re-running against an
    existing warehouse is the OPERATOR'S OWN idempotency contract
    (append_missing dedup + matview recompute), not a harness guard."""
    import hashlib
    import inspect

    from icenetetl_spark import catalog as catalog_mod
    from icenetetl_spark import txn as txn_mod
    from icenetetl_spark.functions import geo
    from icenetetl_spark.plans import icenet as plans_icenet
    from icenetetl_spark.sources import fixtures

    key = (
        inspect.getsource(fixtures.make_raw_pdf)
        + inspect.getsource(txn_mod)
        + inspect.getsource(catalog_mod)
        + inspect.getsource(plans_icenet)
        # update_geometries persists geo-derived cells into the
        # warehouse: a geo edit must rotate the path (review finding r7)
        + inspect.getsource(geo)
        + f"|{GEN_DATE}|{GRID_SIDE}"
    ).encode()
    return hashlib.md5(key).hexdigest()[:8]


_TXN_WH_PATH = os.path.join(
    os.path.dirname(_FIXTURE_PATH),
    f"icenet_txn_wh_{GEN_DATE}_g{GRID_SIDE}_{_txn_wh_fingerprint()}",
)


def icenet_txn_pipeline_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog-backed pipeline chain THROUGH THE TXN CATALOG
    (txn.TxnParquetCatalog via make_txn_catalog: manifest log, CAS
    commits, manifest-stat read_pruned), under the driver's hash gate —
    previously the manifest/CAS path was pytest-gated only. Every call
    re-runs the full ingest (update_geometries -> update_forecasts ->
    update_latest -> update_meta) against the content-addressed
    warehouse: on a warm warehouse that exercises the anti-join
    append_missing dedup (zero new rows), a fresh CAS commit, and the
    matview recompute-and-swap; the gated read then flows from the
    manifest's committed write sets. Output is the latest view keyed by
    the metre centroids (the surrogate forecast_id/cell_id are xxhash64
    — deterministic but not SQL-portable, so the gate compares the
    natural key instead; id semantics are pinned in tests/test_txn.py).
    Reference semantics: S5 ON CONFLICT DO NOTHING + S7 matview refresh
    (processor.py:249-256, 416-448) executed transactionally."""
    from icenetetl_spark.plans.icenet import IceNetPipeline, make_txn_catalog
    from icenetetl_spark.sources.fixtures import make_raw_file

    _ensure_fixture()  # the oracle's parquet twin
    raw, attrs = make_raw_file(
        spark, GEN_DATE, "north", grid_side=GRID_SIDE, seed=42
    )
    cat = make_txn_catalog(spark, _TXN_WH_PATH)
    IceNetPipeline(cat).run(raw, attrs)
    # bound warehouse growth across gate/bench invocations (each call
    # commits fresh manifests + matview files): past ~50 versions,
    # vacuum down to a retained window; min_age_s protects any
    # concurrent in-flight run's unreferenced-but-fresh write sets
    for t in ("cells", "forecasts", "forecast_latest", "forecast_meta"):
        if cat.current_version(t) > 50:
            cat.vacuum(t, keep_versions=5, min_age_s=600.0)
    return _txn_latest_frame(cat)


def _txn_latest_frame(cat) -> DataFrame:
    """The gated natural-key projection of the txn latest view — shared by
    the uncompacted and compacted queries (they alias ONE oracle, so their
    Spark-side select lists must be the same code, not copies)."""
    from pyspark.sql import functions as F

    latest = cat.read("forecast_latest")
    cells = cat.read("cells").select("cell_id", "centroid_x", "centroid_y")
    return latest.join(F.broadcast(cells), "cell_id").select(
        "hemisphere",
        "date_forecast_generated",
        "date_forecast_for",
        "centroid_x",
        "centroid_y",
        F.col("sea_ice_concentration_mean").alias("sic_mean"),
        F.col("sea_ice_concentration_stddev").alias("sic_stddev"),
    )


QUERIES["icenet_txn_pipeline_latest"] = icenet_txn_pipeline_latest
ORACLES["icenet_txn_pipeline_latest"] = _CHAIN_CTES + """
    SELECT hemisphere, date_forecast_generated, date_forecast_for,
           xc_m AS centroid_x, yc_m AS centroid_y, sic_mean, sic_stddev
    FROM latest
"""


def icenet_txn_compacted_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE under the driver gate: after the full txn ingest, compact
    the latest view into write sets CLUSTERED on cell_id (txn.compact —
    Delta's OPTIMIZE idea: the CAS rewrite replaces the snapshot's write
    sets with range-partitioned, min/max-tight ones, carrying the
    statistics columns so manifest data skipping keeps working), then
    read the compacted snapshot back through the manifest. The oracle is
    the same chain SQL as icenet_txn_pipeline_latest, so the gate proves
    the compaction rewrite is value-transparent — the operational path a
    100-TB table runs nightly, previously pytest-gated only
    (tests/test_scale.py::test_catalog_compact, tests/test_txn.py).
    Reference semantics: S7's matview storage maintenance, executed as an
    auditable commit."""
    from icenetetl_spark.plans.icenet import make_txn_catalog

    icenet_txn_pipeline_latest(spark, sf_dir)  # ingest + vacuum policy
    cat = make_txn_catalog(spark, _TXN_WH_PATH)
    cat.compact("forecast_latest", cluster_by=("cell_id",))
    return _txn_latest_frame(cat)


QUERIES["icenet_txn_compacted_latest"] = icenet_txn_compacted_latest
ORACLES["icenet_txn_compacted_latest"] = ORACLES["icenet_txn_pipeline_latest"]


QUERIES["icenet_zarr_roundtrip"] = icenet_zarr_roundtrip
# The store's long form in the oracle's frame: time = the generated date
# at midnight (CF "days since 1970-01-01" decode), leadtime = day delta,
# yc/xc = the metre centroids as the store's float64 axes, sic_* = the
# float32 values carried through pivot+melt untouched.
ORACLES["icenet_zarr_roundtrip"] = _CHAIN_CTES + """
    SELECT CAST(date_forecast_generated AS TIMESTAMP) AS time,
           CAST(date_diff('day', date_forecast_generated, date_forecast_for)
                AS INTEGER) AS leadtime,
           CAST(yc_m AS DOUBLE) AS yc,
           CAST(xc_m AS DOUBLE) AS xc,
           sic_mean, sic_stddev
    FROM latest
"""
