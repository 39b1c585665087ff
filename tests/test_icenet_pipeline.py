"""End-to-end tests of the five-stage IceNet pipeline (plans/icenet.py)
against the reference's documented semantics, including the core operational
invariant: idempotency under replay (README.md:42-51)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icenetetl_spark.catalog import ParquetCatalog
from icenetetl_spark.plans.icenet import (
    FileAttrs,
    IceNetPipeline,
    classify_hemisphere,
    normalize_forecasts,
)
from icenetetl_spark.sources.fixtures import make_raw_file


def table_fingerprint(df, ignore=("forecast_id", "forecast_meta_id")):
    cols = sorted(c for c in df.columns if c not in ignore)
    rows = [tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()]
    return sorted(rows)


def test_classify_hemisphere():
    assert classify_hemisphere(FileAttrs(geospatial_lat_max=85.0)) == "north"
    assert classify_hemisphere(FileAttrs(geospatial_lat_min=-85.0)) == "south"
    assert classify_hemisphere(FileAttrs(keywords="Sea ice > North")) == "north"
    assert classify_hemisphere(FileAttrs(keywords="antarctic SOUTH ice")) == "south"
    from icenetetl_spark.errors import HemisphereUnresolvedError, IceNetInputError

    with pytest.raises(HemisphereUnresolvedError):
        classify_hemisphere(FileAttrs(keywords="equatorial"))
    with pytest.raises(IceNetInputError):  # typed-hierarchy catch, __init__.py:21-28
        classify_hemisphere(FileAttrs())
    # exclusivity (processor.py:145-148): both hemispheres named -> ambiguous
    with pytest.raises(HemisphereUnresolvedError):
        classify_hemisphere(FileAttrs(keywords="north and south comparison"))


def test_normalize_filters_and_derives(spark):
    raw, _ = make_raw_file(spark, "2024-03-01", seed=7)
    out = normalize_forecasts(raw, "north")
    rows = out.count()
    # sic_mean <= 0 filtered AND null-stddev rows dropped ('any' semantics)
    raw_n = raw.count()
    kept = raw.filter(
        (F.col("sic_mean") > 0) & F.col("sic_stddev").isNotNull()
    ).count()
    assert rows == kept < raw_n
    # metre coords and forecast-date arithmetic
    sample = out.filter((F.col("xc_m") == 25000) & (F.col("yc_m") == 50000)).first()
    assert sample is not None
    r = out.select(
        F.min(F.to_date("time_forecast")).alias("lo"),
        F.max(F.to_date("time_forecast")).alias("hi"),
    ).first()
    assert str(r["lo"]) == "2024-03-02" and str(r["hi"]) == "2024-03-06"
    # dropped passthrough columns
    assert not {"lat", "lon", "Lambert_Azimuthal_Grid", "leadtime"} & set(out.columns)


def test_old_format_rename(spark):
    raw_old, _ = make_raw_file(spark, "2024-03-01", seed=7, old_format=True)
    out = normalize_forecasts(raw_old, "north")
    assert "sic_mean" in out.columns and "sic_stddev" in out.columns


def test_pipeline_end_to_end_and_idempotent(spark, warehouse):
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)

    f1, a1 = make_raw_file(spark, "2024-03-01", "north", seed=1)
    f2, a2 = make_raw_file(spark, "2024-03-08", "north", seed=2)
    f3, a3 = make_raw_file(spark, "2024-03-05", "south", seed=3)
    for f, a in [(f1, a1), (f2, a2), (f3, a3)]:
        pipe.run(f, a)

    cells = cat.read("cells")
    forecasts = cat.read("forecasts")
    latest = cat.read("forecast_latest")
    meta = cat.read("forecast_meta")

    # grid: 16x16 per hemisphere, unique per (hemisphere, centroid)
    assert cells.count() == 2 * 16 * 16
    assert (
        cells.select("hemisphere", "centroid_x", "centroid_y").distinct().count()
        == cells.count()
    )
    # every fact found its cell (left join hit) and has unique key
    assert forecasts.filter(F.col("cell_id").isNull()).count() == 0
    key = ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"]
    assert forecasts.select(*key).distinct().count() == forecasts.count()
    # WKT shape: centroid 0,0 with 25km step -> +/-12500m ring
    wkt = cells.filter(
        (F.col("centroid_x") == 0)
        & (F.col("centroid_y") == 0)
        & (F.col("hemisphere") == "north")
    ).first()["geom_laea_wkt"]
    assert wkt == (
        "POLYGON((-12500 12500, 12500 12500, 12500 -12500, "
        "-12500 -12500, -12500 12500))"
    )

    # latest view: per-hemisphere max generation date only
    gen = {
        (r["hemisphere"], str(r["date_forecast_generated"]))
        for r in latest.select("hemisphere", "date_forecast_generated")
        .distinct()
        .collect()
    }
    assert gen == {("north", "2024-03-08"), ("south", "2024-03-05")}
    # forecast_id is a dense deterministic sequence
    n = latest.count()
    ids = {r["forecast_id"] for r in latest.select("forecast_id").collect()}
    assert ids == set(range(1, n + 1))

    # meta rollup: one row per (generation date, hemisphere), counts match
    assert meta.count() == 3
    m = {
        (str(r["date_forecast_generated"]), r["hemisphere"]): r["n_records"]
        for r in meta.collect()
    }
    fc = {
        (str(r["date_forecast_generated"]), r["hemisphere"]): r["cnt"]
        for r in forecasts.groupBy("date_forecast_generated", "hemisphere")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert m == fc

    # IDEMPOTENCY: replay every file -> every table is a fixed point
    before = {
        t: table_fingerprint(cat.read(t))
        for t in ["cells", "forecasts", "forecast_latest", "forecast_meta"]
    }
    for f, a in [(f1, a1), (f2, a2), (f3, a3)]:
        pipe.run(f, a)
    after = {
        t: table_fingerprint(cat.read(t))
        for t in ["cells", "forecasts", "forecast_latest", "forecast_meta"]
    }
    assert before == after


def test_latest_recompute_prunes_to_max_date_partitions(spark, warehouse):
    """The latest-view recompute must reach the forecasts scan with LITERAL
    partition filters on (hemisphere, date_forecast_generated) — i.e. the
    file index prunes to the max-date partitions instead of scanning the
    full history (the reference's scalar-subquery J3, processor.py:430,
    turned into static pruning metadata)."""
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)
    for date, hemi, seed in [
        ("2024-03-01", "north", 1),
        ("2024-03-08", "north", 2),
        ("2024-03-05", "south", 3),
    ]:
        f, a = make_raw_file(spark, date, hemi, grid_side=6, seed=seed)
        pipe.run(f, a)

    lf = pipe.latest_pruned()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = lf._jdf.queryExecution().explainString(mode)
    pf_lines = [
        ln for ln in plan.splitlines() if ln.strip().startswith("PartitionFilters")
    ]
    assert pf_lines, plan
    for ln in pf_lines:
        # the partition filter must be the literal max-date equality, not a
        # bare isnotnull residue of a post-scan join
        assert "2024-03-08" in ln and "2024-03-05" in ln, ln
    # and the pruned frame still matches the naive full-scan answer
    forecasts = cat.read("forecasts")
    w_max = forecasts.groupBy("hemisphere").agg(
        F.max("date_forecast_generated").alias("mx")
    )
    naive = forecasts.join(w_max, "hemisphere").filter(
        F.col("date_forecast_generated") == F.col("mx")
    )
    assert lf.count() == naive.count()


def test_meta_upsert_updates_counts(spark, warehouse):
    """New file for an EXISTING generation date must update (not duplicate)
    the rollup row — ON CONFLICT DO UPDATE semantics (processor.py:395-401)."""
    cat = ParquetCatalog(spark, warehouse)
    pipe = IceNetPipeline(cat)
    f1, a1 = make_raw_file(spark, "2024-03-01", "north", grid_side=8, seed=1)
    pipe.run(f1, a1)
    n1 = cat.read("forecast_meta").first()["n_records"]
    # second file, same generation date, disjoint grid (offset by 8 cells)
    f2, a2 = make_raw_file(spark, "2024-03-01", "north", grid_side=8, seed=2)
    f2 = (
        f2.withColumn("xc", F.col("xc") + 8 * 25.0)
        .withColumn("yc", F.col("yc") + 8 * 25.0)
    )
    pipe.run(f2, a2)
    meta = cat.read("forecast_meta")
    assert meta.count() == 1  # still one rollup row for the (date, hemi) key
    assert meta.first()["n_records"] > n1


def test_incremental_meta_equivalent(spark, tmp_path):
    """Incremental rollup (scan only touched partitions) must reach the same
    final meta table as the reference-parity full recompute."""
    from icenetetl_spark.catalog import ParquetCatalog
    from icenetetl_spark.plans.icenet import IceNetPipeline

    files = [
        make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1),
        make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2),
        make_raw_file(spark, "2024-03-05", "south", grid_side=6, seed=3),
    ]
    cats = {
        mode: ParquetCatalog(spark, str(tmp_path / mode)) for mode in ("full", "inc")
    }
    for mode, cat in cats.items():
        pipe = IceNetPipeline(cat)
        for f, a in files:
            pipe.run(f, a, incremental_meta=(mode == "inc"))
    assert table_fingerprint(cats["full"].read("forecast_meta")) == table_fingerprint(
        cats["inc"].read("forecast_meta")
    )


def test_txn_pipeline_e2e_matches_plain_catalog(spark, tmp_path):
    """The five-stage pipeline over the manifest-logged TxnParquetCatalog
    (make_txn_catalog) produces value-identical tables to the plain
    directory-swap catalog — the txn layer is a drop-in sink."""
    from icenetetl_spark.plans.icenet import make_txn_catalog

    files = [
        make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1),
        make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2),
        make_raw_file(spark, "2024-03-05", "south", grid_side=6, seed=3),
    ]
    plain = ParquetCatalog(spark, str(tmp_path / "plain"))
    txn = make_txn_catalog(spark, str(tmp_path / "txn"))
    for cat in (plain, txn):
        pipe = IceNetPipeline(cat)
        for f, a in files:
            pipe.run(f, a)
    tables = ["cells", "forecasts", "forecast_latest", "forecast_meta"]
    for t in tables:
        assert table_fingerprint(plain.read(t)) == table_fingerprint(
            txn.read(t)
        ), t
    # replay through the txn catalog is also a fixed point
    pipe = IceNetPipeline(txn)
    before = {t: table_fingerprint(txn.read(t)) for t in tables}
    for f, a in files:
        pipe.run(f, a)
    after = {t: table_fingerprint(txn.read(t)) for t in tables}
    assert before == after
    # manifest-level skipping is wired: forecasts write sets carry stats
    # on the layout keys, and the latest recompute's read prunes on them
    m = txn._load_manifest("forecasts", txn.current_version("forecasts"))
    assert all(
        set(st) >= {"hemisphere", "date_forecast_generated"}
        for st in m["stats"].values()
    )


def test_txn_pipeline_concurrent_ingest_loses_no_rows(spark, tmp_path):
    """Two writers ingest DIFFERENT files plus one SHARED file into the
    same txn warehouse concurrently (reference semantics: row-atomic ON
    CONFLICT DO NOTHING, processor.py:249-256): after both finish, the
    fact tables hold exactly the union — no lost rows, no duplicate keys,
    the shared file landed once — and a final derived-table refresh
    converges to the serial result."""
    import threading

    from icenetetl_spark.plans.icenet import make_txn_catalog

    f_north, a_north = make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1)
    f_south, a_south = make_raw_file(spark, "2024-03-05", "south", grid_side=6, seed=3)
    f_shared, a_shared = make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2)

    wh = str(tmp_path / "txn-conc")
    errors = []

    def writer(own_file, own_attrs):
        try:
            pipe = IceNetPipeline(make_txn_catalog(spark, wh))
            pipe.run(own_file, own_attrs)
            pipe.run(f_shared, a_shared)
        except Exception as e:  # pragma: no cover - surfaced by assert
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(f_north, a_north))
    t2 = threading.Thread(target=writer, args=(f_south, a_south))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errors, errors

    cat = make_txn_catalog(spark, wh)
    pipe = IceNetPipeline(cat)
    # derived tables are eventually consistent across tables; one final
    # refresh must converge them (see IceNetPipeline docstring)
    pipe.update_latest()
    pipe.update_meta()

    # serial reference run
    ref = ParquetCatalog(spark, str(tmp_path / "serial"))
    rpipe = IceNetPipeline(ref)
    for f, a in [(f_north, a_north), (f_south, a_south), (f_shared, a_shared)]:
        rpipe.run(f, a)

    for t in ["cells", "forecasts", "forecast_latest", "forecast_meta"]:
        assert table_fingerprint(cat.read(t)) == table_fingerprint(
            ref.read(t)
        ), t
    key = ["hemisphere", "date_forecast_generated", "date_forecast_for", "cell_id"]
    forecasts = cat.read("forecasts")
    assert forecasts.select(*key).distinct().count() == forecasts.count()


TABLES = ["cells", "forecasts", "forecast_latest", "forecast_meta"]


def _catalogs(spark, tmp_path):
    from icenetetl_spark.plans.icenet import make_txn_catalog

    return {
        "plain": ParquetCatalog(spark, str(tmp_path / "plain")),
        "txn": make_txn_catalog(spark, str(tmp_path / "txn")),
    }


def test_warm_drop_job_budget(spark, tmp_path, count_jobs):
    """A repeat run of a landed drop takes its schemas from table metadata
    and its counts from the writes: no inference, read-back or count jobs.
    With schemas inferred on every read and counts read back after every
    write, the same run took 44 (plain) and 50 (txn) jobs."""
    budget = {"plain": 30, "txn": 30}
    f, a = make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1)
    for label, cat in _catalogs(spark, tmp_path).items():
        pipe = IceNetPipeline(cat)
        pipe.run(f, a)
        jobs = count_jobs(lambda: pipe.run(f, a))
        assert jobs <= budget[label], (label, jobs)


@pytest.mark.parametrize("drop", ["all_nan", "zero_rows"])
def test_empty_drop_leaves_warehouse_unchanged(spark, tmp_path, drop):
    """An all-NaN grid and a zero-row drop, landed on a warehouse holding
    one drop, insert nothing and change no table's content."""
    f1, a1 = make_raw_file(spark, "2024-03-01", "north", grid_side=6, seed=1)
    f2, a2 = make_raw_file(spark, "2024-03-08", "north", grid_side=6, seed=2)
    if drop == "all_nan":
        nan = F.lit(float("nan")).cast("float")
        f2 = f2.withColumn("sic_mean", nan).withColumn("sic_stddev", nan)
    else:
        f2 = f2.limit(0)
    for label, cat in _catalogs(spark, tmp_path).items():
        pipe = IceNetPipeline(cat)
        pipe.run(f1, a1)
        before = {t: table_fingerprint(cat.read(t)) for t in TABLES}
        inserted = []
        append_missing = cat.append_missing

        def recording(*args, _orig=append_missing, **kwargs):
            inserted.append(_orig(*args, **kwargs))
            return inserted[-1]

        cat.append_missing = recording
        pipe.run(f2, a2)
        assert inserted == [0, 0], label
        assert {t: table_fingerprint(cat.read(t)) for t in TABLES} == before, label
