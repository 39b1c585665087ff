"""Pure-numpy NetCDF-3 classic reader/writer and the un-gated S2 ingest:
real .nc bytes -> binaryFile scan -> melt -> full pipeline, matching the
in-memory fixture path table-for-table."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from icenetetl_spark.sources.fixtures import (
    make_netcdf_bytes,
    make_raw_file,
    make_raw_pdf,
)
from icenetetl_spark.sources.netcdf import (
    _melt_one,
    file_attrs,
    melt_netcdf_files,
    read_binary_files,
)
from icenetetl_spark.sources.netcdf3 import (
    NC3Var,
    parse_netcdf3,
    write_netcdf3,
)


def test_writer_reader_roundtrip():
    dims = {"t": 2, "x": 3}
    data2d = np.array([[1.0, np.nan, 3.0], [4.0, 5.0, 6.0]], dtype=np.float32)
    variables = [
        NC3Var("t", ("t",), {"units": "hours since 2020-01-01 06:00:00"},
               np.array([0, 7], dtype=np.int32)),
        NC3Var("x", ("x",), {}, np.array([0.5, 1.5, 2.5])),
        NC3Var("v", ("t", "x"), {"_FillValue": np.float32(-999.0)}, data2d),
        NC3Var("flag", (), {}, np.array(7, dtype=np.int16)),
    ]
    raw = write_netcdf3(dims, variables, {"title": "fixture", "version": np.float64(1.5)})
    nc = parse_netcdf3(raw)
    assert nc.dims == dims and nc.record_dim is None
    assert nc.attrs["title"] == "fixture" and float(nc.attrs["version"]) == 1.5
    assert nc.variables["v"].dims == ("t", "x")
    np.testing.assert_array_equal(nc.variables["v"].data, data2d)
    assert float(nc.variables["v"].attrs["_FillValue"]) == -999.0
    np.testing.assert_array_equal(nc.variables["x"].data, [0.5, 1.5, 2.5])
    assert int(nc.variables["flag"].data) == 7 and nc.variables["flag"].dims == ()


def _name(s: bytes) -> bytes:
    pad = (4 - len(s) % 4) % 4
    return struct.pack(">i", len(s)) + s + b"\x00" * pad


def test_reader_record_variables_handwritten():
    """Record layout per the public spec: slabs interleaved per record,
    each padded to 4 bytes (two record vars here: int32 t + 2xfloat v)."""
    hdr = b"CDF\x01" + struct.pack(">i", 3)  # numrecs = 3
    hdr += struct.pack(">ii", 0x0A, 2) + _name(b"time") + struct.pack(">i", 0)
    hdr += _name(b"x") + struct.pack(">i", 2)
    hdr += struct.pack(">ii", 0, 0)  # no global attrs
    hdr += struct.pack(">ii", 0x0B, 2)
    # var t(time) int32: vsize = pad4(4) = 4
    var_t = _name(b"t") + struct.pack(">ii", 1, 0) + struct.pack(">ii", 0, 0)
    var_t += struct.pack(">iii", 4, 4, 0)  # type, vsize, begin placeholder
    # var v(time,x) float: vsize = pad4(8) = 8
    var_v = _name(b"v") + struct.pack(">ii", 2, 0) + struct.pack(">i", 1)
    var_v += struct.pack(">ii", 0, 0) + struct.pack(">iii", 5, 8, 0)
    begin_t = len(hdr) + len(var_t) + len(var_v)
    var_t = var_t[:-8] + struct.pack(">ii", 4, begin_t)
    var_v = var_v[:-8] + struct.pack(">ii", 8, begin_t + 4)
    body = b""
    for rec in range(3):  # recsize = 4 + 8
        body += struct.pack(">i", rec + 10)
        body += struct.pack(">ff", rec * 2.0, rec * 2.0 + 1.0)
    nc = parse_netcdf3(hdr + var_t + var_v + body)
    assert nc.record_dim == "time" and nc.dims == {"time": 3, "x": 2}
    np.testing.assert_array_equal(nc.variables["t"].data, [10, 11, 12])
    np.testing.assert_array_equal(
        nc.variables["v"].data, [[0.0, 1.0], [2.0, 3.0], [4.0, 5.0]]
    )


def test_reader_lone_record_var_unpadded():
    """Spec special case: a single record variable is contiguous with NO
    per-record padding (3 int16 records = 6 bytes, not 12)."""
    hdr = b"CDF\x01" + struct.pack(">i", 3)
    hdr += struct.pack(">ii", 0x0A, 1) + _name(b"time") + struct.pack(">i", 0)
    hdr += struct.pack(">ii", 0, 0)
    hdr += struct.pack(">ii", 0x0B, 1)
    var = _name(b"s") + struct.pack(">ii", 1, 0) + struct.pack(">ii", 0, 0)
    begin = len(hdr) + len(var) + 12
    var += struct.pack(">iii", 3, 4, begin)  # NC_SHORT, padded vsize, begin
    body = struct.pack(">hhh", 5, 6, 7)
    nc = parse_netcdf3(hdr + var + body)
    np.testing.assert_array_equal(nc.variables["s"].data, [5, 6, 7])


def test_reader_streaming_numrecs_lone_record_var():
    """Regression: with numrecs = STREAMING (-1) and a LONE record var,
    the record count must be inferred from the UNPADDED slab stride (the
    padded header vsize would halve the count for an int16-per-record
    variable)."""
    hdr = b"CDF\x01" + struct.pack(">i", -1)  # STREAMING
    hdr += struct.pack(">ii", 0x0A, 1) + _name(b"time") + struct.pack(">i", 0)
    hdr += struct.pack(">ii", 0, 0)
    hdr += struct.pack(">ii", 0x0B, 1)
    var = _name(b"s") + struct.pack(">ii", 1, 0) + struct.pack(">ii", 0, 0)
    begin = len(hdr) + len(var) + 12
    var += struct.pack(">iii", 3, 4, begin)  # NC_SHORT, padded vsize=4
    body = struct.pack(">hhhhhh", 1, 2, 3, 4, 5, 6)  # 6 records, 12 bytes
    nc = parse_netcdf3(hdr + var + body)
    assert nc.dims["time"] == 6
    np.testing.assert_array_equal(nc.variables["s"].data, [1, 2, 3, 4, 5, 6])


def test_streaming_header_only_reports_record_dim_none():
    """A header-only parse of a STREAMING file cannot know the record
    count (it needs the data length), so dims must say None — not a
    number inferred from the truncated prefix."""
    hdr = b"CDF\x01" + struct.pack(">i", -1)  # STREAMING
    hdr += struct.pack(">ii", 0x0A, 1) + _name(b"time") + struct.pack(">i", 0)
    hdr += struct.pack(">ii", 0, 0)
    hdr += struct.pack(">ii", 0x0B, 1)
    var = _name(b"s") + struct.pack(">ii", 1, 0) + struct.pack(">ii", 0, 0)
    begin = len(hdr) + len(var) + 12
    var += struct.pack(">iii", 3, 4, begin)  # NC_SHORT
    body = struct.pack(">hhhhhh", 1, 2, 3, 4, 5, 6)
    full = hdr + var + body
    assert parse_netcdf3(full).dims["time"] == 6  # full parse still infers
    nc = parse_netcdf3(full[: len(hdr) + len(var)], load_data=False)
    assert nc.dims["time"] is None


def test_float_cf_time_fractional_and_nan():
    """CF-timed FLOAT variable: fractional offsets keep sub-unit
    precision and _FillValue-masked NaNs decode to NaT (previously an
    undefined NaN->int64 cast)."""
    dims = {"t": 3}
    variables = [
        NC3Var("t", ("t",), {}, np.array([0, 1, 2], dtype=np.int32)),
        NC3Var(
            "ftime",
            ("t",),
            {"units": "days since 2020-01-01", "_FillValue": np.float64(-9.0)},
            np.array([0.5, 1.25, -9.0]),
        ),
    ]
    raw = write_netcdf3(dims, variables, {})
    pdf = _melt_one(raw)
    assert pdf["ftime"][0] == pd.Timestamp("2020-01-01 12:00:00")
    assert pdf["ftime"][1] == pd.Timestamp("2020-01-02 06:00:00")
    assert pd.isna(pdf["ftime"][2])


def test_header_only_parse_skips_data():
    raw = make_netcdf_bytes("2024-03-01", grid_side=4, leadtimes=2)
    nc = parse_netcdf3(raw, load_data=False)
    assert nc.attrs["geospatial_lat_max"] == 85.0
    assert nc.dims == {"time": 1, "leadtime": 2, "yc": 4, "xc": 4}
    assert all(v.data.size == 0 for v in nc.variables.values())


def test_old_format_nc_melts_and_ingests(spark, tmp_path):
    """Old-format .nc files (mean/stddev variable names) must melt: the
    rename happens inside the parse, mirroring processor.py:125-133."""
    from icenetetl_spark.sources.netcdf import melt_netcdf_files

    raw = make_netcdf_bytes(
        "2024-03-01", grid_side=4, leadtimes=2, seed=5, old_format=True
    )
    (tmp_path / "old.nc").write_bytes(raw)
    melted = melt_netcdf_files(
        read_binary_files(spark, str(tmp_path))
    ).toPandas()
    expected = make_raw_pdf("2024-03-01", grid_side=4, leadtimes=2, seed=5)
    assert len(melted) == len(expected)
    np.testing.assert_array_equal(
        np.sort(melted["sic_mean"].to_numpy()),
        np.sort(expected["sic_mean"].to_numpy()),
    )


def test_netcdf4_bytes_rejected():
    with pytest.raises(ValueError, match="NetCDF-4"):
        parse_netcdf3(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)


def test_melt_matches_fixture_frame():
    """_melt_one on the classic fixture reproduces make_raw_pdf row-for-row
    on every pipeline-relevant column (lat/lon intentionally differ: the
    .nc stores them as 2-D aux coords; both are dropped by the pipeline)."""
    raw = make_netcdf_bytes("2024-03-01", grid_side=6, leadtimes=3, seed=7)
    melted = _melt_one(raw)
    expected = make_raw_pdf("2024-03-01", grid_side=6, leadtimes=3, seed=7)
    assert len(melted) == len(expected) == 3 * 6 * 6
    for col in ["leadtime", "xc", "yc"]:
        np.testing.assert_array_equal(
            melted[col].to_numpy(), expected[col].to_numpy(), err_msg=col
        )
    for col in ["sic_mean", "sic_stddev"]:  # NaNs must survive byte-exactly
        np.testing.assert_array_equal(
            melted[col].to_numpy(), expected[col].to_numpy(), err_msg=col
        )
    assert (melted["time"] == pd.Timestamp("2024-03-01")).all()
    assert (melted["Lambert_Azimuthal_Grid"] == 0).all()


def test_file_attrs_route_hemisphere():
    north = file_attrs(make_netcdf_bytes("2024-03-01", "north", 4, 2))
    south = file_attrs(make_netcdf_bytes("2024-03-01", "south", 4, 2))
    from icenetetl_spark.plans.icenet import classify_hemisphere

    assert north.geospatial_lat_max == 85.0
    assert classify_hemisphere(north) == "north"
    assert classify_hemisphere(south) == "south"


def test_nc_ingest_end_to_end_matches_dataframe_path(spark, tmp_path):
    """The un-gated S2 e2e: .nc bytes on disk -> binaryFile -> melt ->
    pipeline produces the SAME four catalog tables as the in-memory
    fixture path with identical parameters."""
    from icenetetl_spark.catalog import ParquetCatalog
    from icenetetl_spark.plans.icenet import IceNetPipeline

    files = [
        ("2024-03-01", "north", 1),
        ("2024-03-08", "north", 2),
        ("2024-03-05", "south", 3),
    ]
    ncdir = tmp_path / "blobs"
    ncdir.mkdir()
    for date, hemi, seed in files:
        raw = make_netcdf_bytes(date, hemi, grid_side=6, leadtimes=3, seed=seed)
        (ncdir / f"{hemi}_{date}.nc").write_bytes(raw)

    cat_nc = ParquetCatalog(spark, str(tmp_path / "wh_nc"))
    pipe_nc = IceNetPipeline(cat_nc)
    binary_df = read_binary_files(spark, str(ncdir))
    for date, hemi, seed in files:
        fname = f"{hemi}_{date}.nc"
        one = binary_df.filter(F.col("path").endswith(fname))
        attrs = file_attrs((ncdir / fname).read_bytes())
        pipe_nc.run(melt_netcdf_files(one), attrs)

    cat_df = ParquetCatalog(spark, str(tmp_path / "wh_df"))
    pipe_df = IceNetPipeline(cat_df)
    for date, hemi, seed in files:
        f, a = make_raw_file(spark, date, hemi, grid_side=6, leadtimes=3, seed=seed)
        pipe_df.run(f, a)

    for table in ["cells", "forecasts", "forecast_latest", "forecast_meta"]:
        a = sorted(map(str, cat_nc.read(table).collect()))
        b = sorted(map(str, cat_df.read(table).collect()))
        assert a == b, f"{table}: .nc path diverged from DataFrame path"


def test_truncated_nc_txn_ingest_commits_nothing(spark, tmp_path):
    """A .nc drop cut in half must fail the CLI ``ingest --txn`` without
    touching a warehouse that already holds one drop: no new manifest in
    any table's txn log, and every table reads back unchanged. At 8x8 the
    header survives the cut, so the failure comes from the data section,
    inside the pipeline's Spark jobs, not from the CLI's header read."""
    import glob
    import os

    from icenetetl_spark.cli import main
    from icenetetl_spark.plans.icenet import make_txn_catalog

    wh = str(tmp_path / "wh")
    good = tmp_path / "north_2024-03-01.nc"
    good.write_bytes(make_netcdf_bytes("2024-03-01", "north", 8, 2, seed=1))
    assert main(["ingest", str(good), "--warehouse", wh, "--txn"]) == 0

    def manifests():
        return sorted(glob.glob(os.path.join(wh, "*", "_manifests", "*")))

    def contents():
        cat = make_txn_catalog(spark, wh)
        return {
            t: sorted(map(str, cat.read(t).collect()))
            for t in ("forecasts", "cells", "forecast_meta")
        }

    log_before, tables_before = manifests(), contents()
    assert log_before and all(tables_before.values())

    raw = make_netcdf_bytes("2024-03-08", "north", 8, 2, seed=2)
    bad = tmp_path / "cut" / "north_2024-03-08.nc"
    bad.parent.mkdir()
    bad.write_bytes(raw[: len(raw) // 2])
    assert file_attrs(bad.read_bytes()).geospatial_lat_max == 85.0
    try:
        rc = main(["ingest", str(bad), "--warehouse", wh, "--txn"])
    except Exception:
        rc = None
    assert rc != 0, "a truncated drop must not ingest cleanly"
    assert manifests() == log_before
    assert contents() == tables_before
