"""Source tests: binaryFile scan path and the xarray gate."""

from __future__ import annotations

import os

import pytest

from icenetetl_spark.sources.netcdf import (
    HAS_XARRAY,
    melt_netcdf_files,
    read_binary_files,
)


def test_binary_file_scan(spark, tmp_path):
    p = tmp_path / "blobs"
    os.makedirs(p)
    (p / "a.nc").write_bytes(b"\x01\x02\x03")
    (p / "b.nc").write_bytes(b"\x04\x05")
    (p / "ignored.txt").write_bytes(b"x")
    df = read_binary_files(spark, str(p))
    rows = {os.path.basename(r["path"]): r["length"] for r in df.collect()}
    assert rows == {"a.nc": 3, "b.nc": 2}


@pytest.mark.skipif(HAS_XARRAY, reason="gate test requires xarray absent")
def test_netcdf_gate(spark, tmp_path):
    """Without xarray the classic parser handles .nc ingest; inputs it
    cannot own fail with a pointed error, not a silent wrong parse."""
    p = tmp_path / "blobs"
    os.makedirs(p)
    (p / "a.nc").write_bytes(b"not-a-real-netcdf")
    df = melt_netcdf_files(read_binary_files(spark, str(p)))
    # plan construction succeeds; execution flags the malformed bytes
    with pytest.raises(Exception, match="classic"):
        df.collect()
    (p / "a.nc").write_bytes(b"\x89HDF\r\n\x1a\n" + b"\x00" * 64)
    df = melt_netcdf_files(read_binary_files(spark, str(p)))
    # NetCDF-4 needs the xarray backend; the error says so
    with pytest.raises(Exception, match="xarray"):
        df.collect()


def test_load_table_handle_memo_and_staleness(spark, tmp_path):
    """load_table memoizes the LAZY plan handle per (session, path,
    size, mtime) — repeated calls return the same object (no repeated
    footer job), while a regenerated file under the same path gets a
    FRESH handle (no stale file listing)."""
    import time as _time

    from icenetetl_spark.sources.testdata import load_table

    p = str(tmp_path)
    spark.range(5).toDF("x").write.mode("overwrite").parquet(
        os.path.join(p, "region.parquet")
    )
    a = load_table(spark, p, "region")
    b = load_table(spark, p, "region")
    assert a is b
    assert a.count() == 5
    _time.sleep(0.01)  # ensure a distinct mtime_ns
    spark.range(9).toDF("x").write.mode("overwrite").parquet(
        os.path.join(p, "region.parquet")
    )
    c = load_table(spark, p, "region")
    assert c is not a
    assert c.count() == 9


def test_load_table_handle_memo_is_per_session(spark, tmp_path):
    """Each session keeps its own memo: two sessions alternating
    load_table on one path each get back their own first handle (neither
    evicts the other's), and spread() on each handle returns that
    session's memoized frame."""
    from icenetetl_spark.operators.scale import spread
    from icenetetl_spark.sources.testdata import load_table

    p = str(tmp_path)
    spark.range(5).toDF("x").write.parquet(os.path.join(p, "region.parquet"))
    s1, s2 = spark, spark.newSession()
    a = load_table(s1, p, "region")
    b = load_table(s2, p, "region")
    a2 = load_table(s1, p, "region")
    b2 = load_table(s2, p, "region")
    assert a is a2
    assert b is b2
    assert a is not b
    assert a.sparkSession is s1 and b.sparkSession is s2
    sa, sb = spread(a, "x"), spread(b, "x")
    assert sa.sparkSession is s1 and sb.sparkSession is s2
    assert spread(a2, "x") is sa
    assert spread(b2, "x") is sb
    assert sa.count() == sb.count() == 5
