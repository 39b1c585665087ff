"""Output checks: query results against their DuckDB oracle, and the final
warehouse tables of an ingest series against expectations computed in
pandas from the same fixture generator."""

from __future__ import annotations

import json

import duckdb
import numpy as np
import pandas as pd

from perfbench import datagen

LATEST_COLS = [
    "date_forecast_generated",
    "date_forecast_for",
    "centroid_x",
    "centroid_y",
    "sea_ice_concentration_mean",
    "sea_ice_concentration_stddev",
]


def _family(sql_type: str) -> str:
    """Types within one family compare by value with no loss: integers of
    any width, DATE and TIMESTAMP, decimals of any scale. Every other type
    is its own family; FLOAT and DOUBLE differ."""
    if sql_type in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT"):
        return "integer"
    if sql_type == "DATE" or sql_type.startswith("TIMESTAMP"):
        return "time"
    return "decimal" if sql_type.startswith("DECIMAL") else sql_type


def compare(con, result_dir: str, sql: str) -> str | None:
    """None when the Spark result in ``result_dir`` (parquet) equals the
    oracle ``sql`` as a multiset of rows over the same column names, else a
    one-line description of the first difference found. Like the
    repository's oracle gate (``tools/check_oracle.py``) it normalizes
    integer widths and dates against timestamps, flags a float column whose
    width differs, and compares values exactly. Any other type difference
    is a mismatch; nothing is cast."""
    con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM read_parquet('{result_dir}/*.parquet')")
    con.execute(f"CREATE OR REPLACE TEMP VIEW o AS {sql}")
    s_types = {r[0].lower(): r[1] for r in con.execute("DESCRIBE s").fetchall()}
    o_types = {r[0].lower(): r[1] for r in con.execute("DESCRIBE o").fetchall()}
    if sorted(s_types) != sorted(o_types):
        return f"columns differ: spark={sorted(s_types)} oracle={sorted(o_types)}"
    cols = sorted(o_types)
    for c in cols:
        if _family(s_types[c]) != _family(o_types[c]):
            return f"type differs on {c!r}: spark={s_types[c]} oracle={o_types[c]}"
    n_s = con.execute("SELECT count(*) FROM s").fetchone()[0]
    n_o = con.execute("SELECT count(*) FROM o").fetchone()[0]
    if n_s != n_o:
        return f"row count differs: spark={n_s} oracle={n_o}"
    sel = ", ".join(f'"{c}"' for c in cols)
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT {sel} FROM s EXCEPT ALL SELECT {sel} FROM o)"
    ).fetchone()[0]
    return f"{extra}/{n_s} rows differ from the oracle" if extra else None


def check_queries(sf_dir: str, out_dir: str, names, oracles) -> list[str]:
    """Compare each query's result, written as parquet under
    ``out_dir/<name>``, with its DuckDB oracle over the same tables."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET TimeZone = 'UTC'")
    for t in datagen.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    errors = []
    try:
        for name in names:
            diff = compare(con, f"{out_dir}/{name}", oracles[name])
            if diff:
                errors.append(f"{name}: {diff}")
    finally:
        con.close()
    return errors


def expected_pdf(drop: dict, grid_side: int, leadtimes: int) -> pd.DataFrame:
    """The forecast rows one fresh drop must land, as ``LATEST_COLS``: the
    pipeline's load filter (sic_mean > 0, no null) over ``make_raw_pdf``,
    with metre centroids and the forecast date derived as the pipeline
    defines them."""
    from icenetetl_spark.sources.fixtures import make_raw_pdf

    pdf = make_raw_pdf(
        drop["generated"], grid_side=grid_side, leadtimes=leadtimes, seed=drop["seed"]
    )
    pdf = pdf[(pdf["sic_mean"] > 0) & ~np.isnan(pdf["sic_stddev"])]
    generated = pd.Timestamp(drop["generated"])
    return pd.DataFrame(
        {
            "date_forecast_generated": generated,
            "date_forecast_for": generated + pd.to_timedelta(pdf["leadtime"], unit="D"),
            "centroid_x": np.floor(pdf["xc"] * 1000).astype(np.int32),
            "centroid_y": np.floor(pdf["yc"] * 1000).astype(np.int32),
            "sea_ice_concentration_mean": pdf["sic_mean"].astype(np.float32),
            "sea_ice_concentration_stddev": pdf["sic_stddev"].astype(np.float32),
        }
    )


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf[LATEST_COLS].sort_values(LATEST_COLS).reset_index(drop=True)


def _latest_rows(catalog, hemi: str) -> pd.DataFrame:
    from pyspark.sql import functions as F

    cells = catalog.read("cells").filter(F.col("hemisphere") == hemi)
    pdf = (
        catalog.read("forecast_latest")
        .filter(F.col("hemisphere") == hemi)
        .join(cells.select("cell_id", "centroid_x", "centroid_y"), "cell_id", "left")
        .select(*LATEST_COLS)
        .toPandas()
    )
    for c in ("date_forecast_generated", "date_forecast_for"):
        pdf[c] = pd.to_datetime(pdf[c])
    return pdf


def _first_difference(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    got, want = _sorted(got), _sorted(want)
    for c in LATEST_COLS:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype != b.dtype and not (a.dtype.kind == b.dtype.kind == "M"):
            return f"{c}: type {a.dtype}, expected {b.dtype}"
        bad = np.flatnonzero(a != b)
        if len(bad):
            i = bad[0]
            return f"{len(bad)} rows differ in {c}; first {a[i]!r}, expected {b[i]!r}"
    return None


def check_warehouse(
    catalog, plan: list[dict], inserted: list[dict], grid_side: int, leadtimes: int
) -> list[str]:
    """Compare the final tables with what the drop plan implies: row counts
    of ``cells``, ``forecasts`` and ``forecast_meta``, ``n_records`` per
    drop, and the full content of ``forecast_latest`` per hemisphere.
    ``inserted`` holds, per drop in ``plan``, the rows ``append_missing``
    reported per table; every re-upload must have inserted nothing.
    Returns one line per mismatch."""
    fresh = [d for d in plan if not d["reupload"]]
    exp = {d["name"]: expected_pdf(d, grid_side, leadtimes) for d in fresh}
    hemis = sorted({d["hemisphere"] for d in fresh})
    errors = []

    want = {
        "cells": grid_side * grid_side * len(hemis),
        "forecasts": sum(len(e) for e in exp.values()),
        "forecast_meta": len(fresh),
    }
    for table, n in want.items():
        got = catalog.read(table).count()
        if got != n:
            errors.append(f"{table}: {got} rows, expected {n}")
    for hemi in hemis:
        latest = max((d for d in fresh if d["hemisphere"] == hemi), key=lambda d: d["generated"])
        diff = _first_difference(_latest_rows(catalog, hemi), exp[latest["name"]])
        if diff:
            errors.append(f"forecast_latest[{hemi}]: {diff}")
    meta = {
        (str(r["date_forecast_generated"]), r["hemisphere"]): r["n_records"]
        for r in catalog.read("forecast_meta").collect()
    }
    for d in fresh:
        got = meta.get((d["generated"], d["hemisphere"]))
        if got != len(exp[d["name"]]):
            errors.append(
                f"forecast_meta[{d['generated']},{d['hemisphere']}].n_records: {got}, "
                f"expected {len(exp[d['name']])}"
            )
    for d, ins in zip(plan, inserted):
        if d["reupload"] and any(ins.get(t, 0) > 0 for t in ("cells", "forecasts")):
            errors.append(f"re-upload {d['name']} inserted rows: {json.dumps(ins)}")
    return errors
