"""Driver-contract invariants — cheap guards that future rounds can't
accidentally break the __spark_entry__ surface."""

from __future__ import annotations

import importlib.util
import sys


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_oracle_has_a_query():
    mod = _load_entry()
    q, o = mod.queries(), mod.oracle_sql()
    assert set(o) <= set(q), f"orphan oracles: {set(o) - set(q)}"


def test_registry_is_module_order_merge():
    """The registry is the plain merge of each module's dicts in
    ``_MODULES`` order — no reordering layer between modules and driver."""
    from icenetetl_spark.queries import _MODULES, all_oracles, all_queries

    assert list(all_queries()) == [n for m in _MODULES for n in m.QUERIES]
    assert list(all_oracles()) == [n for m in _MODULES for n in m.ORACLES]


def test_rows_only_queries_are_documented():
    """Queries without an oracle must say why in their docstring."""
    mod = _load_entry()
    q, o = mod.queries(), mod.oracle_sql()
    for name in set(q) - set(o):
        doc = (q[name].__doc__ or "").lower()
        assert "rows-only" in doc or "oracle" in doc, (
            f"{name} has no oracle and no docstring justification"
        )


def test_query_callables_take_spark_and_sfdir():
    import inspect

    mod = _load_entry()
    for name, fn in mod.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir), got {params}"


def test_oracle_sql_is_nonempty_select():
    mod = _load_entry()
    for name, sql in mod.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), f"{name}: not a query"


def test_bench_queries_are_registered():
    """bench.py's headline and extended lists must stay a subset of the
    registry — retiring a query from the registry without updating
    BENCH_QUERIES or BENCH_QUERIES_EXT would crash the driver's per-round
    bench run (the round-6 stub retirement nearly did)."""
    import bench

    mod = _load_entry()
    suite = bench.BENCH_QUERIES + bench.BENCH_QUERIES_EXT
    missing = set(suite) - set(mod.queries())
    assert not missing, f"bench queries not in registry: {missing}"


def test_entry_importable_without_repo_on_path():
    saved = list(sys.path)
    try:
        sys.path = [p for p in sys.path if p not in ("/root/repo", "")]
        mod = _load_entry()
        assert len(mod.queries()) > 0
    finally:
        sys.path = saved


def test_cli_sql_and_list(spark, capsys):
    from icenetetl_spark.cli import main

    assert main(["list"]) == 0
    assert (
        main(
            [
                "sql",
                "SELECT r_name, count(*) AS n FROM region GROUP BY r_name",
                "--sf-dir",
                "/root/testdata/sf0.001",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "ASIA" in out
