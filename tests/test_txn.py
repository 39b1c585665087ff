"""Optimistic-concurrency catalog: two real concurrent writers must
serialize into a linear version chain with no lost rows, replays must be
no-ops, and losers' orphaned write sets must stay invisible and vacuumable."""

from __future__ import annotations

import json
import os
import threading

import pytest

from pyspark.sql import functions as F

from icenetetl_spark.txn import CommitConflict, TxnParquetCatalog


def _cat(spark, tmp_path) -> TxnParquetCatalog:
    return TxnParquetCatalog(spark, str(tmp_path / "wh"))


def _rows(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(tag).alias("v")
    )


def test_create_read_roundtrip(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    assert not cat.exists("t")
    n = cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])
    assert n == 10 and cat.exists("t")
    assert cat.read("t").count() == 10
    assert cat.current_version("t") == 0


def test_append_missing_idempotent_replay(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    batch = _rows(spark, 0, 50, "a")
    assert cat.append_missing("t", batch, ["k"]) == 50
    v = cat.current_version("t")
    assert cat.append_missing("t", batch, ["k"]) == 0  # replay: no-op
    assert cat.read("t").count() == 50
    # a pure replay must not even advance the version chain
    assert cat.current_version("t") == v


def test_upsert_last_writer_wins(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.upsert("t", _rows(spark, 0, 10, "old"), ["k"])
    cat.upsert("t", _rows(spark, 5, 15, "new"), ["k"])
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert len(got) == 15
    assert all(got[k] == "old" for k in range(0, 5))
    assert all(got[k] == "new" for k in range(5, 15))


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 5, "a"), ["k"])
    cat.append_missing("t", _rows(spark, 5, 9, "b"), ["k"])
    assert cat.read("t", version=0).count() == 5
    assert cat.read("t", version=1).count() == 9


def test_concurrent_append_missing_loses_no_rows(spark, tmp_path):
    """Two writers, overlapping key ranges, racing on the same table:
    every key lands exactly once, total = |union of ranges|."""
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 1, "seed"), ["k"])
    errs = []

    def writer(lo, hi, tag):
        try:
            c = TxnParquetCatalog(spark, cat.warehouse)
            for step in range(3):  # several commits each, to force races
                c.append_missing(
                    "t", _rows(spark, lo + step * 40, lo + step * 40 + hi, tag), ["k"]
                )
        except Exception as e:  # surfaced after join
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(0, 60, "w1"))
    t2 = threading.Thread(target=writer, args=(20, 60, "w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    got = cat.read("t")
    keys = [r["k"] for r in got.select("k").collect()]
    assert len(keys) == len(set(keys)), "duplicate keys => lost serialization"
    expect = {0} | set(range(0, 140)) | set(range(20, 160))
    assert set(keys) == expect
    # linear chain: versions 0..current exist with no holes
    mdir = os.path.join(cat.path("t"), "_manifests")
    versions = sorted(int(f[1:-5]) for f in os.listdir(mdir) if f.endswith(".json"))
    assert versions == list(range(len(versions)))


def test_concurrent_upsert_disjoint_keys_both_survive(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.upsert("t", _rows(spark, 0, 1, "seed"), ["k"])

    def writer(lo, hi, tag):
        TxnParquetCatalog(spark, cat.warehouse).upsert(
            "t", _rows(spark, lo, hi, tag), ["k"]
        )

    t1 = threading.Thread(target=writer, args=(100, 150, "w1"))
    t2 = threading.Thread(target=writer, args=(200, 250, "w2"))
    t1.start(); t2.start(); t1.join(); t2.join()
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert {k for k in got if 100 <= k < 150} == set(range(100, 150))
    assert {k for k in got if 200 <= k < 250} == set(range(200, 250))
    assert got[0] == "seed"


def test_orphaned_write_sets_invisible_and_vacuumed(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])
    # simulate a crashed writer: data landed, manifest never committed
    orphan = os.path.join(cat.path("t"), "data", "ws-deadbeef")
    _rows(spark, 90, 99, "crash").write.parquet(orphan)
    assert cat.read("t").count() == 10  # invisible to readers
    removed = cat.vacuum("t", min_age_s=0)
    assert removed == 1 and not os.path.isdir(orphan)
    assert cat.read("t").count() == 10


def test_vacuum_retains_window_and_drops_old_versions(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    for i in range(4):
        cat.overwrite("t", _rows(spark, 0, 10 + i, "x"))
    assert cat.current_version("t") == 3
    cat.vacuum("t", keep_versions=2, min_age_s=0)
    assert cat.read("t", version=3).count() == 13
    assert cat.read("t", version=2).count() == 12
    with pytest.raises(FileNotFoundError):
        cat.read("t", version=1)


def test_conflict_raises_after_retry_budget(spark, tmp_path, monkeypatch):
    cat = TxnParquetCatalog(spark, str(tmp_path / "wh"), max_retries=2)
    cat.append_missing("t", _rows(spark, 0, 5, "a"), ["k"])

    real = cat._try_commit

    def always_lose(name, base, dirs, op, stats=None, schema=None):
        # a competing writer claims the slot with ITS OWN snapshot (the
        # base's dirs), then our CAS loses
        base_dirs = cat._load_manifest(name, base)["dirs"] if base >= 0 else []
        real(name, base, base_dirs, op + "-sniped", schema=schema)
        raise CommitConflict("sniped")

    monkeypatch.setattr(cat, "_try_commit", always_lose)
    with pytest.raises(CommitConflict):
        cat.append_missing("t", _rows(spark, 5, 9, "b"), ["k"])


def test_manifest_content_is_complete_json(spark, tmp_path):
    """The CAS publishes fully-written manifests (link-after-fsync): every
    visible manifest parses and its dirs all exist."""
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 5, "a"), ["k"])
    cat.append_missing("t", _rows(spark, 5, 9, "b"), ["k"])
    mdir = os.path.join(cat.path("t"), "_manifests")
    for f in sorted(os.listdir(mdir)):
        if f.endswith(".json"):
            m = json.load(open(os.path.join(mdir, f)))
            for d in m["dirs"]:
                assert os.path.isdir(os.path.join(cat.path("t"), "data", d))


# -- manifest statistics + data skipping ---------------------------------


def test_stats_recorded_and_pruned_read(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    for lo in (0, 100, 200):
        cat.append_missing(
            "t", _rows(spark, lo, lo + 100, f"b{lo}"), ["k"], stats_cols=["k"]
        )
    manifest = cat._load_manifest("t", cat.current_version("t"))
    assert len(manifest["dirs"]) == 3
    bounds = sorted(manifest["stats"][d]["k"] for d in manifest["dirs"])
    assert bounds == [[0, 99], [100, 199], [200, 299]]

    # point lookup touches exactly one write set's files
    hit = cat.read("t", where=[("k", "==", 150)])
    assert hit.count() == 1
    files = {f.split("/data/")[1].split("/")[0] for f in hit.inputFiles()}
    assert len(files) == 1
    assert manifest["stats"][next(iter(files))]["k"] == [100, 199]

    # range scan prunes to the overlapping sets and equals the full filter
    rng = cat.read("t", where=[("k", ">=", 90), ("k", "<", 110)])
    full = cat.read("t").filter((F.col("k") >= 90) & (F.col("k") < 110))
    assert sorted(r["k"] for r in rng.collect()) == sorted(
        r["k"] for r in full.collect()
    )
    rng_files = {f.split("/data/")[1].split("/")[0] for f in rng.inputFiles()}
    assert len(rng_files) == 2

    # predicate excluded by every write set: empty result, correct schema
    miss = cat.read("t", where=[("k", ">", 1000)])
    assert miss.count() == 0 and set(miss.columns) == {"k", "v"}


def test_read_pruned_empty_branches_matches_catalog_twin(spark, tmp_path):
    """Both sides of the documented read_pruned seam must agree on the
    degenerate input: an empty disjunction (OR of nothing) is false, so
    both catalogs return an EMPTY frame with the table's schema — the txn
    side used to IndexError on dfs[0] where the ParquetCatalog twin
    filtered by lit(False)."""
    from icenetetl_spark.catalog import ParquetCatalog

    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])
    out = cat.read_pruned("t", [])
    assert out.count() == 0 and set(out.columns) == {"k", "v"}

    plain = ParquetCatalog(spark, str(tmp_path / "plainwh"))
    plain.overwrite("t", _rows(spark, 0, 10, "a"))
    out2 = plain.read_pruned("t", [])
    assert out2.count() == 0 and set(out2.columns) == {"k", "v"}


def test_pruning_is_only_an_optimization_without_stats(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 100, "a"), ["k"])  # no stats
    cat.append_missing("t", _rows(spark, 100, 200, "b"), ["k"], stats_cols=["k"])
    out = cat.read("t", where=[("k", "==", 50)])
    assert out.count() == 1  # statless write set conservatively kept
    # string-typed stats on v prune by lexicographic range, still exact
    cat.append_missing("t", _rows(spark, 200, 300, "c"), ["k"], stats_cols=["k", "v"])
    assert cat.read("t", where=[("v", "==", "c")]).count() == 100


def test_compact_preserves_stats_columns(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    for lo in (0, 100):
        cat.append_missing(
            "t", _rows(spark, lo, lo + 100, "x"), ["k"], stats_cols=["k"]
        )
    cat.compact("t", num_files=1)
    manifest = cat._load_manifest("t", cat.current_version("t"))
    assert len(manifest["dirs"]) == 1
    (only,) = manifest["dirs"]
    assert manifest["stats"][only]["k"] == [0, 199]
    assert cat.read("t", where=[("k", "==", 5)]).count() == 1


def test_temporal_stats_prune_as_iso_strings(spark, tmp_path):
    import datetime

    cat = _cat(spark, tmp_path)
    for year in (2023, 2024):
        df = spark.range(0, 10).select(
            (F.col("id") + year * 100).alias("k"),
            F.to_date(F.lit(f"{year}-06-15")).alias("d"),
        )
        cat.append_missing("t", df, ["k"], stats_cols=["k", "d"])
    manifest = cat._load_manifest("t", cat.current_version("t"))
    assert sorted(s["d"] for s in manifest["stats"].values()) == [
        ["2023-06-15", "2023-06-15"],
        ["2024-06-15", "2024-06-15"],
    ]
    out = cat.read("t", where=[("d", ">=", datetime.date(2024, 1, 1))])
    assert out.count() == 10
    files = {f.split("/data/")[1].split("/")[0] for f in out.inputFiles()}
    assert len(files) == 1


def test_clustered_compact_tightens_pruning(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    # ingest order uncorrelated with k: every batch spans the full range,
    # so pre-compact stats overlap and nothing can be pruned
    for b in range(4):
        df = spark.range(0, 400).filter(F.col("id") % 4 == b).select(
            F.col("id").alias("k"), F.lit(f"b{b}").alias("v")
        )
        cat.append_missing("t", df, ["k"], stats_cols=["k"])
    before = cat.read("t", where=[("k", "==", 42)])
    bf = {f.split("/data/")[1].split("/")[0] for f in before.inputFiles()}
    assert len(bf) == 4  # overlapping ranges: no skipping possible

    cat.compact("t", num_files=4, cluster_by=["k"])
    manifest = cat._load_manifest("t", cat.current_version("t"))
    assert len(manifest["dirs"]) == 4
    ranges = sorted(manifest["stats"][d]["k"] for d in manifest["dirs"])
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint, ordered ranges

    after = cat.read("t", where=[("k", "==", 42)])
    af = {f.split("/data/")[1].split("/")[0] for f in after.inputFiles()}
    assert len(af) == 1  # point lookup now touches one write set
    assert after.count() == 1
    # clustering preserved every row
    assert cat.read("t").count() == 400
    assert cat.vacuum("t", min_age_s=0) >= 4  # pre-compact sets now unreferenced


def test_zorder_compact_prunes_on_both_dimensions(spark, tmp_path):
    """Morton clustering serves predicates on EITHER column; linear
    clustering on k1 leaves k2 predicates unprunable."""
    grid = spark.range(0, 1024).select(
        (F.col("id") % 32).alias("k1"),
        (F.col("id") / 32).cast("long").alias("k2"),
    )

    def files_touched(cat, where):
        out = cat.read("t", where=where)
        return len({f.split("/data/")[1].split("/")[0] for f in out.inputFiles()})

    lin = _cat(spark, tmp_path / "lin")
    lin.overwrite("t", grid, stats_cols=["k1", "k2"])
    lin.compact("t", num_files=8, cluster_by=["k1", "k2"])
    zo = _cat(spark, tmp_path / "zo")
    zo.overwrite("t", grid, stats_cols=["k1", "k2"])
    zo.compact("t", num_files=8, cluster_by=["k1", "k2"], zorder=True)

    for cat in (lin, zo):
        assert len(cat._load_manifest("t", cat.current_version("t"))["dirs"]) == 8
        assert cat.read("t").count() == 1024
        assert cat.read("t", where=[("k1", "==", 3), ("k2", "==", 7)]).count() == 1

    # leading column: both layouts prune
    assert files_touched(lin, [("k1", "==", 3)]) <= 2
    assert files_touched(zo, [("k1", "==", 3)]) <= 4
    # trailing column: linear layout cannot prune at all, zorder can
    lin_k2 = files_touched(lin, [("k2", "==", 7)])
    zo_k2 = files_touched(zo, [("k2", "==", 7)])
    assert lin_k2 == 8
    assert zo_k2 < lin_k2


@pytest.mark.parametrize(
    "cluster_by, zorder, jobs",
    [((), False, 1), (["k"], False, 3), (["k", "j"], True, 5)],
    ids=["plain", "range", "zorder"],
)
def test_compact_stats_are_observed_on_the_write(
    spark, tmp_path, count_jobs, cluster_by, zorder, jobs
):
    """Every compacted write set's manifest stats equal a grouped agg over
    the rows it holds, and the compact runs only its write job: clustering
    adds the range shuffle's sample and map-stage jobs, Z-order also the
    two jobs of the key bounds' aggregate. Reading the staged rewrite back
    for a grouped agg took 6 jobs (range) and 8 (Z-order)."""
    import datetime as dt

    from icenetetl_spark.txn import _json_stat

    cat = _cat(spark, tmp_path)
    for b in range(4):
        df = spark.range(b * 1000, (b + 1) * 1000).select(
            ((F.col("id") * 7919) % 4000).alias("k"),
            (F.col("id") % 37).alias("j"),
            F.when(F.col("id") % 5 != 0, F.col("id") / 8).alias("x"),
            F.date_add(F.lit(dt.date(2024, 1, 1)), (F.col("id") % 90).cast("int"))
            .alias("d"),
        )
        cat.append_missing("t", df, ["k"], stats_cols=["k", "x", "d"])
    assert count_jobs(
        lambda: cat.compact("t", num_files=4, cluster_by=cluster_by, zorder=zorder)
    ) == jobs

    manifest = cat._load_manifest("t", cat.current_version("t"))
    cols = sorted({"k", "x", "d", *cluster_by})
    ws = F.regexp_extract(F.input_file_name(), r"/data/(ws-[0-9a-f]+)/", 1)
    rows = (
        cat.read("t")
        .groupBy(ws.alias("ws"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.min(c).alias(f"min_{c}") for c in cols],
            *[F.max(c).alias(f"max_{c}") for c in cols],
        )
        .collect()
    )
    assert sum(r["n"] for r in rows) == 4000
    assert manifest["stats"] == {
        r["ws"]: {
            c: [_json_stat(r[f"min_{c}"]), _json_stat(r[f"max_{c}"])] for c in cols
        }
        for r in rows
    }
    assert sorted(manifest["dirs"]) == sorted(manifest["stats"])


def test_schema_evolution_additive_append(spark, tmp_path):
    """A later write set may carry a new column; reads union with NULLs
    for older sets (Delta-style additive evolution)."""
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])
    widened = _rows(spark, 10, 20, "b").withColumn("extra", F.lit(7))
    cat.append_missing("t", widened, ["k"])
    out = cat.read("t")
    assert set(out.columns) == {"k", "v", "extra"}
    vals = {r["k"]: r["extra"] for r in out.collect()}
    assert vals[0] is None and vals[15] == 7


def test_delete_where_removes_rows_and_reuses_untouched_sets(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    for lo in (0, 100, 200):
        cat.append_missing(
            "t", _rows(spark, lo, lo + 100, f"b{lo}"), ["k"], stats_cols=["k"]
        )
    before = cat._load_manifest("t", cat.current_version("t"))
    n = cat.delete_where("t", [("k", ">=", 150), ("k", "<", 160)])
    assert n == 10
    assert cat.read("t").count() == 290
    assert cat.read("t", where=[("k", "==", 155)]).count() == 0
    after = cat._load_manifest("t", cat.current_version("t"))
    # only the overlapping write set was rewritten; the other two are
    # the SAME directories, files untouched
    assert len(set(before["dirs"]) & set(after["dirs"])) == 2
    # rewritten set keeps data-skipping stats (inherited cols)
    new = set(after["dirs"]) - set(before["dirs"])
    assert len(new) == 1
    # survivors of the touched set are 100..149 and 160..199
    assert after["stats"][next(iter(new))]["k"] == [100, 199]

    # no-match delete is a no-op commit-wise
    v = cat.current_version("t")
    assert cat.delete_where("t", [("k", ">", 10_000)]) == 0
    assert cat.current_version("t") == v

    # idempotent replay
    assert cat.delete_where("t", [("k", ">=", 150), ("k", "<", 160)]) == 0


def test_delete_where_serializes_with_concurrent_append(spark, tmp_path):
    import threading

    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 100, "a"), ["k"], stats_cols=["k"])
    errs = []

    def deleter():
        try:
            cat.delete_where("t", [("k", "<", 50)])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def appender():
        try:
            cat.append_missing(
                "t", _rows(spark, 100, 150, "b"), ["k"], stats_cols=["k"]
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=deleter), threading.Thread(target=appender)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    ks = sorted(r["k"] for r in cat.read("t").collect())
    assert ks == list(range(50, 150))  # both effects present, serialized


def test_delete_keeps_null_rows_and_survives_full_delete(spark, tmp_path):
    """SQL DELETE semantics under schema evolution: rows whose predicate
    column reads as NULL are kept; deleting everything leaves an empty
    but readable AND appendable table (never dirs=[])."""
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"], stats_cols=["k"])
    widened = _rows(spark, 10, 20, "b").withColumn("extra", F.lit(5))
    cat.append_missing("t", widened, ["k"], stats_cols=["k"])
    assert cat.delete_where("t", [("extra", "==", 5)]) == 10
    assert cat.read("t").count() == 10  # NULL-extra originals survive

    assert cat.delete_where("t", [("k", ">=", 0)]) == 10
    assert cat.read("t").count() == 0
    assert cat.exists("t")
    assert cat.append_missing("t", _rows(spark, 0, 5, "c"), ["k"]) == 5
    assert cat.read("t").count() == 5


def test_compact_retries_from_fresh_snapshot_on_conflict(
    spark, tmp_path, monkeypatch
):
    """A compact losing the CAS must RECOMPACT from the winner's snapshot
    — re-CASing its stale rewrite would silently erase the interleaved
    commit."""
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 100, "a"), ["k"], stats_cols=["k"])
    real = cat._try_commit
    state = {"injected": False}

    def racy(name, base, dirs, op, stats=None, schema=None):
        if op == "compact" and not state["injected"]:
            state["injected"] = True
            other = TxnParquetCatalog(spark, cat.warehouse)
            other.append_missing(
                "t", _rows(spark, 100, 110, "b"), ["k"], stats_cols=["k"]
            )
        return real(name, base, dirs, op, stats, schema)

    monkeypatch.setattr(cat, "_try_commit", racy)
    cat.compact("t", num_files=2, cluster_by=["k"])
    assert cat.read("t").count() == 110  # concurrent rows survived
    assert sorted(r["k"] for r in cat.read("t").collect()) == list(range(110))


def test_vacuum_age_gate_protects_inflight_write_sets(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])
    orphan = os.path.join(cat.path("t"), "data", "ws-inflight")
    _rows(spark, 50, 60, "x").write.parquet(orphan)
    # default window: the fresh unreferenced dir is NOT removed
    assert cat.vacuum("t") == 0 and os.path.isdir(orphan)
    # aged out: removed
    assert cat.vacuum("t", min_age_s=0) == 1 and not os.path.isdir(orphan)


def test_vacuum_survives_previously_dropped_manifests(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    for i in range(4):
        cat.overwrite("t", _rows(spark, 0, 10 + i, "x"))
    cat.vacuum("t", keep_versions=1, min_age_s=0)
    # widening the window over already-deleted manifests must not crash
    cat.vacuum("t", keep_versions=3, min_age_s=0)
    assert cat.read("t").count() == 13


def test_timestamp_time_travel(spark, tmp_path):
    import time as _time

    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])
    t_after_v0 = _time.time()
    _time.sleep(0.05)
    cat.append_missing("t", _rows(spark, 10, 20, "b"), ["k"])
    assert cat.read("t", as_of_ts=t_after_v0).count() == 10
    assert cat.read("t", as_of_ts=_time.time()).count() == 20
    assert cat.version_at("t", t_after_v0) == 0
    with pytest.raises(FileNotFoundError, match="at or before"):
        cat.version_at("t", 0.0)
    with pytest.raises(ValueError, match="not both"):
        cat.read("t", version=0, as_of_ts=t_after_v0)


def _changes(cat, name, v1, v2=None):
    out = {}
    for r in cat.table_changes(name, v1, v2, keys=["k"]).collect():
        out.setdefault(r["_change_type"], set()).add((r["k"], r["v"]))
    return out


def test_table_changes_append_is_pure_insert(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])  # v0
    cat.append_missing("t", _rows(spark, 5, 15, "a"), ["k"])  # v1: adds 10-14
    ch = _changes(cat, "t", 0, 1)
    assert set(ch) == {"insert"}
    assert ch["insert"] == {(k, "a") for k in range(10, 15)}


def test_table_changes_upsert_reports_pre_and_post_images(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])  # v0
    cat.upsert("t", _rows(spark, 8, 12, "b"), ["k"])  # v1: 8,9 updated; 10,11 new
    ch = _changes(cat, "t", 0, 1)
    assert ch["insert"] == {(10, "b"), (11, "b")}
    assert ch["update_preimage"] == {(8, "a"), (9, "a")}
    assert ch["update_postimage"] == {(8, "b"), (9, "b")}
    assert "delete" not in ch
    # unchanged rows (0-7, rewritten by the upsert with equal values)
    # must not appear under any change type
    flat = {k for s in ch.values() for (k, _) in s}
    assert flat == {8, 9, 10, 11}


def test_table_changes_delete_where_reports_deletes_only(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])  # v0
    cat.append_missing("t", _rows(spark, 10, 20, "b"), ["k"])  # v1
    n = cat.delete_where("t", [("k", "<", 3)])  # v2
    assert n == 3
    ch = _changes(cat, "t", 1, 2)
    assert set(ch) == {"delete"}
    assert ch["delete"] == {(0, "a"), (1, "a"), (2, "a")}


def test_table_changes_same_version_is_empty_and_spans_compose(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 5, "a"), ["k"])  # v0
    cat.upsert("t", _rows(spark, 0, 2, "b"), ["k"])  # v1
    cat.delete_where("t", [("k", ">=", 4)])  # v2
    assert cat.table_changes("t", 1, 1, keys=["k"]).count() == 0
    # net v0 -> v2 equals replaying the feed onto the v0 snapshot
    ch = _changes(cat, "t", 0, 2)
    state = {(r["k"], r["v"]) for r in cat.read("t", 0).collect()}
    for k, v in ch.get("delete", set()) | ch.get("update_preimage", set()):
        state.discard((k, v))
    state |= ch.get("insert", set()) | ch.get("update_postimage", set())
    want = {(r["k"], r["v"]) for r in cat.read("t", 2).collect()}
    assert state == want


def test_table_changes_skips_shared_write_sets(spark, tmp_path, monkeypatch):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 1000, "a"), ["k"])  # v0 (big set)
    cat.append_missing("t", _rows(spark, 1000, 1002, "b"), ["k"])  # v1
    m0 = cat._load_manifest("t", 0)
    m1 = cat._load_manifest("t", 1)
    shared = set(m0["dirs"]) & set(m1["dirs"])
    assert shared  # the v0 write set is retained by v1
    seen = []
    orig = cat.spark.read.__class__.parquet

    def spy(reader, *paths):
        seen.extend(paths)
        return orig(reader, *paths)

    monkeypatch.setattr(cat.spark.read.__class__, "parquet", spy)
    ch = _changes(cat, "t", 0, 1)
    assert ch["insert"] == {(1000, "b"), (1001, "b")}
    for d in shared:
        assert not any(d in p for p in seen), f"shared write set {d} scanned"


def test_table_changes_requires_keys(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 3, "a"), ["k"])
    with pytest.raises(ValueError):
        cat.table_changes("t", 0)


def test_restore_rolls_back_as_a_new_commit(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"])  # v0
    cat.upsert("t", _rows(spark, 0, 20, "b"), ["k"])  # v1
    new_head = cat.restore("t", 0)
    assert new_head == 2 and cat.current_version("t") == 2
    # contents equal v0, history intact
    assert {(r["k"], r["v"]) for r in cat.read("t").collect()} == {
        (k, "a") for k in range(10)
    }
    assert cat.read("t", 1).count() == 20  # rolled-back version readable
    # the restore itself is a diffable commit: v1 -> v2 deletes the upsert
    ch = _changes(cat, "t", 1, 2)
    assert {k for (k, _) in ch.get("delete", set())} == set(range(10, 20))
    assert ch.get("update_postimage", set()) == {(k, "a") for k in range(10)}


def test_restore_survives_vacuum_of_newer_history(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 5, "a"), ["k"])  # v0
    cat.overwrite("t", _rows(spark, 0, 3, "b"))  # v1 drops v0's set
    cat.restore("t", 0)  # v2 re-references v0's write set
    removed = cat.vacuum("t", keep_versions=1, min_age_s=0.0)
    # v0/v1 manifests may go, but v2 still reads v0's data
    assert {r["v"] for r in cat.read("t").collect()} == {"a"}
    assert cat.read("t").count() == 5
    assert removed >= 0


# -- metadata from the write itself ----------------------------------------


def _inferred(spark, cat, name):
    """The schema Spark infers from the files the head manifest lists."""
    m = cat._load_manifest(name, cat.current_version(name))
    return spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(cat.path(name), "data", d) for d in m["dirs"]]
    ).schema


def test_manifest_schema_matches_inference_after_every_op(spark, tmp_path):
    cat = _cat(spark, tmp_path)

    def check(op):
        m = cat._load_manifest("t", cat.current_version("t"))
        assert m["schema"] is not None, op
        assert cat.read("t").schema == _inferred(spark, cat, "t"), op

    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"], stats_cols=["k"])
    check("create")
    widened = _rows(spark, 10, 20, "b").withColumn("extra", F.lit(7))
    cat.append_missing("t", widened, ["k"], stats_cols=["k"])
    check("append_missing with an added column")
    assert cat.read("t").columns == ["k", "v", "extra"]
    cat.upsert(
        "t", _rows(spark, 5, 25, "c").withColumn("extra", F.lit(8)), ["k"]
    )
    check("upsert")
    cat.delete_where("t", [("k", "<", 3)])
    check("delete_where")
    cat.compact("t", num_files=1)
    check("compact")
    cat.compact("t", num_files=2, cluster_by=["k"])
    check("clustered compact")
    cat.restore("t", 0)
    check("restore")
    assert cat.read("t").columns == ["k", "v"]
    # an all-pruned read keeps the table's schema
    assert cat.read("t", where=[("k", ">", 10_000)]).schema == _inferred(
        spark, cat, "t"
    )


def test_write_counts_match_rows_read_back(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    counts = [
        cat.append_missing("t", _rows(spark, 0, 30, "a"), ["k"], stats_cols=["k"]),
        cat.append_missing("t", _rows(spark, 20, 45, "b"), ["k"], stats_cols=["k"]),
        cat.append_missing("t", _rows(spark, 0, 45, "c"), ["k"], stats_cols=["k"]),
    ]
    sizes = [cat.read("t", version=v).count() for v in range(2)]
    assert counts == [sizes[0], sizes[1] - sizes[0], 0] == [30, 15, 0]
    v = cat.current_version("t")
    deleted = cat.delete_where("t", [("k", ">=", 10), ("k", "<", 22)])
    assert deleted == cat.read("t", version=v).count() - cat.read("t").count() == 12
    # the rewritten set's statistics still come from its own rows
    m = cat._load_manifest("t", cat.current_version("t"))
    assert sorted(m["stats"][d]["k"] for d in m["dirs"]) == [[0, 29], [30, 44]]


def test_first_append_missing_returns_rows_on_both_catalogs(spark, tmp_path):
    from icenetetl_spark.catalog import ParquetCatalog

    for cat in (
        _cat(spark, tmp_path),
        ParquetCatalog(spark, str(tmp_path / "plainwh")),
    ):
        n = cat.append_missing("t", _rows(spark, 0, 17, "a"), ["k"])
        assert n == cat.read("t").count() == 17, type(cat).__name__


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    """Manifests written before the schema key existed still read the same
    rows and columns, added columns included, through inference."""
    cat = _cat(spark, tmp_path)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"], stats_cols=["k"])
    widened = _rows(spark, 10, 20, "b").withColumn("extra", F.lit(7))
    cat.append_missing("t", widened, ["k"], stats_cols=["k"])

    def snapshot():
        df = cat.read("t")
        rows = sorted(tuple(r) for r in df.select("k", "v", "extra").collect())
        changes = sorted(
            tuple(r) for r in cat.table_changes("t", 0, 1, keys=["k"]).collect()
        )
        empty = cat.read("t", where=[("k", ">", 10_000)])
        return df.columns, rows, changes, empty.columns, empty.count()

    with_schema = snapshot()
    mdir = os.path.join(cat.path("t"), "_manifests")
    for f in os.listdir(mdir):
        path = os.path.join(mdir, f)
        with open(path) as src:
            m = json.load(src)
        del m["schema"]
        with open(path, "w") as out:
            json.dump(m, out)
    assert snapshot() == with_schema
    # a commit over a schema-less manifest records the schema again
    cat.append_missing("t", _rows(spark, 20, 25, "c"), ["k"])
    m = cat._load_manifest("t", cat.current_version("t"))
    assert m["schema"] is not None
    assert cat.read("t").schema == _inferred(spark, cat, "t")


# -- one commit loop, one pruned scan ----------------------------------------


def test_absent_table_gives_the_same_error_for_every_op(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    ops = {
        "read": lambda: cat.read("t"),
        "compact": lambda: cat.compact("t"),
        "restore": lambda: cat.restore("t", 0),
        "delete_where": lambda: cat.delete_where("t", [("k", "<", 3)]),
    }
    for op, call in ops.items():
        with pytest.raises(FileNotFoundError) as err:
            call()
        assert str(err.value) == "table 't' has no committed version", op


def test_read_pruned_overlapping_branches_read_each_row_once(spark, tmp_path):
    from icenetetl_spark.catalog import ParquetCatalog

    txn = _cat(spark, tmp_path)
    txn.append_missing("t", _rows(spark, 0, 10, "a"), ["k"], stats_cols=["k"])
    plain = ParquetCatalog(spark, str(tmp_path / "plainwh"))
    plain.overwrite("t", _rows(spark, 0, 10, "a"))
    branches = [[("k", "<", 6)], [("k", ">=", 4)]]
    for cat in (txn, plain):
        got = sorted(r["k"] for r in cat.read_pruned("t", branches).collect())
        assert got == list(range(10)), type(cat).__name__


def _unreferenced(cat, name):
    """Write sets no manifest lists, plus anything left under _staging."""
    mdir = os.path.join(cat.path(name), "_manifests")
    listed = set()
    for f in os.listdir(mdir):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as m:
                listed |= set(json.load(m)["dirs"])
    data = os.listdir(os.path.join(cat.path(name), "data"))
    staging = os.path.join(cat.path(name), "_staging")
    left = os.listdir(staging) if os.path.isdir(staging) else []
    return sorted(d for d in data if d.startswith("ws-") and d not in listed) + left


_WRITE_OPS = {
    "overwrite": lambda cat, spark: cat.overwrite("t", _rows(spark, 40, 45, "o")),
    "append_missing": lambda cat, spark: cat.append_missing(
        "t", _rows(spark, 15, 30, "n"), ["k"]
    ),
    "upsert": lambda cat, spark: cat.upsert("t", _rows(spark, 15, 30, "u"), ["k"]),
    "delete_where": lambda cat, spark: cat.delete_where("t", [("k", "<", 3)]),
    "restore": lambda cat, spark: cat.restore("t", 0),
    "compact": lambda cat, spark: cat.compact("t", num_files=1),
    "compact_cluster_by": lambda cat, spark: cat.compact(
        "t", num_files=2, cluster_by=["k"]
    ),
}


@pytest.mark.parametrize("op", sorted(_WRITE_OPS))
def test_every_write_op_gives_up_after_retry_budget_cleanly(
    spark, tmp_path, monkeypatch, op
):
    """Each op that keeps losing the CAS raises CommitConflict, leaves the
    table reading its earlier rows and leaves no write set or staging
    directory that no manifest references."""
    cat = TxnParquetCatalog(spark, str(tmp_path / "wh"), max_retries=2)
    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"], stats_cols=["k"])
    cat.append_missing("t", _rows(spark, 10, 20, "b"), ["k"], stats_cols=["k"])
    before = sorted(tuple(r) for r in cat.read("t").collect())
    real = cat._try_commit

    def always_lose(name, base, dirs, op, stats=None, schema=None):
        base_dirs = cat._load_manifest(name, base)["dirs"] if base >= 0 else []
        real(name, base, base_dirs, op + "-sniped", schema=schema)
        raise CommitConflict("sniped")

    monkeypatch.setattr(cat, "_try_commit", always_lose)
    with pytest.raises(CommitConflict):
        _WRITE_OPS[op](cat, spark)
    assert sorted(tuple(r) for r in cat.read("t").collect()) == before
    assert _unreferenced(cat, "t") == []


def test_manifest_op_of_every_write(spark, tmp_path):
    cat = _cat(spark, tmp_path)

    def op():
        return cat._load_manifest("t", cat.current_version("t"))["op"]

    cat.append_missing("t", _rows(spark, 0, 10, "a"), ["k"], stats_cols=["k"])
    assert op() == "create"
    cat.append_missing("t", _rows(spark, 5, 15, "b"), ["k"], stats_cols=["k"])
    assert op() == "append_missing"
    cat.upsert("t", _rows(spark, 10, 20, "c"), ["k"], stats_cols=["k"])
    assert op() == "upsert"
    cat.overwrite("t", _rows(spark, 0, 30, "d"), stats_cols=["k"])
    assert op() == "overwrite"
    cat.delete_where("t", [("k", "<", 5)])
    assert op() == "delete"
    cat.compact("t", num_files=1)
    assert op() == "compact"
    cat.restore("t", 1)
    assert op() == "restore:v1"
    cat.upsert("u", _rows(spark, 0, 5, "a"), ["k"])
    assert cat._load_manifest("u", 0)["op"] == "create"
    cat.overwrite("o", _rows(spark, 0, 5, "a"))
    assert cat._load_manifest("o", 0)["op"] == "overwrite"


_TASK_RETRY_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import TaskContext
from pyspark.sql import functions as F
from icenetetl_spark.catalog import ParquetCatalog
from icenetetl_spark.session import get_spark
from icenetetl_spark.txn import TxnParquetCatalog

spark = get_spark("task-retry", master="local[4,2]", shuffle_partitions=4)


@F.udf("long")
def flaky(k):
    # the first attempt of every task fails on its partition's last row,
    # so the rows before it are already processed when the attempt dies
    if TaskContext.get().attemptNumber() == 0 and k % 1000 == 999:
        raise RuntimeError("first task attempt fails")
    return k


def rows(lo, hi, tag, udf=False):
    ids = spark.range(lo, hi, numPartitions=4)
    k = flaky("id") if udf else F.col("id")
    return ids.select(k.alias("k"), F.lit(tag).alias("v"))


out = {}
for cat in (
    TxnParquetCatalog(spark, sys.argv[2] + "/txn"),
    ParquetCatalog(spark, sys.argv[2] + "/plain"),
):
    kind = type(cat).__name__
    stats = {"stats_cols": ["k"]} if kind == "TxnParquetCatalog" else {}
    cat.append_missing("t", rows(0, 100, "a"), ["k"], **stats)
    v0 = cat.current_version("t") if kind == "TxnParquetCatalog" else None
    n = cat.append_missing("t", rows(0, 4000, "b", udf=True), ["k"], **stats)
    back = cat.read("t").agg(
        F.count("*").alias("rows"), F.countDistinct("k").alias("keys")
    ).first()
    res = {"n": n, "rows": back["rows"], "keys": back["keys"]}
    if kind == "TxnParquetCatalog":
        m = cat._load_manifest("t", cat.current_version("t"))
        res["commits"] = cat.current_version("t") - v0
        res["stats"] = m["stats"][m["dirs"][-1]]["k"]
    out[kind] = res
spark.stop()
print(json.dumps(out))
"""


def test_append_missing_is_exactly_once_under_task_retries(tmp_path):
    """A write task that fails once and succeeds on retry must not leave
    its failed attempt's rows in the table, the returned count or the
    manifest statistics. The shared test session never retries a task, so
    this runs in a session of its own at local[4,2]."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _TASK_RETRY_SCRIPT, repo, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    txn = out["TxnParquetCatalog"]
    assert txn == {
        "n": 3900, "rows": 4000, "keys": 4000, "commits": 1, "stats": [100, 3999]
    }
    assert out["ParquetCatalog"] == {"n": 3900, "rows": 4000, "keys": 4000}
