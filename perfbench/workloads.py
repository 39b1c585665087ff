"""The benchmark's workloads. Each is a closed loop driven by one client:
the next op is issued only after the previous one has returned.

A workload generates its inputs (``make_inputs``, before Spark starts),
finishes its set-up once a session exists (``setup``), runs a cold pass,
an unmeasured warm-up pass and then a fixed number of measured warm
passes (``run``), and checks the program's outputs (``check``). Ops are
timed here, around calls to the package's public functions. Each op is
tagged with its phase, ``cold``, ``warmup`` or ``warm``.
"""

from __future__ import annotations

import math
import os
import random
import time
from dataclasses import dataclass, field

from icenetetl_spark.sources.fixtures import make_netcdf_bytes, write_raw_fixture
from perfbench import datagen
from perfbench.checks import check_queries, check_warehouse, expected_pdf
from perfbench.trace import SparkCounters, Tracer

GRID_SIDE = 32
LEADTIMES = 10
CELLS_PER_DROP = GRID_SIDE * GRID_SIDE * LEADTIMES
SF = 0.1

ANALYTICS = [
    "q1_pricing_summary",
    "q3_top_revenue",
    "q4_semi_join",
    "q5_local_supplier",
    "q6_revenue_delta",
    "q13_cust_distribution",
    "q16_distinct_suppliers",
    "q18_large_orders",
    "j2_inner_enrich",
    "w1_row_number",
    "ev_window_rollup",
    "ev_sessionize",
]


@dataclass
class Op:
    """One unit op: its wall time and, in the traced run, its counters."""

    oid: int
    key: str  # what the op does: the query's name, or the ingest path
    wall: float
    phase: str
    counters: dict = field(default_factory=dict)


def _merge(a: dict, b: dict, cores: int) -> dict:
    out = {k: a.get(k, 0.0) + b.get(k, 0.0) for k in SparkCounters.COUNTERS}
    active = out["stage_active_s"]
    out["slot_idle_ratio"] = 1.0 - out["executor_run_s"] / (active * cores) if active else 0.0
    return out


def _written(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Files of ``after`` that are new or changed since ``before``."""
    return {p: s for p, s in after.items() if before.get(p) != s}


def dir_files(path: str) -> dict[str, int]:
    sizes = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            sizes[p] = os.path.getsize(p)
    return sizes


class Workload:
    layer = ""  # the layer an op's Spark counters are recorded under
    nominal_pass_s = 1.0  # warm pass time on a 4-core host

    def __init__(self, seed: int, seconds: float, workdir: str, tracer: Tracer):
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        # a fixed number of warm passes, the fewest whose nominal time covers
        # ``seconds``, so both sides of a comparison do the same work. The
        # JIT is still warming after the cold pass: over ten runs the first
        # warm pass's txn op and query pass spread by 0.29-0.32, the second
        # pass's ops by 0.06-0.17, so one more pass runs unmeasured first.
        self.phases = ["cold", "warmup"] + ["warm"] * max(
            1, math.ceil(seconds / self.nominal_pass_s)
        )
        self.ops: list[Op] = []
        self.all_queries_s = 0.0
        self.counters: SparkCounters | None = None

    def make_inputs(self) -> None:
        pass

    def setup(self, spark) -> None:
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        if self.tracer.enabled:
            self.counters = SparkCounters(spark)

    def run(self) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def stored_bytes_per_input_byte(self) -> float:
        raise NotImplementedError

    def _op(self, phase: str, key: str, fn) -> Op:
        """Time ``fn(op)`` as op number ``len(self.ops)``."""
        op = Op(len(self.ops), key, 0.0, phase)
        self.tracer.op = op.oid
        if self.counters:
            self.counters.start()
        t0 = time.perf_counter()
        with self.tracer.span("op"):
            fn(op)
        op.wall = time.perf_counter() - t0
        if self.counters:
            merged = _merge(op.counters, self.counters.stop(), self.cores)
            op.counters = {**op.counters, **merged}
        self.tracer.op = None
        self.ops.append(op)
        return op


class Ingest(Workload):
    """The two ingest paths of the CLI, one drop per pass. Each pass lands
    the drop through ``ingest --txn`` (one NetCDF-3 file decoded and run
    through the five-stage pipeline into a ``TxnParquetCatalog``
    warehouse) and through the stream (the same drop as a parquet file,
    picked up by one ``availableNow`` micro-batch of
    ``start_ingest_stream`` into a ``ParquetCatalog`` warehouse). Each is
    an op that ends with a read of that hemisphere's ``forecast_latest``.
    The first pass is cold; the warm-up pass re-uploads the first drop."""

    layer = "plans"
    nominal_pass_s = 13.5

    def make_inputs(self) -> None:
        self.plan = datagen.drop_plan(len(self.phases), self.seed)
        self.warehouse = os.path.join(self.workdir, "warehouse")
        self.stream_warehouse = os.path.join(self.workdir, "stream-warehouse")
        self.stream_in = os.path.join(self.workdir, "stream-in")
        self.checkpoint = os.path.join(self.workdir, "checkpoint")
        os.makedirs(self.stream_in)
        self.inserted: dict[str, list[dict]] = {"txn": [], "stream": []}
        self.inserted_now: dict[str, int] = {}
        self.input_bytes = 0
        # one landing directory per drop, as the CLI is given one file; the
        # parquet twin waits in the outbox until its op lands it
        for drop in self.plan:
            data = make_netcdf_bytes(
                drop["generated"],
                hemisphere=drop["hemisphere"],
                grid_side=GRID_SIDE,
                leadtimes=LEADTIMES,
                seed=drop["seed"],
            )
            d = os.path.join(self.workdir, "landing", drop["name"])
            os.makedirs(d)
            drop["path"] = os.path.join(d, f"{drop['name']}.nc")
            with open(drop["path"], "wb") as f:
                f.write(data)
            drop["parquet"] = write_raw_fixture(
                os.path.join(self.workdir, "outbox", f"{drop['name']}.parquet"),
                drop["generated"],
                grid_side=GRID_SIDE,
                leadtimes=LEADTIMES,
                seed=drop["seed"],
            )
            self.input_bytes += len(data) + os.path.getsize(drop["parquet"])

    def catalogs(self) -> dict:
        from icenetetl_spark.catalog import ParquetCatalog
        from icenetetl_spark.plans.icenet import make_txn_catalog

        return {
            "txn": make_txn_catalog(self.spark, self.warehouse),
            "stream": ParquetCatalog(self.spark, self.stream_warehouse),
        }

    def setup(self, spark) -> None:
        super().setup(spark)
        from icenetetl_spark.catalog import ParquetCatalog
        from icenetetl_spark.plans.icenet import IceNetPipeline
        from icenetetl_spark.txn import TxnParquetCatalog

        for m in ("update_geometries", "update_forecasts", "update_latest", "update_meta"):
            self.tracer.wrap(IceNetPipeline, m, f"plans.{m}")
        for m in ("append_missing", "upsert", "overwrite", "read", "read_pruned"):
            self.tracer.wrap(TxnParquetCatalog, m, f"txn.{m}")
        for m in ("append_missing", "upsert", "overwrite"):
            self.tracer.wrap(ParquetCatalog, m, f"catalog.{m}")
        # the rows each append_missing inserted, in every run: the re-upload
        # check needs them, and recording them costs no Spark work
        inserted = self.inserted_now
        for cls in (TxnParquetCatalog, ParquetCatalog):

            def recorded(catalog, name, *a, _orig=cls.append_missing, **kw):
                n = _orig(catalog, name, *a, **kw)
                inserted[name] = inserted.get(name, 0) + n
                return n

            cls.append_missing = recorded

    def _versions(self) -> dict[str, int]:
        cat = self.catalogs()["txn"]
        return {
            t: cat.current_version(t)
            for t in ("cells", "forecasts", "forecast_latest", "forecast_meta")
            if cat.exists(t)
        }

    def _txn_op(self, phase: str, drop: dict) -> None:
        from icenetetl_spark.plans.icenet import IceNetPipeline, make_txn_catalog
        from icenetetl_spark.sources.netcdf import (
            file_attrs,
            melt_netcdf_files,
            read_binary_files,
        )

        spark, tr, path = self.spark, self.tracer, drop["path"]
        if tr.enabled:
            # decoding alone, outside the op: what share of the stages
            # below is NetCDF parsing
            tr.op = len(self.ops)
            with tr.span("sources.melt"):
                melt_netcdf_files(read_binary_files(spark, path, glob="*")).write.format(
                    "noop"
                ).mode("overwrite").save()
            self.counters.stop()
            before, versions = dir_files(self.warehouse), self._versions()

        def ingest(op):
            raw = melt_netcdf_files(read_binary_files(spark, path, glob="*"))
            with open(path, "rb") as f:
                attrs = file_attrs(f.read(8 << 20))
            pipeline = IceNetPipeline(make_txn_catalog(spark, self.warehouse))
            pipeline.run(raw, attrs)
            with tr.span("op.read_latest"):
                pipeline.catalog.read("forecast_latest").filter(
                    f"hemisphere = '{drop['hemisphere']}'"
                ).count()

        op = self._op(phase, "txn", ingest)
        if tr.enabled:
            new = _written(before, dir_files(self.warehouse))
            got = self.inserted_now
            offered = len(expected_pdf(drop, GRID_SIDE, LEADTIMES)) + GRID_SIDE * GRID_SIDE
            op.counters.update(
                {
                    "txn.bytes_written": float(sum(new.values())),
                    "txn.files_written": float(len(new)),
                    "txn.commits": float(
                        sum(v - versions.get(t, -1) for t, v in self._versions().items())
                    ),
                    "txn.insert_ratio": (got.get("forecasts", 0) + got.get("cells", 0))
                    / offered,
                }
            )

    def _stream_op(self, phase: str, drop: dict) -> None:
        from icenetetl_spark.catalog import ParquetCatalog
        from icenetetl_spark.sources.netcdf import file_attrs
        from icenetetl_spark.streaming.ingest_stream import start_ingest_stream

        spark, tr = self.spark, self.tracer
        with open(drop["path"], "rb") as f:
            attrs = file_attrs(f.read(8 << 20))
        # the upload: the file appears in the watched directory under its name
        os.rename(drop["parquet"], os.path.join(self.stream_in, os.path.basename(drop["parquet"])))
        before = dir_files(self.stream_warehouse) if tr.enabled else {}
        queries = []

        def micro_batch(op):
            q = start_ingest_stream(
                spark,
                self.stream_in,
                self.stream_warehouse,
                self.checkpoint,
                attrs,
                available_now=True,
                max_files_per_trigger=1,
            )
            queries.append(q)
            q.awaitTermination()
            with tr.span("op.read_latest"):
                ParquetCatalog(spark, self.stream_warehouse).read("forecast_latest").filter(
                    f"hemisphere = '{drop['hemisphere']}'"
                ).count()

        op = self._op(phase, "stream", micro_batch)
        if tr.enabled:
            new = _written(before, dir_files(self.stream_warehouse))
            batches = [p for p in queries[0].recentProgress if p.numInputRows > 0]
            add = sum(p.durationMs.get("addBatch", 0) for p in batches) / 1e3
            trigger = sum(p.durationMs.get("triggerExecution", 0) for p in batches) / 1e3
            op.counters.update(
                {
                    "catalog.bytes_written": float(sum(new.values())),
                    "catalog.files_written": float(len(new)),
                    "streaming.batch_s": add,
                    "streaming.trigger_overhead_s": trigger - add,
                }
            )

    def run(self) -> None:
        for k, drop in enumerate(self.plan):
            phase = self.phases[k]
            for path, op in (("txn", self._txn_op), ("stream", self._stream_op)):
                self.inserted_now.clear()
                op(phase, drop)
                self.inserted[path].append(dict(self.inserted_now))

    def check(self) -> list[str]:
        errors = []
        for path, catalog in self.catalogs().items():
            errors += [
                f"{path}: {e}"
                for e in check_warehouse(
                    catalog, self.plan, self.inserted[path], GRID_SIDE, LEADTIMES
                )
            ]
        return errors

    def stored_bytes_per_input_byte(self) -> float:
        stored = dir_files(self.warehouse) | dir_files(self.stream_warehouse)
        return sum(stored.values()) / self.input_bytes


class Analytics(Workload):
    """Closed loop over the ``ANALYTICS`` registry queries on seeded sf0.1
    tables. Each pass runs every query once, in a seeded order; an op
    constructs the query and executes it. The first pass is cold and writes
    each result as parquet, which the check compares with the DuckDB oracle
    after the run; the warm passes execute into Spark's ``noop`` sink."""

    layer = "queries"
    nominal_pass_s = 7.5
    names = ANALYTICS

    def make_inputs(self) -> None:
        self.sf_dir = os.path.join(self.workdir, f"sf{SF}")
        self.out_dir = os.path.join(self.workdir, "results")
        self.table_bytes = datagen.write_tables(self.sf_dir, SF, self.seed)

    def setup(self, spark) -> None:
        super().setup(spark)
        t0 = time.perf_counter()
        from icenetetl_spark.queries import all_oracles, all_queries

        self.queries = all_queries()
        self.oracles = all_oracles()
        self.all_queries_s = time.perf_counter() - t0

    def run(self) -> None:
        rng = random.Random(self.seed)
        tr, spark = self.tracer, self.spark
        for phase in self.phases:
            order = list(self.names)
            rng.shuffle(order)
            for name in order:

                def query(op, name=name, phase=phase):
                    with tr.span("queries.construct"):
                        df = self.queries[name](spark, self.sf_dir)
                    if self.counters:
                        c = self.counters.stop()
                        op.counters = {**c, "queries.construct_jobs": c["jobs"]}
                    with tr.span("queries.execute"):
                        if phase == "cold":
                            df.write.parquet(os.path.join(self.out_dir, name))
                        else:
                            df.write.format("noop").mode("overwrite").save()

                self._op(phase, name, query)

    def check(self) -> list[str]:
        return check_queries(self.sf_dir, self.out_dir, self.names, self.oracles)

    def stored_bytes_per_input_byte(self) -> float:
        return sum(dir_files(self.out_dir).values()) / self.table_bytes
