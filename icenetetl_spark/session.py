"""SparkSession factory tuned for this engine.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast decisions replace hand-tuned batch sizes (the reference
  hand-batches 100k-row inserts, azfunctions/InputBlobTrigger/__init__.py:20 —
  obsolete under Spark's partitioned writers).
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- Session timezone pinned to UTC so timestamp arithmetic is deterministic and
  matches the DuckDB oracle (naive timestamps treated as UTC).
- ``spark.sql.shuffle.partitions`` defaults to 2x local cores here; on a real
  cluster AQE coalescing makes the static number mostly moot — set it to
  ~2-3x total executor cores.

Sized for a long-lived engine (the reference answers every blob from one
long-lived Postgres that does not re-plan its statements each time):
- ``spark.sql.codegen.cache.maxEntries`` is 10000, so a warm pass of the
  same queries reuses the classes of the last one. In local mode the
  cache is JVM-wide: it serves driver-side planning and each task's
  whole-stage class. Spark's default of 100 held less than one pass — one ``bench.py`` run compiles
  630 distinct classes, a ``tools/check_oracle.py`` sweep 2466 — so every
  warm pass recompiled what the last one evicted: about 600 compiles per
  warm bench pass, 100 per warm ingest op. 10000 holds the larger session
  four times over; a warm bench pass now compiles about 12.
- ``spark.driver.memory`` is 60% of the host's ``MemTotal``, capped at
  16g: a fixed 16g heap was larger than a 15.7 GB host with no swap. On
  that host it gives 9655m and leaves about 6 GB to Arrow Python workers,
  off-heap buffers and the page cache. A ``perfbench`` session's peak RSS
  (driver JVM plus Python) stays under 4.2 GB with these settings: median
  3.1 GB analytics and 2.2 GB ingest, against 4.1 and 2.6 GB with the old
  cache and heap. ``SPARK_DRIVER_MEMORY`` overrides it.

Construction-time reuse lives in one memo per session (:func:`memoized`):
plan handles (``sources.testdata.load_table``), partition probes
(``operators.scale.spread``) and trained fits
(``operators.kmeans.memoized_fit``). It is stored on the ``SparkSession``
object itself, which every frame reaches through ``df.sparkSession``, so
two sessions never share or evict each other's entries. The memo holds
lazy plans and small driver-side fit results, never data.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# Entries per session memo. A pass over the whole query registry keeps 23
# (10 table handles, 10 spread probes, 3 fits) per scale factor; the least
# recently used entry goes first, so what every pass reuses stays.
MEMO_ENTRIES = 256

_MISS = object()


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return max(1, int(cpus))
    return os.cpu_count() or 4


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY`` if set, else 60% of
    the host's ``MemTotal`` capped at 16g; 16g when ``meminfo`` is
    unreadable."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open(meminfo) as f:
            total = next(ln for ln in f if ln.startswith("MemTotal:"))
        mb = int(total.split()[1]) * 6 // 10 // 1024
    except (OSError, StopIteration, IndexError, ValueError):
        return "16g"
    return f"{min(mb, 16 * 1024)}m"


def get_spark(
    app_name: str = "icenetetl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the session with engine defaults applied."""
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # 4x the 2466 classes of the largest session, an oracle sweep
        .config("spark.sql.codegen.cache.maxEntries", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def memoized(spark: SparkSession, key: tuple, build: Callable[[], T]) -> T:
    """The value ``spark``'s memo holds for ``key``; on a miss, ``build()``
    it and keep it, evicting the least recently used entry once the memo
    holds ``MEMO_ENTRIES``. ``key`` starts with the kind of entry."""
    memo = vars(spark).setdefault("_icenetetl_memo", {})
    value = memo.pop(key, _MISS)
    if value is _MISS:
        value = build()
        if len(memo) >= MEMO_ENTRIES:
            memo.pop(next(iter(memo)))
    memo[key] = value  # (re-)inserted last: most recently used
    return value
