"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the configs below are the
ones that also matter on a real multi-executor cluster at ~100 TB:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
explicit shuffle parallelism, UTC session time zone (oracle parity with
DuckDB), and Arrow for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import cds

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_MEM_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _heap_mb(driver_mem: str) -> float | None:
    """A driver heap size in MiB, or None when unparseable. Accepts
    every suffix form Spark's JavaUtils does (k/m/g/t and kb/mb/gb/tb,
    any case) plus a bare byte count."""
    s = driver_mem.strip().lower()
    if s.endswith("b") and len(s) > 1 and s[-2] in _MEM_UNIT_MB:
        s = s[:-1]  # gb -> g, mb -> m, kb -> k, tb -> t
    try:
        unit = _MEM_UNIT_MB.get(s[-1]) if s else None
        return float(s[:-1]) * unit if unit else float(s) / (1024 * 1024)
    except (ValueError, IndexError):
        return None


def _max_result_size_mb(driver_mem: str) -> int:
    """spark.driver.maxResultSize budget in MiB for a given driver
    heap: heap/6 capped at 8 GiB and floored at Spark's stock 1 GiB, so
    a small driver keeps the fail-fast collect guard instead of a
    ceiling its heap cannot honour. An unparseable size gets the
    stock 1 GiB rather than failing the session."""
    heap_mb = _heap_mb(driver_mem)
    if heap_mb is None:
        heap_mb = 6 * 1024.0
    return int(min(8 * 1024, max(1024, heap_mb // 6)))


def get_spark(
    app_name: str = "lms_erp_data_integration_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size it to ~2-3x total executor cores, or simply
    let AQE coalesce from a high initial number; both paths are AQE'd.
    """
    # transformWithStateInPandas workers speak protobuf to the JVM
    # state server; when the real distribution is absent the vendored
    # shim must be on PYTHONPATH BEFORE the JVM launches (workers
    # inherit the JVM's environment) — so resolve it here, at the one
    # place every session is built.
    from .vendor import ensure_protobuf

    ensure_protobuf()
    master = master or f"local[{DEFAULT_CPUS}]"
    cpus = DEFAULT_CPUS if "local" in master else "200"
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", "48g")
    extra_conf = extra_conf or {}
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # At 100 TB: keep scan partitions bounded so a single task's
        # input fits comfortably in executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dimension tables (region/nation/mirrors)
        # are small; 64 MiB keeps them on the broadcast path.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark can't read
        # nanos natively — read as long, Catalog converts to a microsecond
        # timestamp (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Mirror refreshes overwrite only the partitions present in
        # the incoming snapshot (per-term), never the whole table.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Whole-stage-codegen class cache (static conf, default 100
        # entries). A session serving the 223 registered queries evicts
        # every generated class between repeat runs at the default, so
        # each re-run pays full janino re-compilation (5.4 s vs 2.4 s
        # warm on the ngram-Jaccard plan). Sized to hold the whole
        # suite's generated classes; the memory cost is negligible.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Runtime semi-join reduction: when a selective dimension
        # filter feeds a shuffle join, inject a bloom filter on the
        # fact side so filtered-out rows never shuffle. Invisible at
        # test scale (creation-side threshold), decisive at 100 TB.
        # (Only the bloomFilter conf: the 3.x semiJoinReduction key is
        # gone in Spark 4 and setting it breaks RuntimeConfig.get.)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # AQE converts a shuffle join to broadcast from the COMPRESSED
        # shuffle size; a highly compressible build side (repetitive
        # shingle strings: < 64 MiB compressed, > 1 GiB row-serialized)
        # then blows the 1g default during the driver-side broadcast
        # collect — measured on the 100x probe drop's hot-shingle
        # anti-join. Sized to the driver heap, so the fail-fast collect
        # guard is never replaced by a driver OOM.
        .config("spark.driver.maxResultSize", f"{_max_result_size_mb(driver_mem)}m")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    # Launch options matter only when a new driver JVM starts; a
    # running gateway is reused as it is.
    launch = None
    if SparkContext._gateway is None:
        heap_mb = _heap_mb(extra_conf.get("spark.driver.memory", driver_mem))
        launch = cds.plan(heap_mb, extra_conf)
    spark = launch.start(builder) if launch else builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
