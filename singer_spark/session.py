"""SparkSession factory with scale-oriented defaults.

Tested on local[N]; the conf is chosen so the same code runs unchanged on a
1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition
  counts self-tune at any scale factor.
- Arrow enabled for the few pandas-UDF paths (thrift codec, multimodal
  stubs) — batch transfer, never row-at-a-time.
- Broadcast threshold left at default 10 MB; dimension tables (region,
  nation, supplier at any SF; customer/part at test SFs) broadcast
  automatically, and query code additionally hints `broadcast()` where the
  dimension is guaranteed small.
- Python workers run under `singer_spark.worker_daemon` on Python < 3.13.
  Each Python task starts with `importlib.invalidate_caches()`, which
  before 3.13 re-reads the central directory of every zip on the worker's
  `sys.path` (pyspark.zip, the spark-core jar, py4j: ~27k entries,
  0.16-0.23 s of CPU per task on a 4-vCPU host).  The daemon re-reads an
  archive only when its mtime or size changed.  3.13 made that call lazy,
  so there the stock `pyspark.daemon` runs.  Deployment condition:
  executors' Python must import `singer_spark`, which every UDF that
  references it already requires; `spark.executorEnv.PYTHONPATH` carries
  the directory this package was imported from, so a driver started
  outside the checkout still works on a single host.  A caller-provided
  session (e.g. the verification driver's own in `__spark_entry__.py`)
  does not go through `get_spark` and keeps the stock daemon.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

# the directory `singer_spark` is imported from: executors' Python must
# import it to start the worker daemon (and every UDF that references it)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def local_sizing(shuffle_partitions: int | None = None) -> tuple[str, int]:
    """(local master cores, shuffle partitions): `SPARK_GRAFT_CPUS` when
    set, else this host's `os.cpu_count()`; shuffle partitions default to
    twice the cores, at least 8."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    if shuffle_partitions is None:
        cores = int(cpus) if cpus.isdigit() else os.cpu_count() or 1
        shuffle_partitions = max(cores * 2, 8)
    return cpus, shuffle_partitions


def get_spark(app_name: str = "singer_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus, shuffle_partitions = local_sizing(shuffle_partitions)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Cached/persisted frames store with AQE-coalesced partitioning
        # instead of the static shuffle-partition count (r13, guide §2.2
        # "fewer, larger partitions"): the engine's iterated operators
        # (unigram trainer word frame, DoReMi scored corpus, gate
        # frames, posting lists) persist small-by-construction frames
        # and re-read them once per pass — without this every pass
        # launches shuffle.partitions near-empty tasks per consumer.
        # Scale-adaptive by definition: AQE sizes partitions by bytes
        # (advisoryPartitionSizeInBytes), so a 100 TB cached frame keeps
        # its parallelism; measured interleaved A/B at sf0.1: -26% on
        # the persist-heavy query set, no query slower.  Parameterised
        # (r14) so the flag can be A/B'd per-JVM and tuned per
        # deployment without a code change; default stays on.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "false" if os.environ.get("SPARK_GRAFT_CACHE_AQE", "1")
                in ("0", "false") else "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TESTDATA events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type, so read as raw int64 nanos and convert
        # explicitly (read_events) — same truncation DuckDB applies ns→us.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if sys.version_info < (3, 13):
        builder = builder.config("spark.python.daemon.module",
                                 "singer_spark.worker_daemon")
    return builder.getOrCreate()


def read_events(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """events.parquet with `ts` normalized to a microsecond TimestampType.

    The on-disk type has varied across TESTDATA generations — TIMESTAMP
    (NANOS) (loads as int64 under nanosAsLong), TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (loads as TIMESTAMP_NTZ), or a plain UTC
    timestamp — so every shape is normalized here.  Nanos convert via
    integer `div` (a double division would lose bits above 2^53, and the
    truncation matches DuckDB's ns→us coercion exactly); NTZ casts to
    TimestampType, which is wall-clock-preserving in any single session
    timezone, so date_format/date_trunc/unix_timestamp downstream agree
    with the oracle's naive-timestamp arithmetic.

    The conf is set here (runtime SQL conf) and not only in get_spark so
    the engine also works under a caller-provided SparkSession — e.g. the
    verification driver's."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
