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
- Spark's Python processes (task workers, the Python data sources'
  runners) start through `_LAUNCHER`, which drops Spark's zip copies of
  pyspark and py4j from their `PYTHONPATH` and runs the interpreter Spark
  would have run anyway (`PYSPARK_PYTHON`, else `python3`).  Zip-imported
  modules are compiled again in every process: the tail reader's source
  runner imports in 0.9-1.3 s from `pyspark.zip` and in 0.27-0.40 s from
  the bytecode-cached install, so a warm `availableNow` tail query on a
  10-line file went from 1.6-2.5 s to 0.8-1.1 s, `start()` to first batch
  (`tools/query_start_probe.py`, 4-vCPU host).  Spark puts its zips first
  on that path, ahead of `spark.executorEnv.PYTHONPATH`, so prepending
  there cannot do this.  Only a SparkContext `get_spark` creates gets the
  launcher, and only after one probe through it (~0.06 s) finds this
  driver's pyspark version and py4j outside any zip; otherwise Spark's
  `pythonExec` stays.
- Streaming checkpoints on the local file system (`file:`) are written
  through Hadoop's `RawLocalFs`, so their offset and commit logs get no
  `.crc` side files.  Spark's checkpoint manager writes through
  `FileContext`, which this setting picks for the `file:` scheme only:
  HDFS and S3 checkpoints, and data files written through the
  `FileSystem` API, keep their checksums.  Offset and commit files stay
  atomic (temp file + rename); neither file system fsyncs, so all that is
  lost is detection of bit rot in checkpoint files.  A checkpoint written
  with `.crc` files resumes unchanged (the side files are ignored).  Per
  trigger of a tail query, `walCommit` + `commitOffsets` fell from 61-95
  to 36-39 ms (`tools/trigger_floor.py`, 4-vCPU host).  Only a
  SparkContext `get_spark` creates gets this.
- Python workers run under `singer_spark.worker_daemon` on Python < 3.13.
  Each Python task starts with `importlib.invalidate_caches()`, which
  before 3.13 re-reads the central directory of every zip on the worker's
  `sys.path`: with the launcher that is the spark-core jar (5,359 entries,
  read by 2 importers, 0.04-0.12 s of CPU per task on a 4-vCPU host;
  0.11-0.21 s under Spark's own `pythonExec`, whose 16 importers also
  re-read pyspark.zip and py4j).  The daemon re-reads an archive only when
  its mtime or size changed (~0.1 ms per task).  3.13 made that call lazy,
  so there the stock `pyspark.daemon` runs.  Deployment condition:
  executors' Python must import `singer_spark`, which every UDF that
  references it already requires; `spark.executorEnv.PYTHONPATH` carries
  the directory this package was imported from, so a driver started
  outside the checkout still works on a single host.  A caller-provided
  session (e.g. the verification driver's own in `__spark_entry__.py`)
  does not go through `get_spark` and keeps the stock daemon and
  `pythonExec`.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shlex
import subprocess
import sys
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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
        # the persist-heavy query set, no query slower.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
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
    launcher = None
    if SparkContext._active_spark_context is None:
        launcher = _bytecode_python()
        # checkpoint logs on `file:` without `.crc` side files (module doc)
        builder = builder.config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                                 "org.apache.hadoop.fs.local.RawLocalFs")
    with _pyspark_python(launcher):
        return builder.getOrCreate()


# `pythonExec` for Spark's Python processes: drops Spark's zip copies of
# pyspark and py4j from PYTHONPATH and keeps every other entry in order
# (no word splitting or globbing: spaces, `*` and empty entries survive).
_LAUNCHER = """#!/bin/sh
set -f
if [ -n "${{PYTHONPATH+x}}" ]; then
  rest=$PYTHONPATH kept= first=1
  while :; do
    entry=${{rest%%:*}}
    case $entry in
      */pyspark.zip|*/py4j-*-src.zip) ;;
      *) if [ -n "$first" ]; then kept=$entry first=; else kept=$kept:$entry; fi ;;
    esac
    case $rest in *:*) rest=${{rest#*:}} ;; *) break ;; esac
  done
  if [ -n "$first" ]; then unset PYTHONPATH; else PYTHONPATH=$kept; export PYTHONPATH; fi
fi
exec {interpreter} "$@"
"""

# run through the launcher: prints the version of the pyspark it imports,
# or nothing unless pyspark and py4j both come from plain files, not a zip
_PROBE = (
    "import importlib.util as u, os, runpy\n"
    "o = [u.find_spec(m).origin for m in ('pyspark', 'py4j')]\n"
    "if all(map(os.path.isfile, o)):\n"
    "    print(runpy.run_path(os.path.join(os.path.dirname(o[0]), 'version.py'))"
    "['__version__'])\n")


def _write_launcher(interpreter: str) -> str:
    """Path of the launcher that runs `interpreter`, written once per content
    (atomic rename) into a directory only this user can write."""
    text = _LAUNCHER.format(interpreter=shlex.quote(interpreter))
    d = os.path.join(tempfile.gettempdir(), f"singer_spark_python_{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.stat(d)
    if st.st_uid != os.getuid() or st.st_mode & 0o022:
        raise PermissionError(f"{d} is writable by another user")
    path = os.path.join(d, hashlib.sha256(text.encode()).hexdigest()[:16] + ".sh")
    if not os.path.exists(path):
        fd, tmp = tempfile.mkstemp(dir=d)
        with os.fdopen(fd, "w") as f:
            f.write(text)
        os.chmod(tmp, 0o755)
        os.replace(tmp, path)
    return path


def _bytecode_python() -> str | None:
    """The launcher, if one probe through it, under a worker's PYTHONPATH
    (Spark's zips, then this package's root), imports this driver's
    pyspark version and py4j outside any zip; else None."""
    try:
        launcher = _write_launcher(os.environ.get("PYSPARK_PYTHON", "python3"))
        zips = glob.glob(os.path.join(_find_spark_home(), "python", "lib", "*.zip"))
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(zips + [_PACKAGE_ROOT]))
        out = subprocess.run([launcher, "-c", _PROBE], env=env, capture_output=True,
                             text=True, timeout=60)
    except (OSError, subprocess.SubprocessError):
        return None
    return launcher if out.stdout.strip() == pyspark.__version__ else None


@contextlib.contextmanager
def _pyspark_python(launcher: str | None):
    """`PYSPARK_PYTHON` = `launcher` while a SparkContext starts: its
    `pythonExec` and, when this starts the JVM, the JVM's default Python
    (the data-source lookup) both read it then.  Restored after."""
    if launcher is None:
        yield
        return
    old = os.environ.get("PYSPARK_PYTHON")
    os.environ["PYSPARK_PYTHON"] = launcher
    try:
        yield
    finally:
        if old is None:
            del os.environ["PYSPARK_PYTHON"]
        else:
            os.environ["PYSPARK_PYTHON"] = old


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
