"""Process environment for one benchmark run: the private work directory,
the Spark session under test, and memory accounting.

Everything a run writes lands under ``<checkout>/.bench_work/<pid>`` (Spark
local dirs, the JVM temp dir, the warehouse, checkpoints, corpora, producer
records), which is removed when the run ends.  Spans from traced runs land
in ``<checkout>/.bench_out``.
"""

from __future__ import annotations

import os
import resource
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cores() -> int:
    """Cores this process may run on (honours CPU affinity)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


class Workdir:
    """Private scratch tree of one run, deleted by :meth:`close`."""

    def __init__(self) -> None:
        self.path = os.path.join(ROOT, ".bench_work", str(os.getpid()))
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self._n = 0

    def new(self, name: str) -> str:
        """A fresh, empty directory under the run's tree."""
        self._n += 1
        p = os.path.join(self.path, f"{self._n:03d}-{name}")
        os.makedirs(p)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))
        except OSError:
            pass  # another run's tree is still there


def prepare_process(work: Workdir, n_cores: int) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark at the
    run's work tree, and make the checkout importable by Python workers.
    Must run before the first Spark session starts (the JVM inherits it)."""
    tmp = os.path.join(work.path, "tmp")
    local = os.path.join(work.path, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    # every JVM (the spark-submit launcher too): no /tmp perf files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work.path, 'warehouse')}",
        f"--conf spark.local.dir={local}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


class SparkHandle:
    """The Spark session under test, started through the program's own
    ``singer_spark.session.get_spark`` as ``local[<cores>]``."""

    def __init__(self) -> None:
        self.spark = None
        self.jvm_pid: int | None = None

    def start(self, master_cores: int | None = None) -> float:
        """(Re)start the session; returns the seconds it took."""
        from singer_spark.session import get_spark

        if master_cores is not None:
            os.environ["SPARK_GRAFT_CPUS"] = str(master_cores)
        t0 = time.perf_counter()
        self.spark = get_spark("singer_bench")
        self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t0
        if self.jvm_pid is None:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            self.jvm_pid = proc.pid if proc is not None else None
        return dt

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def restart(self, master_cores: int | None = None) -> float:
        self.stop_session()
        return self.start(master_cores)

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is going away either way
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=20)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver Python process plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self.jvm_pid is not None:
            try:
                with open(f"/proc/{self.jvm_pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            jvm_kb = int(line.split()[1])
            except OSError:
                pass
        return (py_kb + jvm_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from /proc/stat.
    Stolen ticks are those in which a vCPU of this machine wanted to run
    and the hypervisor ran another guest instead; (0, 0) where the kernel
    does not report them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    # user, nice, system, irq, softirq; v[7] is steal
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def run_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two
    :func:`cpu_ticks` samples that it got (1.0 on a dedicated host)."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + stolen) if busy > 0 and stolen > 0 else 1.0


class Stopwatch:
    """Times one interval in steal-free seconds: wall seconds times the
    interval's :func:`run_share`.  On a shared VM the hypervisor takes
    8-40% of the time a busy 4-vCPU guest wants, varying over minutes;
    that share is another guest's load, not the program's cost, and
    left in it moves wall times by ±25% between runs of the same code."""

    def __init__(self) -> None:
        self.t0, self.c0 = time.perf_counter(), cpu_ticks()
        self.wall = self.share = 0.0

    def stop(self) -> float:
        self.wall = time.perf_counter() - self.t0
        self.share = run_share(self.c0, cpu_ticks())
        return self.wall * self.share


def log(msg: str) -> None:
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()
