"""What idle logs cost: cores busy and memory of N tail queries with nothing
to read.

One session from `singer_spark.session.get_spark`; N text logs, each in its
own directory with a few lines; one `reader.type=tail` → `writer.type=noop`
query per log, started through `engine.PipelineManager.start_log` with the
engine's default trigger (a live log's settings).  After every query has
finished a batch and `warm` seconds have passed, nothing is appended for
`window` seconds, and the probe reads:

- ``cores_busy``: user + system CPU seconds of this process's tree (this
  Python driver, the JVM and Spark's Python processes) over the window,
  per wall second.  From ``/proc/<pid>/stat``, walking
  ``/proc/<pid>/task/*/children``; a process that started during the
  window counts its whole CPU time, one that ended counts none.
- ``child_rss_mb``: resident memory of every process below this one, at
  the end of the window.
- ``processes``: the number of those processes.
- ``child_pss_mb``: their proportional set size (PSS) from
  ``/proc/<pid>/smaps_rollup``, where a page shared by k processes (the
  copy-on-write pages of a forked Python worker) counts 1/k in each.
- ``by_kind``: process count, RSS and PSS (MB) per kind of process in
  the tree, this one included: ``jvm``, ``python_streaming_source_runner``,
  ``pyspark.daemon``, ``singer_spark.worker_daemon`` (and the workers
  each daemon forks), ``driver`` and ``other``.

Prints one JSON line.  Linux only (reads ``/proc``).

Usage: python tools/idle_probe.py [queries] [window_s] [warm_s]
       (defaults 1, 15, 10)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    """`root` and every process below it."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
    return out


def _stat(pid: int) -> tuple[tuple[int, int], float, int] | None:
    """((pid, start time), CPU seconds, RSS bytes) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is field 3 (state) of proc(5): utime 14, stime 15,
    # starttime 22, rss 24
    cpu = (int(fields[11]) + int(fields[12])) / _TICK
    return (pid, int(fields[19])), cpu, int(fields[21]) * _PAGE


def _sample(root: int) -> dict[tuple[int, int], tuple[float, int]]:
    out = {}
    for pid in _tree(root):
        s = _stat(pid)
        if s is not None:
            out[s[0]] = s[1:]
    return out


_KINDS = ("python_streaming_source_runner", "pyspark.daemon",
          "singer_spark.worker_daemon")


def _kind(pid: int, me: int) -> str:
    if pid == me:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().decode(errors="replace").split("\0")
    except OSError:
        return "other"
    if os.path.basename(argv[0]) == "java":
        return "jvm"
    return next((k for k in _KINDS if any(k in a for a in argv)), "other")


def _rss_pss(pid: int) -> tuple[int, int] | None:
    """(RSS, PSS) bytes of a live process, from smaps_rollup."""
    vals = {}
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                name, _, rest = line.partition(":")
                if name in ("Rss", "Pss"):
                    vals[name] = int(rest.split()[0]) * 1024  # kB
    except (OSError, ValueError):
        return None
    return vals.get("Rss", 0), vals.get("Pss", 0)


def _memory_by_kind(root: int) -> dict[str, dict[str, float]]:
    out: dict[str, dict[str, float]] = {}
    for pid in _tree(root):
        mem = _rss_pss(pid)
        if mem is None:
            continue
        k = out.setdefault(_kind(pid, root),
                           {"processes": 0, "rss_mb": 0.0, "pss_mb": 0.0})
        k["processes"] += 1
        k["rss_mb"] += mem[0] / 2**20
        k["pss_mb"] += mem[1] / 2**20
    return {name: {**k, "rss_mb": round(k["rss_mb"], 1),
                   "pss_mb": round(k["pss_mb"], 1)}
            for name, k in sorted(out.items())}


def _config(name: str, log_dir: str, ckpt: str):
    from singer_spark.config import LogConfig, ReaderConfig, WriterConfig

    return LogConfig(name=name, log_dir=log_dir, log_stream_regex="*.log",
                     reader=ReaderConfig(type="tail"),
                     writer=WriterConfig(type="noop"), checkpoint_dir=ckpt)


def main(n: int = 1, window: float = 15.0, warm: float = 10.0) -> dict:
    from singer_spark.engine import PipelineManager
    from singer_spark.session import get_spark

    spark = get_spark("idle_probe")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="idle_probe_") as d:
        mgr = PipelineManager(spark, checkpoint_root=os.path.join(d, "ckpt"))
        queries = []
        for i in range(n):
            log_dir = os.path.join(d, f"logs{i}")
            os.makedirs(log_dir)
            with open(os.path.join(log_dir, "app.log"), "w") as f:
                f.writelines(f"log {i} line {k}\n" for k in range(10))
            queries.append(mgr.start_log(_config(
                f"idle{i}", log_dir, os.path.join(d, "ckpt", f"idle{i}"))))
        deadline = time.time() + 120
        while not all(q.lastProgress for q in queries):
            if time.time() > deadline:
                raise RuntimeError("a query finished no batch in 120 s")
            time.sleep(0.2)
        time.sleep(warm)
        me = os.getpid()
        t0, before = time.monotonic(), _sample(me)
        time.sleep(window)
        t1, after = time.monotonic(), _sample(me)
        by_kind = _memory_by_kind(me)
        mgr.stop_all()
    spark.stop()
    cpu = sum(c - before.get(key, (0.0, 0))[0] for key, (c, _) in after.items())
    children = [rss for (pid, _), (_, rss) in after.items() if pid != me]
    return {"queries": n, "window_s": round(t1 - t0, 2),
            "cores_busy": round(cpu / (t1 - t0), 3),
            "child_rss_mb": round(sum(children) / 2**20, 1),
            "processes": len(children),
            "child_pss_mb": round(sum(k["pss_mb"] for name, k in by_kind.items()
                                      if name != "driver"), 1),
            "by_kind": by_kind}


if __name__ == "__main__":
    args = sys.argv[1:]
    print(json.dumps(main(int(args[0]) if args else 1,
                          *(float(a) for a in args[1:3]))))
