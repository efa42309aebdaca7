"""The fixed cost of one live micro-batch, layer by layer.

Floor table (default): a writer thread appends text lines at a fixed rate
(5,000 lines/s) spread over 1 or 4 growing logs; a `tail` query started by
`PipelineManager.start_log`, with no transforms, delivers them to the
`noop` sink or to `kafka_direct` with a producer that only counts.  Per
cell, the medians over the batches after the first `--warm` seconds of:
`addBatch`, `triggerExecution`, `walCommit` and `commitOffsets` (ms, from
the query's progress events), plus Spark tasks per batch (the query's jobs
by its run-id job group, from the status tracker).

Drain mode (`--drain-mib X ...`): catch-up drains of 4 text logs, each
appending X MiB over the 4 logs and draining it in one `availableNow`
batch of the tail reader into the `kafka_direct` delivery with the counting
producer.  Each size runs as pairs of drains: one planned a task per file
(`chunk_bytes` just under the drain's bytes) and one as the reader plans
it by default (one task when the drain is at most
`streaming.tail._ONE_TASK_BYTES`).  Reported per size: the median
`addBatch` of each, the pairs the default plan won, and tasks per drain.
Every delivered line is counted at the producer and checked against the
lines written.

Both modes run the tree this script sits in, so a before/after pair is this
file run from two checkouts.  Prints one JSON object per cell or size.

Usage:
    python tools/trigger_floor.py [--seconds 20] [--rate 5000] [--warm 5]
    python tools/trigger_floor.py --drain-mib 0.5 1 2 4 [--drains 5]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import tempfile
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ~300 bytes, the mean line of perfbench's live workload (1.4 MB/s at 4.5k lines/s)
LINE = b"%010d INFO " + b"trigger floor probe payload " * 10 + b"\n"
STAGES = ("addBatch", "triggerExecution", "walCommit", "commitOffsets")


class _Sent:
    exception = None

    @staticmethod
    def failed() -> bool:
        return False


class CountingProducer:
    """Producer protocol that delivers nothing; each flush writes how many
    messages it was sent to a file in `out_dir` (None: count nothing)."""

    def __init__(self, out_dir: str | None) -> None:
        self.out_dir, self.n = out_dir, 0

    def send(self, topic, value=None, key=None, headers=None, partition=None):
        self.n += 1
        return _Sent

    def flush(self) -> None:
        if self.out_dir and self.n:
            import uuid

            with open(os.path.join(self.out_dir, uuid.uuid4().hex), "w") as f:
                f.write(str(self.n))
        self.n = 0

    def close(self) -> None:
        pass


def _delivered(out_dir: str) -> int:
    total = 0
    for p in glob.glob(os.path.join(out_dir, "*")):
        with open(p) as f:
            total += int(f.read())
    return total


class Progress(StreamingQueryListener):
    """Keeps every progress event, as dicts."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 - listener API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802 - listener API
        self.events.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event) -> None:  # noqa: N802 - listener API
        pass


def _tasks(spark, run_id) -> int:
    """Spark tasks of every job the query ran (its run id is their job
    group)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    total = 0
    for jid in tracker.getJobIdsForGroup(str(run_id)):
        job = tracker.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = tracker.getStageInfo(sid)
            total += stage.numTasks if stage else 0
    return total


def _config(log_dir: str, sink: str, ckpt: str):
    from singer_spark.config import LogConfig, ReaderConfig, WriterConfig

    writer = (WriterConfig(type="noop") if sink == "noop" else
              WriterConfig(type="kafka_direct", topic="floor",
                           bootstrap_servers="null:9092"))
    return LogConfig(name=f"floor_{sink}", log_dir=log_dir, log_stream_regex="*.log",
                     reader=ReaderConfig(type="tail"), writer=writer,
                     checkpoint_dir=ckpt)


def _writer(paths: list[str], rate: int, stop: threading.Event) -> threading.Thread:
    """Appends `rate` lines/s round-robin over `paths`, every ~10 ms."""

    def run():
        files = [open(p, "ab") for p in paths]
        t0, i = time.perf_counter(), 0
        while not stop.is_set():
            due = int((time.perf_counter() - t0) * rate)
            bufs: list[list[bytes]] = [[] for _ in files]
            for j in range(i, due):
                bufs[j % len(files)].append(LINE % j)
            for f, b in zip(files, bufs):
                if b:
                    f.write(b"".join(b))
                    f.flush()
            i = due
            time.sleep(0.01)
        for f in files:
            f.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t


def floor_cell(spark, listener, work: str, n_files: int, sink: str,
               seconds: float, rate: int, warm: float) -> dict:
    from singer_spark.engine import PipelineManager

    d = tempfile.mkdtemp(prefix=f"floor_{n_files}_{sink}_", dir=work)
    log_dir = os.path.join(d, "logs")
    os.makedirs(log_dir)
    paths = [os.path.join(log_dir, f"app-{k}.log") for k in range(n_files)]
    for p in paths:
        open(p, "ab").close()
    mgr = PipelineManager(spark, kafka_producer_factory=lambda s, c: CountingProducer(None))
    q = mgr.start_log(_config(log_dir, sink, os.path.join(d, "ckpt")))
    stop = threading.Event()
    w = _writer(paths, rate, stop)
    time.sleep(seconds)
    stop.set()
    w.join()
    q.processAllAvailable()
    mgr.stop_all()
    mine = [e for e in listener.events if e["runId"] == str(q.runId)
            and "addBatch" in e["durationMs"]]
    t_warm = mine[0]["timestamp"] if mine else None
    measured = [e for e in mine if _seconds_between(t_warm, e["timestamp"]) >= warm]
    out = {"files": n_files, "sink": sink, "batches": len(measured),
           "tasks_per_batch": round(_tasks(spark, q.runId) / max(len(mine), 1), 2)}
    for s in STAGES:
        out[s + "_ms"] = statistics.median(e["durationMs"].get(s, 0) for e in measured) \
            if measured else None
    return out


def _seconds_between(a: str, b: str) -> float:
    import datetime as dt

    ts = [dt.datetime.fromisoformat(x.replace("Z", "+00:00")).timestamp() for x in (a, b)]
    return ts[1] - ts[0]


class _Drain:
    """4 text logs drained by `availableNow` queries of `tail_stream` into
    `kafka_write_batch` (the engine's `kafka_direct` delivery) on one
    checkpoint.  `per_range` plans one task per file: its `chunk_bytes`
    sits just under a drain's bytes, so nothing is cut or merged."""

    def __init__(self, work: str, mib: float, per_range: bool) -> None:
        d = tempfile.mkdtemp(prefix=f"drain_{mib}_{int(per_range)}_", dir=work)
        self.log_dir, self.out = os.path.join(d, "logs"), os.path.join(d, "out")
        self.ckpt = os.path.join(d, "ckpt")
        os.makedirs(self.log_dir)
        os.makedirs(self.out)
        self.per_file = int(mib * (1 << 20) / 4) // len(LINE % 0)
        self.chunk_bytes = (self.per_file * 4 * len(LINE % 0) - 1 if per_range
                            else 64 * 1024 * 1024)
        self.written = 0

    def drain(self, spark) -> tuple[int, int]:
        """Append one drain's lines and drain them: (addBatch ms, tasks)."""
        from singer_spark.sinks import foreach_batch_sink, kafka_write_batch
        from singer_spark.streaming.tail import tail_stream

        for k in range(4):
            with open(os.path.join(self.log_dir, f"app-{k}.log"), "ab") as f:
                f.write(b"".join(LINE % (self.written + j) for j in range(self.per_file)))
        self.written += 4 * self.per_file
        out = self.out

        def deliver(batch_df, batch_id):
            return kafka_write_batch(batch_df, "null:9092", "floor",
                                     lambda s, c: CountingProducer(out))

        df = tail_stream(spark, self.log_dir, glob="*.log", chunk_bytes=self.chunk_bytes)
        q = (foreach_batch_sink(df, self.ckpt, deliver)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        ms = sum(p["durationMs"].get("addBatch", 0) for p in q.recentProgress)
        return ms, _tasks(spark, q.runId)


def drain_sweep(spark, work: str, sizes: list[float], drains: int) -> list[dict]:
    """Per size, `drains` paired drains (per range, as planned; the order
    alternates) after one untimed pair; sizes interleave, so session
    warm-up and host drift fall on every size alike."""
    pairs = {mib: (_Drain(work, mib, True), _Drain(work, mib, False)) for mib in sizes}
    got: dict[float, list] = {mib: [] for mib in sizes}
    for i in range(drains + 1):
        for mib, (per_range, planned) in pairs.items():
            res = {d: d.drain(spark)
                   for d in ((per_range, planned) if i % 2 else (planned, per_range))}
            if i:  # the first pair warms up
                got[mib].append((res[per_range], res[planned]))
    out = []
    for mib, (per_range, planned) in pairs.items():
        for d in (per_range, planned):
            if _delivered(d.out) != d.written:
                raise RuntimeError(f"{mib} MiB: delivered {_delivered(d.out)} of {d.written}")
        runs = got[mib]
        out.append({
            "mib": mib, "drains": drains,
            "per_range_ms": statistics.median(r[0][0] for r in runs),
            "planned_ms": statistics.median(r[1][0] for r in runs),
            "planned_faster": sum(r[1][0] < r[0][0] for r in runs),
            "per_range_tasks": statistics.median(r[0][1] for r in runs),
            "planned_tasks": statistics.median(r[1][1] for r in runs)})
    return out


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=float, default=20.0, help="per floor cell")
    ap.add_argument("--rate", type=int, default=5000, help="lines/s, all files together")
    ap.add_argument("--warm", type=float, default=5.0, help="seconds of batches not measured")
    ap.add_argument("--drain-mib", type=float, nargs="*", help="drain mode: MiB per drain")
    ap.add_argument("--drains", type=int, default=5)
    args = ap.parse_args(argv)

    from singer_spark.session import get_spark

    spark = get_spark("trigger_floor")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="trigger_floor_") as work:
        if args.drain_mib:
            for row in drain_sweep(spark, work, args.drain_mib, args.drains):
                print(json.dumps(row), flush=True)
        else:
            listener = Progress()
            spark.streams.addListener(listener)
            for n_files in (1, 4):
                for sink in ("noop", "kafka_direct"):
                    print(json.dumps(floor_cell(spark, listener, work, n_files, sink,
                                                args.seconds, args.rate, args.warm)),
                          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
