"""live_tail_text: open loop at a fixed line rate into growing text logs
that rotate by rename during the run, through ``PipelineManager.start_log``
(reader ``tail``, ``filter_message_regex`` dropping DEBUG lines,
``prepend_hostname``, ``kafka_direct``).

One writer thread in this process appends line i at its scheduled time
t0 + i/RATE (never slowing when the pipeline slows) and stamps that time
into the line.  Latency = producer send time - scheduled time, over lines
scheduled in the steady-state window after WARM_S of warm-up; each
reported percentile is the median of that percentile over SUB_WINDOWS
slices of the window.
"""

from __future__ import annotations

import bisect
import os
import shutil
import threading
import time
import zlib

import numpy as np

from perfbench.common import (Ctx, engine_stats, median, pct, progress_of,
                              setups, trace_progress, wait_until)
from perfbench.env import Stopwatch, cpu_ticks, log, run_share
from perfbench.gen import LinePlan, expected_live_value, identity, line_plan
from perfbench.producer import CountingProducerFactory, Delivered, multiset_diff

# lines per second, all streams together.  Well below what the pipeline
# sustains (~20k/s on 4 cores), so a batch's time is mostly its fixed cost:
# near saturation every slower batch grows the next one and latency
# amplifies host noise instead of measuring the program
RATE = 5_000
SUB_WINDOWS = 3          # latency percentiles: median over sub-windows
N_STREAMS = 4
# untimed lead-in of the measured query: its first ~10 s of batches run
# ~25% slower than the rest (JIT and worker warm-up of the tail path); the
# last of those seconds fall in the first slice, which the median of the
# slices tolerates
WARM_S = 8.0
# rename-rotate each stream every 8 s (staggered): a rename landing between
# the tail reader's stat() and open() of the live name mis-records that
# file's offset (a program race the exactly-once check catches); rotating
# less often keeps it rare without dropping rotation from the workload
ROTATE_EVERY_S = 8.0
NUM_PARTITIONS = 16
KEEP_REGEX = "^(INFO|WARN|ERROR) "


def log_config(log_dir: str, ckpt: str):
    from singer_spark.config import LogConfig, ReaderConfig, WriterConfig

    return LogConfig(
        name="live", log_dir=log_dir, log_stream_regex="app-*.log*",
        reader=ReaderConfig(type="tail", filter_message_regex=KEEP_REGEX,
                            prepend_hostname=True),
        writer=WriterConfig(type="kafka_direct", topic="logs.live",
                            bootstrap_servers="bench:9092",
                            num_partitions=NUM_PARTITIONS),
        checkpoint_dir=ckpt)


class Writer(threading.Thread):
    """Open-loop line writer: appends every line at its scheduled time,
    rotating each stream by rename every ROTATE_EVERY_S (staggered)."""

    def __init__(self, plan: LinePlan, log_dir: str, t0_ns: int) -> None:
        super().__init__(name="perfbench-writer", daemon=True)
        self.plan, self.log_dir, self.t0_ns = plan, log_dir, t0_ns
        self.gap_ns = 1_000_000_000 // plan.rate
        self.written = 0
        self.ticks: list[tuple[int, int, int]] = []   # (first line, count, write ns)
        self.rotations = 0
        self.error: BaseException | None = None
        self.span = (0.0, 0.0)   # perf_counter start/end of the writing
        self.cpu: list[tuple[int, tuple[int, int]]] = []   # (ns, cpu_ticks()) every 0.25 s

    def sched_ns(self, i: int) -> int:
        return self.t0_ns + i * self.gap_ns

    def run(self) -> None:
        t0 = time.perf_counter()
        try:
            self._loop()
        except BaseException as e:  # noqa: BLE001 - surfaced by the caller
            self.error = e
        self.span = (t0, time.perf_counter())

    def _loop(self) -> None:
        plan = self.plan
        paths = [os.path.join(self.log_dir, f"app-{k}.log") for k in range(plan.n_streams)]
        files = [open(p, "ab") for p in paths]
        step = int(ROTATE_EVERY_S * 1e9)
        next_rot = [self.t0_ns + (k + 1) * step // plan.n_streams for k in range(plan.n_streams)]
        gen = [0] * plan.n_streams
        i = 0
        try:
            while i < plan.n_lines:
                now = time.time_ns()
                if not self.cpu or now - self.cpu[-1][0] >= 250_000_000:
                    self.cpu.append((now, cpu_ticks()))
                due = min(plan.n_lines, (now - self.t0_ns) // self.gap_ns + 1)
                if due > i:
                    bufs: list[list[bytes]] = [[] for _ in files]
                    for j in range(i, due):
                        bufs[plan.streams[j]].append(plan.line(j, self.sched_ns(j)))
                    for f, b in zip(files, bufs):
                        if b:
                            f.write(b"".join(b))
                            f.flush()
                    self.ticks.append((i, due - i, time.time_ns()))
                    i = due
                    self.written = i
                for k in range(plan.n_streams):
                    if now >= next_rot[k]:
                        files[k].close()
                        gen[k] += 1
                        os.rename(paths[k], f"{paths[k]}.{gen[k]}")
                        files[k] = open(paths[k], "ab")
                        next_rot[k] += step
                        self.rotations += 1
                time.sleep(0.001)
        finally:
            self.cpu.append((time.time_ns(), cpu_ticks()))
            for f in files:
                f.close()

    def run_share(self, a_ns: int, b_ns: int) -> float:
        """:func:`perfbench.env.run_share` between the samples nearest
        before wall-clock times a and b."""
        times = [t for t, _ in self.cpu]
        ia = max(bisect.bisect_right(times, a_ns) - 1, 0)
        ib = max(bisect.bisect_right(times, b_ns) - 1, ia)
        return run_share(self.cpu[ia][1], self.cpu[ib][1])

    def lateness_ms(self) -> np.ndarray:
        """Per line: how long after its scheduled time it was written."""
        out = []
        for first, count, wrote in self.ticks:
            sched = self.t0_ns + (first + np.arange(count)) * self.gap_ns
            out.append((wrote - sched) / 1e6)
        return np.concatenate(out) if out else np.zeros(0)


class LiveRun:
    """One started tail query fed by the open-loop writer."""

    def __init__(self, ctx: Ctx, plan: LinePlan) -> None:
        from singer_spark.engine import PipelineManager

        self.ctx, self.plan = ctx, plan
        self.log_dir = ctx.work.new("live-logs")
        self.out, self.ckpt = ctx.work.new("topic"), ctx.work.new("ckpt")
        self.mgr = PipelineManager(ctx.sh.spark, checkpoint_root=self.ckpt,
                                   kafka_producer_factory=CountingProducerFactory(
                                       self.out, NUM_PARTITIONS, live=True))
        self.cfg = log_config(self.log_dir, self.ckpt)
        # streams exist before the query starts, as on a running host
        for k in range(plan.n_streams):
            open(os.path.join(self.log_dir, f"app-{k}.log"), "ab").close()
        with ctx.tracer.span("engine.start_log", workload="live"):
            self.wall0, self.perf0 = time.time(), time.perf_counter()
            self.query = self.mgr.start_log(self.cfg)
            self.start_s = time.perf_counter() - self.perf0
        self.writer = Writer(plan, self.log_dir, time.time_ns())

    def finish(self) -> Delivered:
        """Stop writing, deliver everything written, stop the query."""
        self.writer.join(timeout=120)
        self.ctx.check(not self.writer.is_alive() and self.writer.error is None,
                       f"live: writer failed ({self.writer.error})")
        self.ctx.tracer.add("generator.open_loop_writer", *self.writer.span)
        with self.ctx.tracer.span("engine.drain_remaining"):
            self.query.processAllAvailable()
        self.progress = progress_of(self.query)
        self.mgr.stop_all()
        self.query.awaitTermination(60)
        self.ctx.check(self.query.exception() is None,
                       f"live: query failed ({self.query.exception()})")
        trace_progress(self.ctx.tracer, self.progress, self.wall0, self.perf0)
        return Delivered(self.out)

    def verify(self, d: Delivered) -> None:
        """Exactly once for every non-DEBUG line written, with the right
        value and partition."""
        plan, n = self.plan, self.writer.written
        kept = np.array([i for i in range(n) if plan.kept(i)], dtype=np.int64)
        values = [expected_live_value(plan, int(i), self.writer.sched_ns(int(i)))
                  for i in kept]
        want = np.array([identity(None, v, zlib.crc32(v)) for v in values], dtype=np.uint64)
        self.value_len = np.zeros(n, dtype=np.int64)
        self.value_len[kept] = [len(v) for v in values]
        lost, dup = multiset_diff(want, d.ids)
        seq_lost, seq_dup = multiset_diff(kept.astype(np.uint64),
                                          d.live[:, 0].astype(np.uint64))
        self.ctx.check(d.stat["bad_partition"] == 0,
                       f"live: {d.stat['bad_partition']} lines on the wrong partition")
        self.ctx.check(d.stat["bad_value"] == 0,
                       f"live: {d.stat['bad_value']} values without seq/sched")
        self.ctx.count(len(kept), max(lost + dup, seq_lost + seq_dup), "live delivery")
        self.kept = len(kept)


def setup_once(ctx: Ctx) -> float:
    """Start a tail query on fresh logs and wait for its first delivered
    batch (see :func:`perfbench.common.setups`)."""
    plan = line_plan(ctx.seed + 104_729, rate=2_000, seconds=0.1, n_streams=N_STREAMS)
    sw = Stopwatch()
    run = LiveRun(ctx, plan)
    run.writer.start()
    ctx.check(wait_until(lambda: any((p.numInputRows or 0) > 0
                                     for p in run.query.recentProgress), timeout=120),
              "live: set-up query delivered no batch within 120 s")
    dt = sw.stop()
    run.verify(run.finish())
    shutil.rmtree(run.out, ignore_errors=True)
    return dt


def run(ctx: Ctx) -> dict:
    from singer_spark.streaming.tail import read_counters

    setup_s, session_s = setups(ctx, lambda: setup_once(ctx))
    plan = line_plan(ctx.seed, RATE, WARM_S + ctx.seconds, N_STREAMS)
    live = LiveRun(ctx, plan)
    with ctx.tracer.span("live.window", rate=RATE):
        live.writer.start()
        d = live.finish()
    live.verify(d)
    w = live.writer
    lo = w.t0_ns + int(WARM_S * 1e9)
    hi = lo + int(ctx.seconds * 1e9)
    # latency of the lines scheduled in the window; throughput of what was
    # delivered in it (falls below the offered rate once the backlog grows)
    # each percentile is the median over SUB_WINDOWS equal slices of the
    # window, so one slow micro-batch moves one slice, not the result; a
    # slice's latencies are scaled to steal-free time by the share of CPU
    # time the machine got during the slice (see perfbench.env.Stopwatch)
    sched = d.live[:, 1] >= lo
    lat_ms = (d.sent_ns - d.live[:, 1]) / 1e6
    edges = np.linspace(lo, hi, SUB_WINDOWS + 1).astype(np.int64)
    shares = [w.run_share(a, b) for a, b in zip(edges[:-1], edges[1:])]
    slices = [lat_ms[(d.live[:, 1] >= a) & (d.live[:, 1] < b)] * share
              for a, b, share in zip(edges[:-1], edges[1:], shares)]
    sent = (d.sent_ns >= lo) & (d.sent_ns < hi)
    ok_seq = np.clip(d.live[sent, 0], 0, len(live.value_len) - 1)
    ctx.check(int(sched.sum()) >= 1000, "live: under 1000 lines in the steady-state window")
    late = w.lateness_ms()
    log("live slices, steal-free p50/p99 ms (steal %): " + " ".join(
        f"{pct(x, 50):.0f}/{pct(x, 99):.0f} ({100 * (1 - sh):.0f})"
        for x, sh in zip(slices, shares)) + f"; batches {len(live.progress)}")
    e2e = {
        "throughput_mb_s": float(live.value_len[ok_seq].sum()) / 1e6 / ctx.seconds,
        "throughput_records_s": int(sent.sum()) / ctx.seconds,
        "latency_p50_ms": median(pct(x, 50) for x in slices),
        "latency_p99_ms": median(pct(x, 99) for x in slices),
        "setup_s": setup_s,
        "peak_rss_mb": ctx.sh.peak_rss_mb(),
    }
    layer = engine_stats(live.progress)
    layer["engine.query_start_s"] = live.start_s
    layer["session.start_s"] = session_s
    layer["host.steal_pct"] = 100.0 * (1.0 - w.run_share(lo, hi))
    layer.update({
        "generator.late_p99_ms": pct(late, 99),
        "generator.rotations": float(w.rotations),
        "tail.dupes_suspected": float(read_counters(live.log_dir, "app-*.log*")["reopens"]),
        "transforms.kept_ratio": live.kept / max(w.written, 1),
        "sinks.producer_send_s": d.stat["send_s"],
        "sinks.sends": float(d.stat["sends"]),
        "sinks.flushes": float(d.stat["flushes"]),
        "sinks.msgs_per_flush": d.stat["sends"] / max(d.stat["flushes"], 1),
    })
    return {"e2e": e2e, "layer": layer}
