"""Shared pieces of the workloads: run context, query-progress statistics
and percentile helpers."""

from __future__ import annotations

import json
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench.env import SparkHandle, Stopwatch, Workdir
from perfbench.trace import Tracer


@dataclass
class Ctx:
    seed: int
    seconds: float
    cores: int
    work: Workdir
    sh: SparkHandle
    tracer: Tracer
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def count(self, attempted: int, failed: int, what: str) -> None:
        """Account one checked unit of work; failures also fail the run."""
        self.attempted += attempted
        self.failed += failed
        self.check(failed == 0, f"{what}: {failed} of {attempted} failed")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pct(values: np.ndarray, q: float) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def progress_of(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        if hasattr(p, "json"):
            p = json.loads(p.json)
        elif isinstance(p, str):
            p = json.loads(p)
        out.append(p)
    return out


# micro-batch phases in the order a trigger runs them
_ENGINE_KEYS = (("trigger", "triggerExecution"), ("latest_offset", "latestOffset"),
                ("wal_commit", "walCommit"), ("query_planning", "queryPlanning"),
                ("add_batch", "addBatch"), ("commit_offsets", "commitOffsets"))


def engine_stats(progress: list[dict]) -> dict[str, float]:
    """Mean of each micro-batch phase (ms) over batches that read data.
    Spark reports phases in whole ms, so a median of a few batches would
    repeat exactly from run to run; the mean keeps the measured digits."""
    data = [p for p in progress if (p.get("numInputRows") or 0) > 0] or progress
    out = {}
    for name, key in _ENGINE_KEYS:
        out[f"engine.{name}_mean_ms"] = statistics.fmean(
            float(p.get("durationMs", {}).get(key, 0.0)) for p in data) if data else 0.0
    out["engine.batches"] = float(len(data))
    return out


def iso_to_epoch(ts: str) -> float:
    """Progress timestamps look like 2026-01-01T00:00:00.123Z (UTC)."""
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def trace_progress(tracer: Tracer, progress: list[dict], wall0: float,
                   perf0: float) -> None:
    """Turn query progress into spans under the innermost open span: one per
    trigger with its phases as children, placed on the perf_counter clock
    via (wall0, perf0)."""
    if not tracer.enabled:
        return
    for p in progress:
        d = p.get("durationMs", {})
        start = iso_to_epoch(p["timestamp"]) - wall0 + perf0
        total = d.get("triggerExecution", 0) / 1000.0
        tid = tracer.add("engine.trigger", start, start + total,
                         batch=p.get("batchId"), rows=p.get("numInputRows"))
        t = start
        for name, key in _ENGINE_KEYS[1:]:
            if key in d:
                dur = d[key] / 1000.0
                tracer.add(f"engine.{name}", t, t + dur, tid)
                t += dur


def setups(ctx: Ctx, pipeline_setup) -> tuple[float, float]:
    """Set up three times: the first set-up starts the Spark session and
    then the workload's pipeline (cold: JVM, Python workers, first plans);
    the next two set up a fresh pipeline in the running session.  Returns
    (median set-up seconds, session start seconds), steal-free (see
    :class:`perfbench.env.Stopwatch`); `pipeline_setup` returns its own
    steal-free seconds."""
    times = []
    with ctx.tracer.span("setup.cold"):
        with ctx.tracer.span("session.start"):
            sw = Stopwatch()
            ctx.sh.start()
            session_s = sw.stop()
        times.append(session_s + pipeline_setup())
    for _ in range(2):
        with ctx.tracer.span("setup.warm"):
            times.append(pipeline_setup())
    return median(times), session_s


def wait_until(pred, timeout: float, poll: float = 0.05) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if pred():
            return True
        time.sleep(poll)
    return pred()
