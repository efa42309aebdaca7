"""Heartbeat — reference parity for SURVEY.md §2.4 B6 / §2.8 O1.

The reference publishes a SingerStatus JSON blob (hostname, uptime, per-topic
write counts, latency, numLogStreams, numStuckLogStreams) to a heartbeat
topic every N seconds (common/SingerStatus.java:38-62,108-149,
heartbeat/HeartbeatGenerator.java:30-58).

Spark surfaces the same signals on StreamingQuery.lastProgress /
recentProgress; `build_status` folds them into one status dict and
`HeartbeatPublisher` ships it on an interval from the driver.

Field parity (SingerStatus.java:108-149):
- `numStuckLogStreams` — a query is stuck when its most recent progress
  event is older than `stuck_seconds` (a healthy-but-idle stream keeps
  emitting zero-row progress on every trigger, so a stale timestamp means
  the trigger itself is wedged — e.g. a frozen sink), or when it has
  produced NO progress at all for `stuck_seconds` after first being seen
  (first batch blocked).
- `latencyPercentilesMs` / per-query `queryLatencyMs` — p50/p90/p99/max of
  `durationMs.triggerExecution` over each query's `recentProgress` window,
  the micro-batch twin of the reference's per-topic write-latency
  distributions.
- `duplicatesSuspected` — per-stream {reopens, bytes} read from the tail
  source's counters-file side channel: the measurable width of the
  at-least-once duplicate window under copytruncate rotation, matching
  the reference's per-stream metric discipline.  The reader counts
  fingerprint-mismatch reopens and copytruncate copies when it plans a
  batch, from the batch's (start, end) offsets (see streaming/tail.py),
  and writes its file once per planned batch; offsets stay
  position-only, and the reader runs in its own Python worker, so a file
  under the tempdir is the channel that crosses that boundary.  A stream
  with no batch in `list_counters`' 15-minute window is not listed.
"""

from __future__ import annotations

import json
import socket
import threading
import time

from pyspark.sql import SparkSession


def _percentiles(vals: list[float]) -> dict:
    """Nearest-rank percentiles; summary-sized input (recentProgress is
    capped by spark.sql.streaming.numRecentProgressUpdates, default 100)."""
    s = sorted(vals)
    n = len(s)

    def pick(p: float) -> float:
        return s[min(n - 1, max(0, int(p * n + 0.999999) - 1))]

    return {"p50": pick(0.50), "p90": pick(0.90), "p99": pick(0.99),
            "max": s[-1]}


def _as_dict(progress) -> dict | None:
    if not progress:
        return None
    return json.loads(progress) if isinstance(progress, str) else progress


def stuck_threshold(stuck_seconds: float,
                    progress_timestamps: list[float]) -> float:
    """Stale-progress age beyond which a query counts as stuck.

    Adapts to the query's OWN cadence: a trigger(processingTime='10
    minutes') stream legitimately goes ~600 s between progress events,
    so a flat stuck_seconds=300 would count every healthy slow-trigger
    query as stuck forever.  The cadence estimate is the MEDIAN
    inter-progress gap — robust, so one historical stall that recovered
    (a 2 h wedge sitting in recentProgress) cannot inflate the threshold
    and mask the next real wedge the way a max-gap rule would; the
    threshold is max(stuck_seconds, 2x median gap).  With fewer than two
    progress events there is no cadence evidence and the flat floor
    applies."""
    import statistics

    ts = sorted(progress_timestamps)
    gaps = [b - a for a, b in zip(ts, ts[1:])]
    return max(stuck_seconds, 2.0 * statistics.median(gaps) if gaps else 0.0)


def build_status(spark: SparkSession, started_at: float,
                 hostname: str | None = None,
                 stuck_seconds: float = 300.0,
                 first_seen: dict | None = None) -> dict:
    """One SingerStatus-shaped dict from all active streaming queries.

    `first_seen` (optional, mutated) maps query id → the time this
    monitor first saw it without any progress; it lets successive calls
    flag a query whose FIRST batch never completes.  HeartbeatPublisher
    threads one through its lifetime; one-shot callers may omit it."""
    now = time.time()
    queries = spark.streams.active
    kafka_writes: dict[str, int] = {}
    latencies: list[float] = []
    query_latency: dict[str, dict] = {}
    duplicates: dict[str, dict] = {}
    stuck = 0
    for q in queries:
        p = _as_dict(q.lastProgress)
        name = str(q.name or (p or {}).get("name") or q.id)
        if p is None:
            # never progressed: stuck once it has been in that state for
            # stuck_seconds (per this monitor's own clock)
            if first_seen is not None:
                t0 = first_seen.setdefault(str(q.id), now)
                if now - t0 > stuck_seconds:
                    stuck += 1
            continue
        if first_seen is not None:
            first_seen.pop(str(q.id), None)
        num = int(p.get("numInputRows", 0) or 0)
        kafka_writes[name] = kafka_writes.get(name, 0) + num
        # ONE recentProgress fetch per query per beat — each access is a
        # py4j round-trip materializing up to ~100 progress JSON blobs,
        # and both the latency and the cadence loops read it
        recent = [_as_dict(rp) or {} for rp in q.recentProgress]
        durs = []
        for rpd in recent:
            d = (rpd.get("durationMs") or {}).get("triggerExecution")
            if d is not None:
                durs.append(float(d))
        if durs:
            latencies.extend(durs)
            query_latency[name] = _percentiles(durs)
        ts = p.get("timestamp")
        if ts:
            try:
                # progress timestamps are UTC ISO strings; parse as UTC
                # explicitly (mktime would apply the host timezone and skew
                # batch_age by the UTC offset on non-UTC hosts)
                from datetime import datetime, timezone

                def _utc(s: str) -> float:
                    parsed = datetime.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")
                    return parsed.replace(tzinfo=timezone.utc).timestamp()

                batch_age = now - _utc(ts)
                # a healthy idle stream still emits zero-row progress per
                # trigger; a stale LAST progress means the trigger loop
                # itself stopped turning (frozen sink, wedged source).
                prog_ts = []
                for rpd in recent:
                    rts = rpd.get("timestamp")
                    if rts:
                        try:
                            prog_ts.append(_utc(rts))
                        except ValueError:
                            pass
                if batch_age > stuck_threshold(stuck_seconds, prog_ts):
                    stuck += 1
            except ValueError:
                pass
    # tail readers (which run in their own Python worker process)
    # publish per-stream counters through the counters-file side
    # channel, keeping streaming offsets position-only (ADVICE r7 #2);
    # recently-updated entries only, so a long-lived tempdir doesn't
    # resurrect dead streams, and filtered to THIS application's
    # namespace so another Spark app run by the same user doesn't leak
    # its streams into this heartbeat (ADVICE r8 #2)
    try:
        from singer_spark.streaming.tail import list_counters

        for c in list_counters(ns=spark.sparkContext.applicationId):
            duplicates[c["stream"]] = {"reopens": c["reopens"],
                                       "bytes": c["bytes"]}
    except ImportError:  # pragma: no cover - tail source always ships
        pass
    return {
        "hostName": hostname or socket.gethostname(),
        "jvmUptime": int((now - started_at) * 1000),
        "version": "singer_spark-0.1.0",
        "numLogStreams": len(queries),
        "numStuckLogStreams": stuck,
        "kafkaWrites": kafka_writes,
        "avgTriggerMs": (sum(latencies) / len(latencies)) if latencies else 0.0,
        "latencyPercentilesMs": (_percentiles(latencies) if latencies
                                 else {"p50": 0.0, "p90": 0.0, "p99": 0.0,
                                       "max": 0.0}),
        "queryLatencyMs": query_latency,
        "duplicatesSuspected": duplicates,
        "timestamp": int(now * 1000),
    }


class HeartbeatPublisher(threading.Thread):
    """Driver-side interval publisher (HeartbeatGenerator parity).  `emit`
    receives the JSON string — wire it to a Kafka producer, a file, or a
    collector in tests."""

    def __init__(self, spark: SparkSession, emit, interval_secs: int = 60,
                 stuck_seconds: float = 300.0) -> None:
        super().__init__(daemon=True)
        self.spark = spark
        self.emit = emit
        self.interval = interval_secs
        self.stuck_seconds = stuck_seconds
        self.started_at = time.time()
        self._first_seen: dict = {}
        self._stop = threading.Event()

    def run(self) -> None:
        while not self._stop.wait(self.interval):
            self.emit(json.dumps(build_status(
                self.spark, self.started_at,
                stuck_seconds=self.stuck_seconds,
                first_seen=self._first_seen)))

    def stop(self) -> None:
        self._stop.set()
