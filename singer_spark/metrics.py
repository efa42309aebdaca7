"""Metrics listener (O7) — parity with the reference's Ostrich stats +
OpenTSDB pusher (singer-commons metrics/OpenTsdbMetricConverter.java,
OpenTsdbStatsPusher.java, common/SingerMetrics.java).

Spark already measures everything the reference's counters track — rows in,
batch duration, processing rate — and surfaces it on StreamingQueryListener
progress events.  `MetricsListener` converts each progress event into
OpenTSDB put lines (``put <metric> <ts> <value> <tag>=<v>``), the wire
format OpenTsdbStatsPusher writes, and hands them to an ``emit`` hook: a
socket to a real TSD, a file, or a collector in tests.
"""

from __future__ import annotations

import json
import socket
import threading
from collections import deque
from datetime import datetime, timezone

from pyspark.sql.streaming.listener import StreamingQueryListener

# metric names mirror SingerMetrics' singer.* families
_METRICS = {
    "num_input_rows": "singer_spark.processor.num_input_rows",
    "trigger_ms": "singer_spark.processor.trigger_execution_ms",
    "rows_per_sec": "singer_spark.processor.processed_rows_per_second",
}
_KEEP_LINES = 1000  # lines a MetricsListener retains for snapshot()


def progress_epoch(ts) -> float | None:
    """Epoch seconds of a progress event's UTC ISO `timestamp`, parsed as
    UTC (not the host timezone); None when it does not parse."""
    try:
        parsed = datetime.strptime(str(ts)[:19], "%Y-%m-%dT%H:%M:%S")
    except ValueError:
        return None
    return parsed.replace(tzinfo=timezone.utc).timestamp()


def progress_to_lines(progress: dict, hostname: str | None = None) -> list[str]:
    """One progress event → OpenTSDB put lines."""
    host = hostname or socket.gethostname()
    name = progress.get("name") or progress.get("id", "unknown")
    epoch = int(progress_epoch(progress.get("timestamp")) or 0)
    values = {
        "num_input_rows": progress.get("numInputRows", 0) or 0,
        "trigger_ms": (progress.get("durationMs") or {}).get("triggerExecution", 0) or 0,
        "rows_per_sec": progress.get("processedRowsPerSecond", 0.0) or 0.0,
    }
    return [
        f"put {_METRICS[k]} {epoch} {v} query={name} host={host}"
        for k, v in values.items()
    ]


class MetricsListener(StreamingQueryListener):
    """Attach with ``spark.streams.addListener(listener)``; every micro-batch
    progress event becomes OpenTSDB lines through ``emit``.  Thread-safe —
    listener callbacks arrive on Spark's listener bus thread."""

    def __init__(self, emit=None, hostname: str | None = None) -> None:
        self.emit = emit
        self.hostname = hostname
        # the newest lines, for inspection: a long-running agent must not
        # keep every line it ever emitted
        self.lines: deque[str] = deque(maxlen=_KEEP_LINES)
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 - listener API
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802 - listener API
        p = event.progress
        prog = json.loads(p.json) if hasattr(p, "json") else dict(p)
        out = progress_to_lines(prog, self.hostname)
        with self._lock:
            self.lines.extend(out)
        if self.emit:
            for line in out:
                self.emit(line)

    def onQueryIdle(self, event) -> None:  # noqa: N802 - listener API
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802 - listener API
        pass

    def snapshot(self) -> list[str]:
        with self._lock:
            return list(self.lines)
