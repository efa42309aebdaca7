"""Disk→sink latency probe — the BASELINE latency-method parity artifact.

The reference measures end-to-end log-upload latency as p50/p90/p99 of
(consume time − message-embedded timestamp), discarding the first 400
samples as warmup (singer/src/test/java/com/pinterest/singer/e2e/
SingerLatencyTest.java:97-130; claim: "<5 ms achievable", README.md:31-32).
This probe applies the SAME method to this engine's agent path: a writer
thread appends timestamped lines to a growing log file; the sub-file
tailing source (singer_spark/streaming/tail.py) delivers them through a
continuously-running Structured Streaming query; `foreachBatch` stamps
arrival time and the latency is arrival − embedded-send-time.

What to expect — and why it differs from the reference by design:
Structured Streaming is a MICRO-BATCH engine; per-message latency is
bounded below by the trigger cadence plus per-batch overhead, not by the
per-record hot path the reference's thread-per-stream architecture
optimizes.  Measured on a 4-vCPU host at 200 msgs/s for 20 s, the
steady-state p50 is ~130-160 ms (p99 ~230-280 ms); before the worker
daemon of `singer_spark.session` stopped each Python task re-reading
every zip on `sys.path`, the same probe read p50 ~220 ms, p99 ~430 ms.
The flip side is the scaling
story: the same query absorbs thousands of files/partitions without new
threads.  Latency-sensitive deployments tighten `trigger(processingTime=)`
toward 0 and accept higher scheduler overhead; throughput deployments
lengthen it.  Numbers land in README.md.

Usage: python tools/latency_probe.py [rate_msgs_per_sec] [duration_sec]
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WARMUP_DROP = 400  # samples discarded, matching SingerLatencyTest


def main(rate: float = 200.0, duration: float = 20.0) -> None:
    from singer_spark.session import get_spark
    from singer_spark.streaming.tail import tail_stream

    spark = get_spark("latency_probe", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="singer_latency_")
    log_dir = os.path.join(tmp, "logs")
    os.makedirs(log_dir)
    log = os.path.join(log_dir, "probe.log")
    ckpt = os.path.join(tmp, "ckpt")

    lat_ns: list[int] = []
    lock = threading.Lock()

    def on_batch(df, epoch_id):
        now = time.time_ns()
        rows = df.select("value").collect()
        with lock:
            for r in rows:
                try:
                    lat_ns.append(now - int(r.value.split(" ", 1)[0]))
                except ValueError:
                    pass

    q = (tail_stream(spark, log_dir).writeStream
         .foreachBatch(on_batch)
         .option("checkpointLocation", ckpt)
         .start())

    stop = threading.Event()

    def writer():
        period = 1.0 / rate
        f = open(log, "a", buffering=1)
        while not stop.is_set():
            f.write(f"{time.time_ns()} singer tutorial log message\n")
            f.flush()
            time.sleep(period)
        f.close()

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    time.sleep(duration)
    stop.set()
    t.join()
    deadline = time.time() + 30
    while time.time() < deadline:  # drain the tail
        with lock:
            n = len(lat_ns)
        time.sleep(2)
        with lock:
            if len(lat_ns) == n:
                break
    q.stop()
    spark.stop()

    with lock:
        all_lat = list(lat_ns)
    if len(all_lat) <= WARMUP_DROP:
        print(f"insufficient samples: {len(all_lat)} total (need > {WARMUP_DROP})")
        return

    def report(tag: str, raw: list[int]) -> None:
        s = sorted(raw)
        pct = lambda p: s[min(int(len(s) * p), len(s) - 1)] / 1e6
        print(f"{tag}: samples={len(s)}  p50={pct(0.50):.1f} ms  "
              f"p90={pct(0.90):.1f} ms  p99={pct(0.99):.1f} ms  "
              f"max={s[-1] / 1e6:.1f} ms")

    print(f"rate={rate:.0f}/s duration={duration:.0f}s")
    # reference method: drop the first 400 samples (SingerLatencyTest) —
    # at high rates 400 samples undercover JVM warmup, so the steady-state
    # window (second half, arrival order) is reported alongside
    report("ref-method(drop 400)", all_lat[WARMUP_DROP:])
    report("steady-state(last 50%)", all_lat[len(all_lat) // 2:])


if __name__ == "__main__":
    main(*(float(a) for a in sys.argv[1:3]))
