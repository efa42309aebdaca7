"""Seconds from a tail query's `start()` to its first finished batch.

One session from `singer_spark.session.get_spark`; one 10-line text log; a
`singer_tail` query (`streaming.tail.tail_stream`) into the `noop` sink on
the `availableNow` trigger, each run on a fresh checkpoint.  The first query
of the session is the cold one (the session also registers the data source
and starts its first Python processes); the rest are warm, the cost every
`run_cycle` and `start_log` pays.  Each query is split from its first
progress event into:

- ``start_to_trigger_s``: `start()` to the first trigger's start.  Spark
  starts the tail reader in a fresh Python process here.
- ``trigger_s``: that trigger's `triggerExecution`.
- ``first_batch_s``: the sum, `start()` to the first batch's end.

Prints one JSON line: ``{"cold": {...}, "warm": [{...}, ...]}``.

Usage: python tools/query_start_probe.py [warm_runs]   (default 5)
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run_once(spark, log_dir: str, ckpt: str) -> dict:
    from singer_spark.streaming.tail import tail_stream

    t0 = time.time()
    q = (tail_stream(spark, log_dir).writeStream.format("noop")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    p = q.recentProgress[0]
    trigger_at = dt.datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp()
    trigger_s = p["durationMs"]["triggerExecution"] / 1000.0
    if p["numInputRows"] != 10:
        raise RuntimeError(f"first batch read {p['numInputRows']} lines, not 10")
    return {"start_to_trigger_s": round(trigger_at - t0, 3),
            "trigger_s": round(trigger_s, 3),
            "first_batch_s": round(trigger_at - t0 + trigger_s, 3)}


def main(warm_runs: int = 5) -> dict:
    from singer_spark.session import get_spark

    spark = get_spark("query_start_probe")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory(prefix="query_start_probe_") as d:
        log_dir = os.path.join(d, "logs")
        os.makedirs(log_dir)
        with open(os.path.join(log_dir, "app.log"), "w") as f:
            f.writelines(f"line {i}\n" for i in range(10))
        runs = [_run_once(spark, log_dir, os.path.join(d, f"ckpt{i}"))
                for i in range(warm_runs + 1)]
    spark.stop()
    return {"cold": runs[0], "warm": runs[1:]}


if __name__ == "__main__":
    print(json.dumps(main(int(sys.argv[1]) if len(sys.argv) > 1 else 5)))
