"""Ingest benchmark for singer_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists, and perfbench/METRICS.md
for their parameters and metric definitions):

- ``backlog_thrift_kafka``  closed-loop drain of a rotated framed-thrift
  backlog: thrift reader -> crc32 partitioner -> audited kafka_direct.
- ``live_tail_text``        open loop at a fixed line rate into growing,
  rename-rotated text logs: tail reader -> DEBUG filter -> prepend
  hostname -> kafka_direct.
- ``curate_stream_docs``    closed-loop drain of parquet chunks through
  ``curation.curate_stream`` (minhash state, one file per trigger); runnable
  but not in BENCHMARK.json (too slow and noisy per run) — traced runs of
  the other two check and measure it on a small corpus.

Spark runs as ``local[<cores this process may use>]``.  Inputs come from
seeded generators in this process; Kafka is a counting producer owned by the
benchmark, and every run checks the program's outputs against the
generator's expectation.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``; spans go to
``.bench_out/``).  Exits non-zero without a result line if the program or
a check cannot run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.env import ROOT, SparkHandle, Workdir, cores, log, prepare_process  # noqa: E402

# workload name -> module with its run(ctx)
WORKLOADS = {"backlog_thrift_kafka": "backlog", "live_tail_text": "live",
             "curate_stream_docs": "curate"}
DEADLINE_S = 170  # a run must end within 180 s; give up (non-zero) before


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must come from this checkout
    import singer_spark  # noqa: F401  (ImportError -> non-zero exit)

    if not os.path.abspath(singer_spark.__file__).startswith(ROOT + os.sep):
        log(f"singer_spark imported from {singer_spark.__file__}, not this checkout")
        return 2
    spec = _spec()
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    from perfbench.common import Ctx
    from perfbench.trace import Tracer

    work = Workdir()
    n = cores()
    prepare_process(work, n)
    sh = SparkHandle()
    ctx = Ctx(seed=args.seed, seconds=args.seconds, cores=n, work=work, sh=sh,
              tracer=Tracer(bool(args.trace)))
    t0 = time.perf_counter()
    try:
        result = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}").run(ctx)
        if args.trace:
            from perfbench import probes

            # the workload's own measurements win for the layers it runs
            result["layer"] = {**probes.run(ctx, result), **result["layer"]}
    finally:
        signal.alarm(0)
        sh.shutdown()
        work.close()
    wall = time.perf_counter() - t0
    if args.trace:
        names = spec["per_layer"]
        values = result["layer"]
        values["trace.overhead_pct"] = 100.0 * ctx.tracer.own_s / wall
        out_dir = os.path.join(ROOT, ".bench_out")
        ctx.tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-seed{args.seed}.json"),
            {"e2e": result["e2e"], "layer": values})
    else:
        names = spec["end_to_end"]
        values = result["e2e"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        log(f"no value for metrics {missing}")
        return 3
    for p in ctx.problems:
        log(f"CHECK FAILED: {p}")
    log(f"{args.workload} seed={args.seed} wall={wall:.1f}s "
        + " ".join(f"{k}={v:.4g}" for k, v in sorted(result["e2e"].items())))
    print(json.dumps({
        "correct": not ctx.problems,
        "attempted": max(int(ctx.attempted), 1),
        "failed": int(ctx.failed),
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
