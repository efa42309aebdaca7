"""Per-layer probes of a traced run: direct calls into each layer's public
functions on small seeded inputs, timed from outside.

- rung ladder: ``run_cycle``-style availableNow drains of one thrift
  corpus, adding one layer per rung (source -> noop, + transforms,
  + partitioner, kafka_direct, + audit); each rung's increment over the
  previous one is that layer's cost;
- ``framing.decode_frames`` on the same corpus, single core;
- ``TailStreamReader`` latestOffset / read on text logs the live
  workload's open-loop writer is appending to and rotating;
- a checked ``curation.curate_stream`` drain of two 100-doc chunks, then
  ``curation.curate(dedup="none")`` on one persisted batch and
  ``dedup.minhash_lsh_incremental`` of a batch against earlier state;
- the single-threaded baseline: the audited drain again under
  ``local[1]``, reported as the ``local[<cores>]`` speed-up.

The baseline restarts the session, so the probes run after the workload.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from perfbench.backlog import Drain, log_config
from perfbench.common import Ctx, median, pct
from perfbench.gen import doc_corpus, thrift_corpus

PROBE_MESSAGES = 40_000
PROBE_DOCS = 100


def _noop_drain(ctx: Ctx, corpus, stage: str) -> float:
    """availableNow drain into the noop sink through the engine's own
    source/transform builders; `stage` is source | transforms | partition."""
    from singer_spark import sinks
    from singer_spark.engine import build_source, build_transforms

    ckpt = ctx.work.new("ckpt")
    # a kafka_direct config makes build_transforms add the partition column
    cfg = log_config(corpus, ckpt, writer="kafka_direct" if stage == "partition" else "noop")
    spark = ctx.sh.spark
    with ctx.tracer.span(f"rung.{stage}"):
        t0 = time.perf_counter()
        df = build_source(spark, cfg)
        if stage != "source":
            with ctx.tracer.span("transforms.build" if stage == "transforms"
                                 else "partitioners.build"):
                df = build_transforms(df, cfg)
        q = sinks.noop_sink(df, ckpt).trigger(availableNow=True).start()
        q.awaitTermination()
        dt = time.perf_counter() - t0
    shutil.rmtree(ckpt, ignore_errors=True)
    return dt


def ladder(ctx: Ctx) -> tuple[dict[str, float], object, float]:
    """Rung values, the probe corpus and its audited drain seconds."""
    corpus = thrift_corpus(ctx.work.new("probe-thrift"), ctx.seed + 31_337, PROBE_MESSAGES)
    _noop_drain(ctx, corpus, "source")  # warm the plan shapes once
    src = _noop_drain(ctx, corpus, "source")
    tra = _noop_drain(ctx, corpus, "transforms")
    par = _noop_drain(ctx, corpus, "partition")
    with ctx.tracer.span("rung.kafka_direct"):
        kafka = Drain(ctx, corpus, audit=False)
    with ctx.tracer.span("rung.audit"):
        audited = Drain(ctx, corpus, audit=True)
    with ctx.tracer.span("framing.decode_frames"):
        decode = _decode_mb_s(corpus.log_dir)
    return {
        "sources.rung_s": src,
        "transforms.rung_s": tra - src,
        "partitioners.rung_s": par - tra,
        "sinks.kafka_rung_s": kafka.seconds - par,
        "audit.rung_s": audited.seconds - kafka.seconds,
        "sources.messages_out": float(kafka.delivered),
        "sources.run_cycle_rows": float(kafka.rows),
        "transforms.kept_ratio": kafka.delivered / corpus.n_messages,
        "sinks.producer_send_s": kafka.stat["send_s"],
        "sinks.sends": float(kafka.stat["sends"]),
        "sinks.flushes": float(kafka.stat["flushes"]),
        "sinks.msgs_per_flush": kafka.stat["sends"] / max(kafka.stat["flushes"], 1),
        "framing.decode_mb_s_core": decode,
    }, corpus, audited.seconds * audited.share


def _decode_mb_s(log_dir: str) -> float:
    from singer_spark.framing import decode_frames

    rates = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(p, "rb") as f:
            blob = f.read()
        t0 = time.perf_counter()
        n = sum(1 for _ in decode_frames(blob))
        dt = time.perf_counter() - t0
        if n:
            rates.append(len(blob) / 1e6 / dt)
    return median(rates)


def tail_direct(ctx: Ctx) -> dict[str, float]:
    """``TailStreamReader`` driven directly while the open-loop writer of
    the live workload appends to (and rename-rotates) 4 streams for 1.5 s:
    latestOffset cost, read throughput of the planned partitions, file
    opens per trigger, and every written line read exactly once."""
    from singer_spark.streaming.tail import TailStreamReader, read_counters

    from perfbench.gen import line_plan
    from perfbench.live import N_STREAMS, RATE, Writer

    plan = line_plan(ctx.seed + 271_828, RATE, 1.5, N_STREAMS)
    d = ctx.work.new("probe-tail")
    for k in range(N_STREAMS):
        open(os.path.join(d, f"app-{k}.log"), "ab").close()
    reader = TailStreamReader({"path": d, "glob": "app-*.log*"})
    writer = Writer(plan, d, time.time_ns())
    writer.start()
    lat, read_rates, lines, triggers = [], [], 0, 0
    start = reader.initialOffset()
    while True:
        done = not writer.is_alive()
        time.sleep(0.1)
        with ctx.tracer.span("tail.latest_offset"):
            t0 = time.perf_counter()
            end = reader.latestOffset()
            lat.append((time.perf_counter() - t0) * 1e3)
        triggers += 1
        with ctx.tracer.span("tail.read"):
            t0 = time.perf_counter()
            rows = [row for p in reader.partitions(start, end) for row in reader.read(p)]
            dt = time.perf_counter() - t0
        if rows:
            read_rates.append(sum(len(r[0]) + 1 for r in rows) / 1e6 / dt)
        lines += len(rows)
        reader.commit(end)
        start = end
        if done:
            break
    ctx.tracer.add("generator.open_loop_writer", *writer.span)
    ctx.count(plan.n_lines, abs(plan.n_lines - lines), "tail probe lines read once")
    return {
        "tail.latest_offset_ms": median(lat),
        "tail.read_mb_s_core": median(read_rates),
        "tail.opens_per_trigger": reader.opens / triggers,
        "tail.dupes_suspected": float(read_counters(d, "app-*.log*")["reopens"]),
        "generator.late_p99_ms": pct(writer.lateness_ms(), 99),
        "generator.rotations": float(writer.rotations),
    }


def curation_direct(ctx: Ctx) -> dict[str, float]:
    """A checked ``curate_stream`` drain of two small chunks, then the
    stateless gates on one persisted batch and minhash incremental dedup
    of that batch against the signature state of the other."""
    from singer_spark.curation import CurationConfig, curate
    from singer_spark.operators.dedup import minhash_lsh_incremental, minhash_signatures

    from perfbench import curate as cur

    spark = ctx.sh.spark
    corpus = doc_corpus(ctx.work.new("probe-docs"), ctx.seed + 65_537, 2 * PROBE_DOCS, 2)
    drain = cur.StreamDrain(ctx, corpus)
    published = cur.verify(ctx, corpus, drain, cur.expected_ids(ctx, corpus))
    out = {"curation.survivor_ratio": published / corpus.n_docs,
           "curation.state_mb": cur.dir_bytes(drain.state) / 1e6,
           "curation.output_files": float(len(cur.parquet_files(drain.out)))}
    chunks = sorted(glob.glob(os.path.join(corpus.in_dir, "*.parquet")))
    old = spark.read.schema(cur.DOC_SCHEMA).parquet(chunks[0]).persist()
    new = spark.read.schema(cur.DOC_SCHEMA).parquet(chunks[1]).persist()
    seen = minhash_signatures(old, "text", "doc_id").withColumnRenamed("id", "doc_id").persist()
    new.count()
    seen.count()
    with ctx.tracer.span("curation.gates"):
        t0 = time.perf_counter()
        curate(new, CurationConfig(dedup="none")).count()
        out["curation.gates_s"] = time.perf_counter() - t0
    with ctx.tracer.span("dedup.minhash_incremental"):
        t0 = time.perf_counter()
        minhash_lsh_incremental(new.select("doc_id", "text"), seen, threshold=0.5).count()
        out["dedup.minhash_incremental_s"] = time.perf_counter() - t0
    for df in (old, new, seen):
        df.unpersist()
    return out


def scaling(ctx: Ctx, corpus, drain_s: float) -> float:
    """Audited drain of `corpus` under local[1] vs local[cores], each the
    faster of two steal-free drains (`drain_s` is one already made)."""
    if ctx.cores <= 1:
        return 1.0

    def steal_free(d: Drain) -> float:
        return d.seconds * d.share

    many = min(drain_s, steal_free(Drain(ctx, corpus)))
    warm = thrift_corpus(ctx.work.new("probe-warm"), ctx.seed + 7, 2_000)
    with ctx.tracer.span("engine.local1_baseline"):
        ctx.sh.restart(master_cores=1)
        Drain(ctx, warm)  # cold Python worker start, not timed
        one = min(steal_free(Drain(ctx, corpus)) for _ in range(2))
    return one / many


def run(ctx: Ctx, result: dict) -> dict[str, float]:
    """Per-layer values of every layer, from the probes; the workload's own
    measurements (already in its result) take precedence for the layers it
    exercises.  A workload that drains a thrift backlog passes its corpus
    and median steal-free drain time for the local[1] baseline; elsewhere
    the baseline drains the ladder's corpus (on which serial per-drain
    costs dominate, so it reads lower)."""
    out, corpus, audited_s = ladder(ctx)
    if "scaling" in result:
        corpus, audited_s = result["scaling"]
    out.update(tail_direct(ctx))
    out.update(curation_direct(ctx))
    out["engine.scaling_vs_local1"] = scaling(ctx, corpus, audited_s)
    return out

