"""backlog_thrift_kafka: closed-loop drain of a rotated framed-thrift
backlog through ``PipelineManager.run_cycle`` (reader ``thrift``, default
``crc32`` partitioner, audited ``kafka_direct`` writer).

Each timed drain reads the same corpus under a fresh checkpoint, so every
drain is an agent restart facing the whole backlog.  Throughput is
corpus bytes (or messages) over the drain's wall time; a message's latency
is its producer send time minus the drain start (every message of a
backlog is available when the drain starts).
"""

from __future__ import annotations

import shutil
import time

import numpy as np

from perfbench.common import (Ctx, engine_stats, iso_to_epoch, median, pct,
                              progress_of, setups, trace_progress)
from perfbench.env import Stopwatch, log
from perfbench.gen import ThriftCorpus, thrift_corpus
from perfbench.producer import CountingProducerFactory, Delivered, multiset_diff

NUM_PARTITIONS = 16
N_MESSAGES = 120_000
N_WARM = 5_000


def log_config(corpus: ThriftCorpus, ckpt: str, writer: str = "kafka_direct",
               audit: bool = True):
    from singer_spark.config import LogConfig, ReaderConfig, WriterConfig

    return LogConfig(
        name="backlog", log_dir=corpus.log_dir, log_stream_regex=corpus.glob,
        reader=ReaderConfig(type="thrift"),
        writer=WriterConfig(type=writer, topic="logs.backlog",
                            bootstrap_servers="bench:9092",
                            num_partitions=NUM_PARTITIONS,
                            audit_topic="audit.backlog" if audit else None),
        checkpoint_dir=ckpt)


class Drain:
    """One measured ``run_cycle`` drain and its checked delivery."""

    def __init__(self, ctx: Ctx, corpus: ThriftCorpus, audit: bool = True) -> None:
        from singer_spark.audit import AuditCollector
        from singer_spark.engine import PipelineManager

        out, ckpt = ctx.work.new("topic"), ctx.work.new("ckpt")
        mgr = PipelineManager(ctx.sh.spark, checkpoint_root=ckpt,
                              kafka_producer_factory=CountingProducerFactory(
                                  out, NUM_PARTITIONS))
        cfg = log_config(corpus, ckpt, audit=audit)
        audit_sink = AuditCollector()
        with ctx.tracer.span("engine.run_cycle", workload="backlog"):
            self.wall0, self.start_ns = time.time(), time.time_ns()
            sw = Stopwatch()
            self.perf0 = sw.t0
            self.rows = mgr.run_cycle(cfg, audit_sink=audit_sink)
            sw.stop()
            # wall seconds, and the share of the CPU time the machine wanted
            # that it got (the e2e metrics scale wall times by it; Stopwatch)
            self.seconds, self.share = sw.wall, sw.share
            self.progress = progress_of(mgr.queries[cfg.name])
            trace_progress(ctx.tracer, self.progress, self.wall0, self.perf0)
        d = Delivered(out)
        self.stat = d.stat
        lost, dup = multiset_diff(np.asarray(corpus.ids, dtype=np.uint64), d.ids)
        bad = d.stat["bad_partition"]
        audit_total = audit_sink.total("audit.backlog") if audit else len(d.ids)
        ctx.check(audit_total == len(d.ids),
                  f"backlog: audit total {audit_total} != delivered {len(d.ids)}")
        ctx.check(bad == 0, f"backlog: {bad} messages on the wrong partition")
        ctx.count(corpus.n_messages, lost + dup, "backlog delivery")
        self.delivered = len(d.ids)
        lat = (d.sent_ns - self.start_ns) / 1e6
        self.p50_ms, self.p99_ms = pct(lat, 50), pct(lat, 99)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def setup_once(ctx: Ctx, warm: ThriftCorpus) -> float:
    """Set up a pipeline and drain a small warm-up backlog under a fresh
    checkpoint (see :func:`perfbench.common.setups`)."""
    sw = Stopwatch()
    Drain(ctx, warm)
    return sw.stop()


def run(ctx: Ctx) -> dict:
    warm = thrift_corpus(ctx.work.new("warm"), ctx.seed + 7_919, N_WARM)
    corpus = thrift_corpus(ctx.work.new("backlog"), ctx.seed, N_MESSAGES)
    setup_s, session_s = setups(ctx, lambda: setup_once(ctx, warm))
    # one untimed drain of the full backlog: the first drain of this size
    # runs ~15% slow (JIT, worker buffers) and would skew a short run
    with ctx.tracer.span("backlog.warm_drain"):
        Drain(ctx, corpus)
    drains: list[Drain] = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or len(drains) < 3:
        drains.append(Drain(ctx, corpus))
    secs = [d.seconds * d.share for d in drains]
    log("backlog drains, wall/steal-free s: "
        + " ".join(f"{d.seconds:.2f}/{s:.2f}" for d, s in zip(drains, secs)))
    e2e = {
        "throughput_mb_s": median(corpus.bytes_on_disk / 1e6 / s for s in secs),
        "throughput_records_s": median(corpus.n_messages / s for s in secs),
        "latency_p50_ms": median(d.p50_ms * d.share for d in drains),
        "latency_p99_ms": median(d.p99_ms * d.share for d in drains),
        "setup_s": setup_s,
        "peak_rss_mb": ctx.sh.peak_rss_mb(),
    }
    layer = engine_stats([p for d in drains for p in d.progress])
    layer["engine.query_start_s"] = median(
        _first_trigger_delay(d) for d in drains)
    layer["session.start_s"] = session_s
    layer["host.steal_pct"] = median(100.0 * (1.0 - d.share) for d in drains)
    st = [d.stat for d in drains]
    layer.update({
        "sources.messages_out": float(median(d.delivered for d in drains)),
        "sources.run_cycle_rows": float(drains[-1].rows),
        "sinks.producer_send_s": median(s["send_s"] for s in st),
        "sinks.sends": float(median(s["sends"] for s in st)),
        "sinks.flushes": float(median(s["flushes"] for s in st)),
        "sinks.msgs_per_flush": median(s["sends"] / max(s["flushes"], 1) for s in st),
    })
    return {"e2e": e2e, "layer": layer, "scaling": (corpus, median(secs))}


def _first_trigger_delay(d: Drain) -> float:
    if not d.progress:
        return d.seconds
    return max(iso_to_epoch(d.progress[0]["timestamp"]) - d.wall0, 0.0)
