"""curate_stream_docs: closed-loop drain of parquet document chunks through
``curation.curate_stream`` (minhash cross-batch dedup state, one file per
trigger, availableNow).

The corpus holds planted exact and one-token near copies of earlier
documents.  The check: the published documents equal the batch
``curate(dedup="none")`` survivors of the whole corpus minus the planted
copies whose original survived, with no repeated ``doc_id``.  A document's
latency is the end of the micro-batch that published it minus the drain
start (the whole corpus is available when the drain starts).
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np

from perfbench.common import (Ctx, engine_stats, iso_to_epoch, median, pct,
                              progress_of, setups, trace_progress)
from perfbench.env import Stopwatch
from perfbench.gen import DocCorpus, doc_corpus

N_DOCS = 400
N_CHUNKS = 2
DOC_SCHEMA = "doc_id bigint, text string, source string"


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*"),
                                                      recursive=True)
               if os.path.isfile(p))


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


class StreamDrain:
    """One ``curate_stream`` drain of a corpus under fresh state."""

    def __init__(self, ctx: Ctx, corpus: DocCorpus) -> None:
        from singer_spark.curation import CurationConfig, curate_stream

        spark = ctx.sh.spark
        self.ckpt, self.state = ctx.work.new("ckpt"), ctx.work.new("state")
        self.out = ctx.work.new("published")
        os.rmdir(self.state)
        os.rmdir(self.out)
        stream = (spark.readStream.schema(DOC_SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(corpus.in_dir))
        with ctx.tracer.span("curation.curate_stream", workload="curate"):
            self.wall0 = time.time()
            sw = Stopwatch()
            self.perf0 = sw.t0
            q = (curate_stream(stream, self.ckpt, self.state, self.out,
                               CurationConfig(), stream_dedup="minhash")
                 .trigger(availableNow=True).start())
            self.start_s = time.perf_counter() - self.perf0
            q.awaitTermination()
            sw.stop()
            self.seconds, self.share = sw.wall, sw.share
            self.progress = progress_of(q)
            trace_progress(ctx.tracer, self.progress, self.wall0, self.perf0)
        ctx.check(q.exception() is None, f"curate: query failed ({q.exception()})")
        # one chunk per data batch, in chunk order; numInputRows is no doc
        # count here (foreachBatch runs several actions per batch)
        data = [p for p in self.progress if (p.get("numInputRows") or 0) > 0]
        sizes = corpus.chunk_sizes
        lat = []
        for p, rows in zip(data, sizes):
            end = iso_to_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
            lat.append(np.full(rows, (end - self.wall0) * 1e3))
        self.lat_ms = np.concatenate(lat) if lat else np.zeros(0)
        self.data_batches = len(data)


def published_ids(out: str) -> np.ndarray:
    import pyarrow.parquet as pq

    parts = [pq.read_table(p, columns=["doc_id"]).column(0).to_numpy()
             for p in parquet_files(out)]
    return np.concatenate(parts) if parts else np.zeros(0, np.int64)


def expected_ids(ctx: Ctx, corpus: DocCorpus) -> np.ndarray:
    """Batch curate(dedup="none") survivors minus planted copies whose
    original also survived (a copy of a gated-out doc is gated out too,
    or — for a near copy — was never a duplicate of anything published)."""
    from singer_spark.curation import CurationConfig, curate

    docs = ctx.sh.spark.read.schema(DOC_SCHEMA).parquet(corpus.in_dir)
    with ctx.tracer.span("curation.batch_reference"):
        surv = {r[0] for r in curate(docs, CurationConfig(dedup="none"))
                .select("doc_id").collect()}
    drop = {c for c, src in corpus.copies.items() if src in surv}
    return np.array(sorted(surv - drop), dtype=np.int64)


def verify(ctx: Ctx, corpus: DocCorpus, drain: StreamDrain, want: np.ndarray) -> int:
    got = published_ids(drain.out)
    uniq, counts = np.unique(got, return_counts=True)
    repeated = int((counts > 1).sum())
    lost = int(np.setdiff1d(want, uniq).size)
    extra = int(np.setdiff1d(uniq, want).size)
    ctx.check(drain.data_batches == corpus.n_chunks,
              f"curate: {drain.data_batches} data batches for {corpus.n_chunks} chunks")
    ctx.count(corpus.n_docs, lost + extra + repeated,
              f"curate output (lost {lost}, extra {extra}, repeated {repeated})")
    return len(got)


def setup_once(ctx: Ctx, warm: DocCorpus) -> float:
    """Start a curation stream under fresh state and drain a one-chunk
    warm-up corpus (see :func:`perfbench.common.setups`)."""
    sw = Stopwatch()
    d = StreamDrain(ctx, warm)
    dt = sw.stop()
    ctx.check(d.data_batches == warm.n_chunks, "curate: warm-up drain incomplete")
    for p in (d.ckpt, d.state, d.out):
        shutil.rmtree(p, ignore_errors=True)
    return dt


def run(ctx: Ctx) -> dict:
    warm = doc_corpus(ctx.work.new("warm-docs"), ctx.seed + 15_485_863, 20, 1)
    corpus = doc_corpus(ctx.work.new("docs"), ctx.seed, N_DOCS, N_CHUNKS)
    setup_s, session_s = setups(ctx, lambda: setup_once(ctx, warm))
    drains: list[StreamDrain] = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end or not drains:
        d = StreamDrain(ctx, corpus)
        drains.append(d)
    want = expected_ids(ctx, corpus)
    n_out = [verify(ctx, corpus, d, want) for d in drains]
    last = drains[-1]
    secs = [d.seconds * d.share for d in drains]   # steal-free, as on backlog
    e2e = {
        "throughput_mb_s": median(corpus.bytes_on_disk / 1e6 / s for s in secs),
        "throughput_records_s": median(corpus.n_docs / s for s in secs),
        "latency_p50_ms": median(pct(d.lat_ms, 50) * d.share for d in drains),
        "latency_p99_ms": median(pct(d.lat_ms, 99) * d.share for d in drains),
        "setup_s": setup_s,
        "peak_rss_mb": ctx.sh.peak_rss_mb(),
    }
    layer = engine_stats([p for d in drains for p in d.progress])
    layer["engine.query_start_s"] = median(d.start_s for d in drains)
    layer["session.start_s"] = session_s
    layer["host.steal_pct"] = median(100.0 * (1.0 - d.share) for d in drains)
    layer.update({
        "curation.survivor_ratio": n_out[-1] / corpus.n_docs,
        "curation.state_mb": dir_bytes(last.state) / 1e6,
        "curation.output_files": float(len(parquet_files(last.out))),
    })
    for d in drains:
        for p in (d.ckpt, d.state, d.out):
            shutil.rmtree(p, ignore_errors=True)
    return {"e2e": e2e, "layer": layer}
