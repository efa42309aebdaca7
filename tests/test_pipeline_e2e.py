"""End-to-end pipeline tests — models the reference's e2e suite
(SingerEndToEndTest: write N messages as rotating files, run the agent,
assert audit count == N; SingerRestartTest: crash/resume correctness).

Kafka isn't available in this container, so delivery targets the file/
memory sinks; the Kafka sink shares the same upstream plan."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from singer_spark.audit import AuditCollector
from singer_spark.config import LogConfig, ReaderConfig, WriterConfig
from singer_spark.engine import PipelineManager, build_source, build_transforms
from singer_spark.framing import encode_log_messages
from singer_spark.sources import text_batch, thrift_batch


def write_rotated_text_logs(log_dir: str, n_files: int = 3, lines_per_file: int = 40) -> int:
    os.makedirs(log_dir, exist_ok=True)
    total = 0
    for i in range(n_files):
        # rotation naming like the reference: app.log, app.log.1, ...
        name = "app.log" if i == n_files - 1 else f"app.log.{n_files - 1 - i}"
        with open(os.path.join(log_dir, name), "w") as f:
            for j in range(lines_per_file):
                f.write(f"msg file={i} seq={j}\n")
                total += 1
    return total


def write_thrift_log(log_dir: str, n: int = 25) -> int:
    os.makedirs(log_dir, exist_ok=True)
    msgs = [(f"payload-{i}".encode(), str(i).encode(), i * 1000, None, ) for i in range(n)]
    # encode_log_messages takes (message, key, ts, checksum) tuples
    blob = encode_log_messages([(m, k, t, c) for (m, k, t, c) in msgs])
    with open(os.path.join(log_dir, "thrift.log"), "wb") as f:
        f.write(blob)
    return n


def test_text_batch_reads_all_rotated_files(spark, tmp_path):
    log_dir = str(tmp_path / "logs")
    total = write_rotated_text_logs(log_dir)
    df = text_batch(spark, log_dir, glob="app.log*")
    assert df.count() == total
    assert df.filter(F.col("file").contains("app.log")).count() == total


def test_thrift_batch_decodes_logmessages(spark, tmp_path):
    log_dir = str(tmp_path / "tlogs")
    n = write_thrift_log(log_dir)
    df = thrift_batch(spark, log_dir, glob="*.log")
    rows = df.orderBy("offset").collect()
    assert len(rows) == n
    assert bytes(rows[0].value) == b"payload-0"
    assert bytes(rows[0].key) == b"0"
    assert rows[0].timestampInNanos == 0
    assert rows[5].timestampInNanos == 5000


@pytest.mark.soak
def test_streaming_file_to_parquet_with_audit(spark, tmp_path):
    """One full 'SingerLog': text stream → transforms → audited file sink."""
    log_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    total = write_rotated_text_logs(log_dir, n_files=2, lines_per_file=30)

    cfg = LogConfig(
        name="e2e_text",
        log_dir=log_dir,
        log_stream_regex="app.log*",
        reader=ReaderConfig(type="text", filter_message_regex="seq="),
        writer=WriterConfig(type="file", path=out_dir, format="parquet",
                            audit_topic="audit.e2e_text"),
        checkpoint_dir=ckpt,
    )
    audit = AuditCollector()
    mgr = PipelineManager(spark)
    query = mgr.start_log(cfg, audit_sink=audit)
    query.processAllAvailable()
    mgr.drain()

    delivered = spark.read.parquet(out_dir)
    assert delivered.count() == total
    # the reference's e2e oracle: audit count == messages written
    assert audit.total("audit.e2e_text") == total


@pytest.mark.soak
def test_streaming_resume_from_checkpoint(spark, tmp_path):
    """SingerRestartTest parity: stop, add data, restart from checkpoint —
    every message delivered exactly once at file granularity."""
    log_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(log_dir)

    def start():
        cfg = LogConfig(name="resume", log_dir=log_dir, log_stream_regex="*.log",
                        writer=WriterConfig(type="file", path=out_dir, format="parquet"),
                        checkpoint_dir=ckpt)
        return PipelineManager(spark), cfg

    with open(f"{log_dir}/a.log", "w") as f:
        f.writelines(f"first {i}\n" for i in range(20))
    mgr, cfg = start()
    q = mgr.start_log(cfg)
    q.processAllAvailable()
    mgr.stop_all()

    # "rotation": a new file appears while the agent is down
    with open(f"{log_dir}/b.log", "w") as f:
        f.writelines(f"second {i}\n" for i in range(15))
    mgr, cfg = start()
    q = mgr.start_log(cfg)
    q.processAllAvailable()
    mgr.stop_all()

    out = spark.read.parquet(out_dir)
    assert out.count() == 35  # no loss, no duplication
    assert out.filter(F.col("value").startswith("second")).count() == 15


def test_multiline_framing_stream(spark, tmp_path):
    log_dir = str(tmp_path / "ml")
    os.makedirs(log_dir)
    with open(f"{log_dir}/app.log", "w") as f:
        f.write("2024-01-01 ERROR a\n  stack1\n  stack2\n2024-01-02 INFO b\n")
    cfg = LogConfig(
        name="ml", log_dir=log_dir, log_stream_regex="*.log",
        reader=ReaderConfig(type="text", message_start_regex=r"^\d{4}-\d{2}-\d{2} "),
        writer=WriterConfig(type="memory"),
    )
    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg)
    q.processAllAvailable()
    rows = spark.sql("select * from ml").collect()
    mgr.stop_all()
    assert len(rows) == 2
    assert "stack1" in rows[0].value and "stack2" in rows[0].value


def test_build_transforms_adds_partition_column(spark, tmp_path):
    log_dir = str(tmp_path / "pt")
    write_rotated_text_logs(log_dir, n_files=1, lines_per_file=10)
    cfg = LogConfig(name="pt", log_dir=log_dir, log_stream_regex="*",
                    writer=WriterConfig(type="kafka", topic="t", partitioner="crc32",
                                        num_partitions=8))
    df = build_transforms(build_source(spark, cfg, streaming=False), cfg)
    parts = [r.partition for r in df.select("partition").collect()]
    assert parts and all(0 <= p < 8 for p in parts)


def test_instance_decider_gates_start(spark, tmp_path):
    from singer_spark.config import SingerConfig

    log_dir = str(tmp_path / "dec")
    write_rotated_text_logs(log_dir, n_files=1, lines_per_file=5)
    cfg = LogConfig(name="gated", log_dir=log_dir, log_stream_regex="*",
                    writer=WriterConfig(type="noop"),
                    checkpoint_dir=str(tmp_path / "ck"))
    mgr = PipelineManager(spark, SingerConfig(instance_sample_percent=0))
    assert mgr.start_log(cfg) is None  # decider off → query not started


def test_max_bytes_per_trigger_bounds_batches(spark, tmp_path):
    """B1 byte-denominated batch cap: 4×10 KB files with a 15 KB cap must
    process as multiple micro-batches, never one 40 KB gulp."""
    import json

    from singer_spark.sources import text_stream

    d = str(tmp_path / "mbt")
    os.makedirs(d)
    for i in range(4):
        with open(f"{d}/f{i}.log", "w") as fh:
            fh.write(("x" * 99 + "\n") * 100)
    q = (text_stream(spark, d, max_bytes_per_trigger=15_000)
         .writeStream.format("memory").queryName("mbt_out")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batches = [json.loads(p) if isinstance(p, str) else p for p in q.recentProgress]
    sizes = [b.get("numInputRows") for b in batches if b.get("numInputRows")]
    assert sum(sizes) == 400
    assert len(sizes) >= 3 and max(sizes) < 400
