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
from singer_spark.engine import PipelineManager, build_transforms
from singer_spark.framing import decode_thrift_blobs, encode_log_messages


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


def test_text_drain_reads_all_rotated_files(spark, tmp_path):
    log_dir = str(tmp_path / "logs")
    total = write_rotated_text_logs(log_dir)
    cfg = LogConfig(name="rotated_drain", log_dir=log_dir, log_stream_regex="app.log*",
                    writer=WriterConfig(type="memory"),
                    checkpoint_dir=str(tmp_path / "ck"))
    assert PipelineManager(spark).run_cycle(cfg) == total
    df = spark.table("rotated_drain")
    assert df.count() == total
    assert df.filter(F.col("path").contains("app.log")).count() == total


def test_decode_thrift_blobs_decodes_logmessages(spark, tmp_path):
    log_dir = str(tmp_path / "tlogs")
    n = write_thrift_log(log_dir)
    df = decode_thrift_blobs(
        spark.read.format("binaryFile").option("pathGlobFilter", "*.log").load(log_dir))
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
    """message_start_regex frames multi-line messages on the tail reader:
    growth, rename rotation and a restart on the same checkpoint deliver
    every message exactly once and whole."""
    log_dir = str(tmp_path / "ml")
    out_dir = str(tmp_path / "out")
    os.makedirs(log_dir)
    cfg = LogConfig(
        name="ml", log_dir=log_dir, log_stream_regex="app.log*",
        reader=ReaderConfig(type="text", message_start_regex=r"^\d{4}-\d{2}-\d{2} "),
        writer=WriterConfig(type="file", path=out_dir, format="parquet",
                            min_upload_seconds=0),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    msgs = {
        "a": "2024-01-01 ERROR a\n  stack1\n  stack2",
        "b": "2024-01-02 ERROR b\n  at b.1",
        "c": "2024-01-03 INFO c",
        "d": "2024-01-04 WARN d\n  at d.1",
        "e": "2024-01-05 INFO e",
    }
    app_log = f"{log_dir}/app.log"

    def write(*names: str) -> None:
        _append(app_log, "".join(msgs[n] + "\n" for n in names))

    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg)
    try:
        write("a")
        q.processAllAvailable()
        write("b", "c")
        q.processAllAvailable()
        os.rename(app_log, f"{log_dir}/app.log.1")
        write("d")
        q.processAllAvailable()
    finally:
        mgr.stop_all()
    write("e")
    mgr = PipelineManager(spark)
    try:
        mgr.start_log(cfg).processAllAvailable()
    finally:
        mgr.stop_all()
    got = sorted(r.value for r in spark.read.parquet(out_dir).collect())
    assert got == sorted(msgs.values())


def test_build_transforms_adds_partition_column(spark, tmp_path):
    log_dir = str(tmp_path / "pt")
    write_rotated_text_logs(log_dir, n_files=1, lines_per_file=10)
    cfg = LogConfig(name="pt", log_dir=log_dir, log_stream_regex="*",
                    writer=WriterConfig(type="kafka", topic="t", partitioner="crc32",
                                        num_partitions=8))
    df = build_transforms(spark.read.text(log_dir), cfg)
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
    """B1 byte-denominated batch cap: a 40 KB file with a 15 KB cap must
    process as multiple micro-batches, never one 40 KB gulp."""
    import json

    from singer_spark.streaming.tail import tail_stream

    d = str(tmp_path / "mbt")
    os.makedirs(d)
    with open(f"{d}/f.log", "w") as fh:
        fh.write(("x" * 99 + "\n") * 400)
    q = (tail_stream(spark, d, max_bytes_per_trigger=15_000)
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


def _append(path: str, data: str) -> None:
    with open(path, "a") as f:
        f.write(data)


def _file_log(tmp_path, name: str, **writer_kwargs) -> LogConfig:
    log_dir = str(tmp_path / f"{name}_in")
    os.makedirs(log_dir, exist_ok=True)
    return LogConfig(name=name, log_dir=log_dir, log_stream_regex="*.log",
                     reader=ReaderConfig(type="text"),
                     writer=WriterConfig(type="file", path=str(tmp_path / f"{name}_out"),
                                         format="parquet", min_upload_seconds=0,
                                         **writer_kwargs),
                     checkpoint_dir=str(tmp_path / f"{name}_ck"))


def _kib_lines(tag: str, n: int) -> str:
    return "".join(f"{tag}{i:05d}".ljust(1024, "x") + "\n" for i in range(n))


def test_unaudited_file_log_rolls_over_by_bytes(spark, tmp_path):
    """writer.maxFileSizeMB takes effect on a plain (unaudited, uncapped)
    file log: each micro-batch of 100 ~1 KiB lines rolls over at ~10 KiB,
    the first measured before its write, the second sized from the bytes
    per row the first batch's write observed."""
    cfg = _file_log(tmp_path, "rolled", max_file_size_mb=0.01)
    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg)
    try:
        for tag in ("a", "b"):
            _append(f"{cfg.log_dir}/app.log", _kib_lines(tag, 100))
            q.processAllAvailable()
    finally:
        mgr.stop_all()
    out = cfg.writer.path
    assert len(glob.glob(f"{out}/batch=0/part-*")) >= 5
    assert len(glob.glob(f"{out}/batch=1/part-*")) >= 5
    assert spark.read.parquet(out).count() == 200


def _jobs(spark, query) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


def test_file_log_rollover_estimate_survives_run_cycle_restarts(spark, tmp_path):
    """Each run_cycle starts a new query, and its one availableNow batch
    is still rolled over at maxFileSizeMB: the first cycle measures the
    bytes per row before its write (from a cache, so its row count stays
    exact), the second reuses what the first cycle's write observed and
    costs one Spark job."""
    cfg = _file_log(tmp_path, "cycled", audit_topic="audit.cycled",
                    max_file_size_mb=0.01)
    audit = AuditCollector()
    mgr = PipelineManager(spark)
    jobs = []
    for tag in ("a", "b"):
        _append(f"{cfg.log_dir}/app.log", _kib_lines(tag, 100))
        assert mgr.run_cycle(cfg, audit_sink=audit) == 100
        jobs.append(_jobs(spark, mgr.queries[cfg.name]))
    assert jobs[1] == 1 < jobs[0]
    out = cfg.writer.path
    assert len(glob.glob(f"{out}/batch=0/part-*")) >= 5
    assert len(glob.glob(f"{out}/batch=1/part-*")) >= 5
    assert audit.total("audit.cycled") == 200


def test_audited_file_log_runs_one_spark_job_per_micro_batch(spark, tmp_path):
    """An audited file micro-batch is one write job: the audit count and
    the next batch's bytes/row come from the write's own Observation, not
    from a count or size-estimate job over the batch.  The first batch
    written to the path is measured before its write, so the count starts
    after it."""
    cfg = _file_log(tmp_path, "jobs", audit_topic="audit.jobs")
    audit = AuditCollector()
    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg, audit_sink=audit)
    counts = []
    try:
        for tag in ("a", "b", "c"):
            _append(f"{cfg.log_dir}/app.log", _kib_lines(tag, 20))
            q.processAllAvailable()
            counts.append((_jobs(spark, q),
                           sum(p.numInputRows > 0 for p in q.recentProgress)))
    finally:
        mgr.stop_all()
    (jobs0, batches0), (jobs, batches) = counts[0], counts[-1]
    assert batches - batches0 >= 2
    assert jobs - jobs0 == batches - batches0
    assert audit.total("audit.jobs") == 60
    assert spark.read.parquet(cfg.writer.path).count() == 60


def test_file_log_refuses_a_spark_file_sink_path(spark, tmp_path):
    """A path that holds Spark's file-sink log (_spark_metadata) is refused
    at start: Spark readers would follow that log and never list the
    batch=<id> dirs this writer adds."""
    cfg = _file_log(tmp_path, "legacy")
    os.makedirs(f"{cfg.writer.path}/_spark_metadata")
    _append(f"{cfg.writer.path}/_spark_metadata/0", "v1\n")
    _append(f"{cfg.log_dir}/app.log", "m\n")
    with pytest.raises(ValueError, match="_spark_metadata"):
        PipelineManager(spark).start_log(cfg)
    assert os.listdir(cfg.writer.path) == ["_spark_metadata"]


def test_text_reader_delivers_growth_and_rename_rotation_once(spark, tmp_path):
    """reader.type=text tails: lines appended to a file already read are
    delivered, and a rename rotation (app.log -> app.log.1 plus a new
    app.log) delivers the rotated file's new lines and the new file's
    lines — every line exactly once."""
    log_dir = str(tmp_path / "in")
    os.makedirs(log_dir)
    cfg = LogConfig(name="text_rotation", log_dir=log_dir, log_stream_regex="app.log*",
                    reader=ReaderConfig(type="text"),
                    writer=WriterConfig(type="memory"),
                    checkpoint_dir=str(tmp_path / "ck"))
    mgr = PipelineManager(spark)
    _append(f"{log_dir}/app.log", "a1\na2\n")
    q = mgr.start_log(cfg)
    try:
        q.processAllAvailable()
        _append(f"{log_dir}/app.log", "a3\n")
        q.processAllAvailable()
        _append(f"{log_dir}/app.log", "a4\n")
        os.rename(f"{log_dir}/app.log", f"{log_dir}/app.log.1")
        _append(f"{log_dir}/app.log", "b1\nb2\n")
        q.processAllAvailable()
        got = sorted(r.value for r in spark.table("text_rotation").collect())
    finally:
        mgr.stop_all()
    assert got == ["a1", "a2", "a3", "a4", "b1", "b2"]


def test_text_reader_refuses_a_spark_file_source_checkpoint(spark, tmp_path):
    """A checkpoint written by Spark's text file source holds
    {"logOffset": N}, not per-inode offsets; resuming it under the tail
    reader must fail with an error naming the fix, delivering nothing,
    instead of re-reading every retained file from offset 0."""
    from pyspark.errors import StreamingQueryException

    log_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    os.makedirs(log_dir)
    _append(f"{log_dir}/app.log", "old1\nold2\n")
    old = (spark.readStream.format("text").load(log_dir)
           .writeStream.format("noop").option("checkpointLocation", ckpt)
           .trigger(availableNow=True).start())
    old.awaitTermination()
    _append(f"{log_dir}/app.log", "new1\n")
    cfg = LogConfig(name="migrated", log_dir=log_dir, log_stream_regex="*.log",
                    reader=ReaderConfig(type="text"),
                    writer=WriterConfig(type="file", path=out, format="parquet",
                                        min_upload_seconds=0),
                    checkpoint_dir=ckpt)
    with pytest.raises(StreamingQueryException, match="fresh checkpoint"):
        PipelineManager(spark).run_cycle(cfg)
    assert not glob.glob(f"{out}/**/*.parquet", recursive=True)


def test_prepend_timestamp_prefixes_the_read_time(spark, tmp_path):
    """reader.prepend_timestamp prepends the read time, then the delimiter
    (T3)."""
    import re

    cfg = LogConfig(name="ts", log_dir=str(tmp_path),
                    reader=ReaderConfig(prepend_timestamp=True),
                    writer=WriterConfig(type="noop"))
    df = spark.createDataFrame([("hello",)], "value string")
    (value,) = build_transforms(df, cfg).first()
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2} hello", value), value
