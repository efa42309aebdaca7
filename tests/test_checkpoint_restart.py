"""Restart of a tail (and a framed-thrift backlog) → kafka_direct query
under the checkpoint file system `session.get_spark` picks for `file:`
checkpoints (Hadoop's RawLocalFs: no `.crc` side files).  Each check
counts delivered messages at the producer and the audit total against
what was written: nothing lost, nothing delivered twice except the replay
of an uncommitted batch."""

from __future__ import annotations

import os
from collections import Counter

from singer_spark.audit import AuditCollector
from singer_spark.config import LogConfig, ReaderConfig, WriterConfig
from singer_spark.engine import PipelineManager
from singer_spark.framing import encode_log_message
from tests.test_kafka_sink import _read_delivered, make_fake_producer_factory

FS_KEY = "fs.AbstractFileSystem.file.impl"


def _append_lines(log_dir: str, tag: str, n_files: int = 4, n: int = 25) -> list[str]:
    lines = []
    for k in range(n_files):
        batch = [f"{tag}-{k}-{i:03d}" for i in range(n)]
        with open(os.path.join(log_dir, f"app-{k}.log"), "a") as f:
            f.write("".join(x + "\n" for x in batch))
        lines += batch
    return lines


def _write_thrift_files(log_dir: str, tag: str, n_files: int = 4,
                        n: int = 25) -> list[str]:
    """New framed-thrift files: the `thrift` reader (`binaryFile`) reads a
    file once, when it is first listed, so every round writes new ones."""
    msgs = []
    for k in range(n_files):
        batch = [f"{tag}-{k}-{i:03d}" for i in range(n)]
        with open(os.path.join(log_dir, f"{tag}-{k}.log"), "wb") as f:
            f.write(b"".join(encode_log_message(m.encode(), key=m.encode())
                             for m in batch))
        msgs += batch
    return msgs


def _setup(tmp_path, reader: str = "tail"):
    log_dir, out_dir = str(tmp_path / "logs"), str(tmp_path / "topic")
    os.makedirs(log_dir)
    os.makedirs(out_dir)
    ckpt = str(tmp_path / "ckpt")
    cfg = LogConfig(
        name="ckpt_restart", log_dir=log_dir, log_stream_regex="*.log",
        reader=ReaderConfig(type=reader),
        writer=WriterConfig(type="kafka_direct", topic="logs.app",
                            bootstrap_servers="broker:9092",
                            audit_topic="audit.restart"),
        checkpoint_dir=ckpt)
    return log_dir, out_dir, ckpt, cfg


def _crc_files(ckpt: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), ckpt)
                  for d, _, files in os.walk(ckpt) for f in files if f.endswith(".crc"))


def _run_cycle(spark, cfg, out_dir, audit) -> int:
    mgr = PipelineManager(spark, kafka_producer_factory=make_fake_producer_factory(out_dir))
    return mgr.run_cycle(cfg, audit_sink=audit)


def test_new_checkpoint_has_no_crc_files(spark, tmp_path):
    log_dir, out_dir, ckpt, cfg = _setup(tmp_path)
    lines = _append_lines(log_dir, "a")
    audit = AuditCollector()
    assert _run_cycle(spark, cfg, out_dir, audit) == len(lines)
    assert os.path.exists(os.path.join(ckpt, "offsets", "0"))
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert _crc_files(ckpt) == []


def test_checkpoint_written_with_crc_files_resumes_without_them(spark, tmp_path):
    """A checkpoint written under the checksummed LocalFs (with its `.crc`
    files) resumes under RawLocalFs: every line exactly once, and the
    batches after the restart write no side files."""
    log_dir, out_dir, ckpt, cfg = _setup(tmp_path)
    audit = AuditCollector()
    first = _append_lines(log_dir, "a")
    spark.conf.set(FS_KEY, "org.apache.hadoop.fs.local.LocalFs")
    try:
        assert _run_cycle(spark, cfg, out_dir, audit) == len(first)
    finally:
        spark.conf.unset(FS_KEY)
    before = _crc_files(ckpt)
    assert os.path.join("offsets", ".0.crc") in before
    assert os.path.join("commits", ".0.crc") in before

    second = _append_lines(log_dir, "b")
    assert _run_cycle(spark, cfg, out_dir, audit) == len(second)
    assert os.path.exists(os.path.join(ckpt, "commits", "1"))
    assert _crc_files(ckpt) == before  # batch 1 wrote no side files
    delivered = [r["value"] for r in _read_delivered(out_dir)]
    assert Counter(delivered) == Counter(first + second)
    assert audit.total("audit.restart") == len(delivered)


def _check_uncommitted_batch_replays(spark, tmp_path, reader: str) -> None:
    """A crash between the offset write and the commit (the last
    `commits/N` is missing): the restarted cycle replays batch N over the
    same range, then drains what arrived since in the same cycle, and the
    next cycle finds nothing.  Nothing is lost; the only duplicates are
    batch N's own rows; the audit counts every delivery.  The checks are
    on delivered messages: `run_cycle` counts files for `thrift`."""
    write = _write_thrift_files if reader == "thrift" else _append_lines
    log_dir, out_dir, ckpt, cfg = _setup(tmp_path, reader)
    audit = AuditCollector()
    first = write(log_dir, "a")
    rows = _run_cycle(spark, cfg, out_dir, audit)
    if reader == "tail":
        assert rows == len(first)
    assert Counter(r["value"] for r in _read_delivered(out_dir)) \
        == Counter(first)
    for name in ("0", ".0.crc"):  # a stale `.crc` would fail the new commit
        if os.path.exists(os.path.join(ckpt, "commits", name)):
            os.remove(os.path.join(ckpt, "commits", name))

    second = write(log_dir, "b")
    rows = _run_cycle(spark, cfg, out_dir, audit)
    if reader == "tail":
        assert rows == len(first) + len(second)
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert _run_cycle(spark, cfg, out_dir, audit) == 0
    delivered = Counter(r["value"] for r in _read_delivered(out_dir))
    assert delivered - Counter(first + second) == Counter(first)  # the replay
    assert not Counter(first + second) - delivered  # nothing lost
    assert audit.total("audit.restart") == sum(delivered.values())


def test_uncommitted_batch_replays_the_same_rows(spark, tmp_path):
    _check_uncommitted_batch_replays(spark, tmp_path, "tail")


def test_uncommitted_thrift_backlog_batch_replays_the_same_rows(spark,
                                                                tmp_path):
    _check_uncommitted_batch_replays(spark, tmp_path, "thrift")
