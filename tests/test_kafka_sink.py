"""Kafka direct sink (W1/W3 twin) tests with a protocol-level fake producer
— models the reference's SingerEndToEndTest (write N framed-thrift messages
as log files, run the agent, assert delivered == N and audit count == N;
SingerEndToEndTest.java:26-118) plus key/value/headers/partition routing
checks, without a broker (no Kafka in this container)."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from singer_spark.audit import AuditCollector
from singer_spark.config import LogConfig, ReaderConfig, WriterConfig
from singer_spark.engine import PipelineManager
from singer_spark.sinks import foreach_batch_sink, kafka_write_batch
from tests.test_pipeline_e2e import write_thrift_log


def make_fake_producer_factory(out_dir: str, fail: bool = False):
    """Picklable-by-value fake implementing the kafka-python producer
    protocol: send(topic, value=, key=, headers=, partition=) -> future,
    flush().  Delivered records append as JSON lines on flush — only
    flushed messages are visible (protocol check)."""

    class FakeFuture:
        def __init__(self, ok: bool):
            self._ok = ok
            self.exception = None if ok else "NotLeaderForPartition"

        def failed(self) -> bool:
            return not self._ok

    class FakeProducer:
        def __init__(self):
            self.pending = []

        def send(self, topic, value=None, key=None, headers=None, partition=None):
            self.pending.append({
                "topic": topic,
                "key": key.decode("utf-8") if key is not None else None,
                "value": value.decode("utf-8"),
                "headers": {k: v.decode("utf-8") for k, v in (headers or [])},
                "partition": partition,
            })
            return FakeFuture(ok=not fail)

        def flush(self):
            path = os.path.join(out_dir, f"flush-{uuid.uuid4().hex}.jsonl")
            with open(path, "w") as f:
                for rec in self.pending:
                    f.write(json.dumps(rec) + "\n")

        def close(self):
            pass

    def factory(bootstrap_servers: str, configs: dict) -> FakeProducer:
        assert bootstrap_servers
        return FakeProducer()

    return factory


def _read_delivered(out_dir: str) -> list[dict]:
    rows = []
    for path in glob.glob(os.path.join(out_dir, "flush-*.jsonl")):
        with open(path) as f:
            rows.extend(json.loads(line) for line in f)
    return rows


def test_kafka_write_batch_routes_key_value_headers_partition(spark, tmp_path):
    out_dir = str(tmp_path / "kafka_out")
    os.makedirs(out_dir)
    df = spark.range(20).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("payload-"), F.col("id")).alias("value"),
        F.create_map(F.lit("hostname"), F.lit("host-01").cast("binary")).alias("headers"),
        (F.col("id") % 4).cast("int").alias("partition"),
    )
    sent = kafka_write_batch(df, "broker:9092", "topic-a",
                             producer_factory=make_fake_producer_factory(out_dir))
    delivered = _read_delivered(out_dir)
    assert sent == len(delivered) == 20
    rec = next(r for r in delivered if r["key"] == "7")
    assert rec == {"topic": "topic-a", "key": "7", "value": "payload-7",
                   "headers": {"hostname": "host-01"}, "partition": 3}


def test_kafka_failed_sends_fail_the_task(spark, tmp_path):
    out_dir = str(tmp_path / "kafka_fail")
    os.makedirs(out_dir)
    df = spark.range(3).select(F.col("id").cast("string").alias("value")).coalesce(1)
    with pytest.raises(Exception) as exc_info:
        kafka_write_batch(df, "broker:9092", "t",
                          producer_factory=make_fake_producer_factory(out_dir, fail=True))
    assert "sends failed" in str(exc_info.value)


def test_kafka_e2e_thrift_logs_to_topic_with_audit(spark, tmp_path):
    """The SingerEndToEndTest shape: N framed-thrift messages on disk →
    engine pipeline (decode → transforms → partitioner → kafka sink) →
    every message lands with its key/partition and audit count == N."""
    log_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "topic")
    os.makedirs(out_dir)
    n = write_thrift_log(log_dir, n=40)

    cfg = LogConfig(
        name="kafka_e2e", log_dir=log_dir, log_stream_regex="*.log",
        reader=ReaderConfig(type="thrift"),
        writer=WriterConfig(type="kafka_direct", topic="logs.app",
                            bootstrap_servers="broker:9092",
                            partitioner="crc32", num_partitions=8,
                            audit_topic="audit.kafka_e2e"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    audit = AuditCollector()
    mgr = PipelineManager(spark,
                          kafka_producer_factory=make_fake_producer_factory(out_dir))
    q = mgr.start_log(cfg, audit_sink=audit)
    q.processAllAvailable()
    mgr.stop_all()

    delivered = _read_delivered(out_dir)
    assert len(delivered) == n
    assert {r["value"] for r in delivered} == {f"payload-{i}" for i in range(n)}
    assert all(r["topic"] == "logs.app" for r in delivered)
    assert all(0 <= r["partition"] < 8 for r in delivered)
    # count-after-successful-write accounting (W9/B5)
    assert audit.total("audit.kafka_e2e") == n


def test_kafka_streaming_sink_without_audit(spark, tmp_path):
    out_dir = str(tmp_path / "stream_topic")
    os.makedirs(out_dir)
    src = str(tmp_path / "src")
    spark.range(30).select(F.concat(F.lit("m"), F.col("id")).alias("value")) \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("value string").parquet(src)
    factory = make_fake_producer_factory(out_dir)

    def deliver(batch_df, batch_id):
        return kafka_write_batch(batch_df, "broker:9092", "topic-s", factory)

    q = foreach_batch_sink(stream, str(tmp_path / "ck"), deliver).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(_read_delivered(out_dir)) == 30


def _spark_jobs(spark, query) -> int:
    """Spark jobs the query ran: streaming tags every job of a run with the
    run id as its job group (the status store fills from the listener
    bus, so drain that first)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


def test_one_spark_job_per_micro_batch(spark, tmp_path):
    """The delivery pass returns the audit count, so an audited kafka_direct
    micro-batch costs the same single Spark job as an unaudited one: no
    count job over a persisted frame, no job to hand the audit row over."""
    log_dir = str(tmp_path / "in")
    n = write_thrift_log(log_dir, n=40)
    for audited in (True, False):
        out_dir = str(tmp_path / f"topic-{audited}")
        os.makedirs(out_dir)
        cfg = LogConfig(
            name=f"jobs_{'audited' if audited else 'plain'}", log_dir=log_dir,
            log_stream_regex="*.log", reader=ReaderConfig(type="thrift"),
            writer=WriterConfig(type="kafka_direct", topic="logs.app",
                                bootstrap_servers="broker:9092",
                                audit_topic="audit.jobs" if audited else None),
            checkpoint_dir=str(tmp_path / f"ckpt-{audited}"),
        )
        audit = AuditCollector()
        mgr = PipelineManager(spark,
                              kafka_producer_factory=make_fake_producer_factory(out_dir))
        q = mgr.start_log(cfg, audit_sink=audit)
        q.processAllAvailable()
        mgr.stop_all()
        batches = [p for p in q.recentProgress if p.numInputRows > 0]
        assert len(batches) >= 1
        assert _spark_jobs(spark, q) == len(batches), f"audited={audited}"
        assert len(_read_delivered(out_dir)) == n
        assert audit.total("audit.jobs") == (n if audited else 0)


def make_flaky_producer_factory(out_dir: str, attempt_file: str, marker: str):
    """Fault-injecting fake producer.  Each producer reads the delivery
    attempt number from `attempt_file` when it is created.  On attempt 1,
    every send of the task that holds `marker` fails: nothing of that task
    is delivered, and its flush waits so the attempt's other tasks deliver
    first.  Every other flush lands atomically in a file tagged with its
    attempt."""
    import time

    class FlakyFuture:
        def __init__(self, producer):
            self.producer = producer

        @property
        def exception(self):
            return "injected send failure" if self.producer.poisoned else None

        def failed(self) -> bool:
            return self.producer.poisoned

    class FlakyProducer:
        def __init__(self):
            with open(attempt_file) as f:
                self.attempt = int(f.read())
            self.pending = []
            self.poisoned = False

        def send(self, topic, value=None, key=None, headers=None, partition=None):
            self.pending.append(value.decode("utf-8"))
            return FlakyFuture(self)

        def flush(self):
            if self.attempt == 1 and marker in self.pending:
                self.poisoned = True
                time.sleep(1.0)
                return
            path = os.path.join(out_dir, f"attempt{self.attempt}-{uuid.uuid4().hex}")
            with open(path + ".tmp", "w") as f:
                json.dump(self.pending, f)
            os.rename(path + ".tmp", path + ".json")
            self.pending = []

        def close(self):
            pass

    return lambda servers, configs: FlakyProducer()


def test_failed_task_attempt_is_never_audited(spark, tmp_path):
    """Audited delivery under an injected task failure: the failed attempt
    emits no audit row; the query restarts from its checkpoint (the
    run_adaptive failure allowance), the batch replays, and the audit total
    equals what the successful attempt delivered.  Duplicates come only
    from the failed attempt's other tasks — the at-least-once window."""
    from collections import Counter

    from singer_spark.config import SingerConfig
    from singer_spark.framing import encode_log_messages

    log_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "topic")
    os.makedirs(log_dir)
    os.makedirs(out_dir)
    files = {f"part-{k}.log": [f"m{k}-{i}" for i in range(25)] for k in range(4)}
    for name, msgs in files.items():
        with open(os.path.join(log_dir, name), "wb") as f:
            f.write(encode_log_messages([(m.encode(), m.encode(), 0, None) for m in msgs]))
    inputs = [m for msgs in files.values() for m in msgs]
    marker = "m2-7"
    attempt_file = str(tmp_path / "attempt")

    cfg = LogConfig(
        name="flaky", log_dir=log_dir, log_stream_regex="*.log",
        reader=ReaderConfig(type="thrift"),
        writer=WriterConfig(type="kafka_direct", topic="logs.app",
                            bootstrap_servers="broker:9092",
                            audit_topic="audit.flaky"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    audit = AuditCollector()
    mgr = PipelineManager(
        spark, SingerConfig(restart_on_failures=True, num_failures_allowed=1),
        kafka_producer_factory=make_flaky_producer_factory(out_dir, attempt_file, marker))

    def delivered(attempt: int) -> list[str]:
        out = []
        for path in glob.glob(os.path.join(out_dir, f"attempt{attempt}-*.json")):
            with open(path) as f:
                out += json.load(f)
        return out

    with open(attempt_file, "w") as f:
        f.write("1")
    first = mgr.run_adaptive(cfg, audit_sink=audit, sleep_fn=lambda s: None)
    assert first[0]["failed"]
    assert audit.rows == []  # the failed attempt emits no audit row

    with open(attempt_file, "w") as f:
        f.write("2")
    second = mgr.run_adaptive(cfg, audit_sink=audit, sleep_fn=lambda s: None)
    assert not second[0]["failed"]

    failed_attempt, final = delivered(1), delivered(2)
    assert sorted(final) == sorted(inputs)
    assert audit.total("audit.flaky") == len(final) == len(inputs)
    # nothing lost; duplicates only of what the failed attempt's other
    # tasks sent, never of the failed task's messages
    everything = Counter(failed_attempt + final)
    dupes = everything - Counter(inputs)
    assert not Counter(inputs) - everything
    assert dupes == Counter(failed_attempt)
    assert set(dupes) <= set(inputs) - set(files["part-2.log"])


# ---------------------------------------------------------------------------
# W2 — transactional (committable) writes.
# ---------------------------------------------------------------------------
def make_txn_producer_factory(out_dir: str, fail: bool = False):
    """Fake producer recording the transaction protocol: messages become
    visible only on commit_transaction; abort discards them (events logged
    as JSONL so executor-side calls are observable)."""

    class FakeFuture:
        def __init__(self, ok: bool):
            self.exception = None if ok else "NotLeaderForPartition"

        def failed(self) -> bool:
            return self.exception is not None

    class TxnProducer:
        def __init__(self):
            self.pending = []
            self.events = []

        def _log(self, *evt):
            self.events.append(evt)

        def init_transactions(self):
            self._log("init")

        def begin_transaction(self):
            self._log("begin")

        def send(self, topic, value=None, key=None, headers=None, partition=None):
            self.pending.append(value.decode("utf-8"))
            return FakeFuture(ok=not fail)

        def flush(self):
            self._log("flush")

        def commit_transaction(self):
            self._log("commit", list(self.pending))

        def abort_transaction(self):
            self._log("abort", len(self.pending))

        def close(self):
            path = os.path.join(out_dir, f"txn-{uuid.uuid4().hex}.jsonl")
            with open(path, "w") as f:
                for evt in self.events:
                    f.write(json.dumps(evt) + "\n")

    return lambda servers, configs: TxnProducer()


def _txn_events(out_dir):
    evts = []
    for p in glob.glob(os.path.join(out_dir, "txn-*.jsonl")):
        with open(p) as f:
            evts.append([json.loads(x) for x in f])
    return evts


def test_transactional_commit_wraps_each_task(spark, tmp_path):
    out_dir = str(tmp_path / "txn")
    os.makedirs(out_dir)
    # three tasks, the last one empty: it sends nothing and counts 0, but
    # still runs the whole protocol
    df = spark.range(0, 30, 1, 3).filter(F.col("id") < 20).select(
        F.concat(F.lit("m"), F.col("id")).alias("value"))
    sent = kafka_write_batch(df, "b:9092", "t", make_txn_producer_factory(out_dir),
                             transactional=True)
    tasks = _txn_events(out_dir)
    assert len(tasks) == 3
    delivered = []
    for events in tasks:
        kinds = [e[0] for e in events]
        assert kinds == ["init", "begin", "flush", "commit"]
        delivered += events[-1][1]
    assert sorted(len(events[-1][1]) for events in tasks) == [0, 10, 10]
    assert sent == 20
    assert sorted(delivered) == sorted(f"m{i}" for i in range(20))


def test_transactional_abort_on_failure(spark, tmp_path):
    out_dir = str(tmp_path / "txn_fail")
    os.makedirs(out_dir)
    df = spark.range(5).select(F.concat(F.lit("m"), F.col("id")).alias("value")).coalesce(1)
    with pytest.raises(Exception):
        kafka_write_batch(df, "b:9092", "t",
                          make_txn_producer_factory(out_dir, fail=True),
                          transactional=True)
    aborted = [e for events in _txn_events(out_dir) for e in events if e[0] == "abort"]
    committed = [e for events in _txn_events(out_dir) for e in events if e[0] == "commit"]
    assert aborted and not committed  # failed task aborted, nothing visible


# ---------------------------------------------------------------------------
# Live-broker smoke (flag-gated): set SINGER_SPARK_KAFKA_BOOTSTRAP to a real
# broker (e.g. "localhost:9092", kafka-python installed) and this runs the
# DIRECT producer path against it end-to-end — delivery callbacks, metadata
# timeouts, real client quirks the protocol fakes cannot exercise.  Unset
# (this sandbox), it skips cleanly.
# ---------------------------------------------------------------------------
@pytest.mark.skipif(
    not os.environ.get("SINGER_SPARK_KAFKA_BOOTSTRAP"),
    reason="no live broker: set SINGER_SPARK_KAFKA_BOOTSTRAP to run")
def test_kafka_direct_path_live_broker(spark):
    pytest.importorskip("kafka", reason="kafka-python not installed")
    from kafka import KafkaConsumer

    bootstrap = os.environ["SINGER_SPARK_KAFKA_BOOTSTRAP"]
    topic = f"singer_spark_smoke_{uuid.uuid4().hex[:8]}"
    df = spark.range(50).select(
        F.col("id").cast("string").cast("binary").alias("key"),
        F.concat(F.lit("live-"), F.col("id").cast("string"))
        .cast("binary").alias("value"))
    kafka_write_batch(df, bootstrap, topic)

    consumer = KafkaConsumer(
        topic, bootstrap_servers=bootstrap, auto_offset_reset="earliest",
        consumer_timeout_ms=15000)
    got = sorted(m.value.decode() for m in consumer)
    consumer.close()
    assert got == sorted(f"live-{i}" for i in range(50))
