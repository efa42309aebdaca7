"""Pulsar sink (W4) tests with a fake transport — models the reference's
TestPulsarWriter (MockTypedMessageBuilder): assert the send/flush protocol
and at-least-once delivery content without a broker."""

from __future__ import annotations

import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from singer_spark.sinks import pulsar_sink, pulsar_write_batch


def make_fake_factory(out_dir: str):
    """Build a picklable-by-value fake pulsar client factory (classes are
    defined in function scope so cloudpickle ships them to executors)."""

    class FakeProducer:
        def __init__(self, topic: str):
            self.topic = topic
            self.pending = []

        def send_async(self, data: bytes, callback=None, partition_key=None):
            self.pending.append((data, partition_key))

        def flush(self):
            # only flushed messages become visible — protocol check
            path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}.txt")
            with open(path, "w") as f:
                for data, key in self.pending:
                    f.write(f"{key or ''}\t{data.decode('utf-8')}\n")

    class FakeClient:
        def create_producer(self, topic: str) -> FakeProducer:
            return FakeProducer(topic)

        def close(self):
            pass

    def factory(service_url: str) -> FakeClient:
        assert service_url.startswith("pulsar://")
        return FakeClient()

    return factory


def _read_delivered(out_dir: str) -> list[tuple[str, str]]:
    rows = []
    for path in glob.glob(os.path.join(out_dir, "part-*.txt")):
        with open(path) as f:
            for line in f:
                key, _, val = line.rstrip("\n").partition("\t")
                rows.append((key, val))
    return rows


def test_pulsar_write_batch_delivers_all(spark, tmp_path):
    out_dir = str(tmp_path / "pulsar_out")
    os.makedirs(out_dir)
    df = spark.range(100).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("msg-"), F.col("id")).alias("value"),
    )
    sent = pulsar_write_batch(df, "pulsar://fake:6650", "topic-a",
                              client_factory=make_fake_factory(out_dir))
    delivered = _read_delivered(out_dir)
    assert sent == len(delivered) == 100
    assert ("7", "msg-7") in delivered


def test_pulsar_streaming_sink(spark, tmp_path):
    out_dir = str(tmp_path / "pulsar_stream_out")
    os.makedirs(out_dir)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.range(50).select(F.col("id"), F.concat(F.lit("m"), F.col("id")).alias("value")) \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id bigint, value string").parquet(src)
    q = pulsar_sink(stream, "pulsar://fake:6650", "topic-b", ckpt,
                    client_factory=make_fake_factory(out_dir)).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    delivered = _read_delivered(out_dir)
    assert len(delivered) == 50
    assert all(v.startswith("m") for _, v in delivered)


def make_failing_factory():
    """Transport whose sends all fail via the callback — flush() itself does
    NOT raise (the real pulsar-client contract), so only callback collection
    can surface the loss."""

    class FailingProducer:
        def send_async(self, data, callback=None, partition_key=None):
            if callback is not None:
                callback("Result.Timeout", None)

        def flush(self):
            pass

    class FailingClient:
        def create_producer(self, topic):
            return FailingProducer()

        def close(self):
            pass

    return lambda service_url: FailingClient()


def test_pulsar_failed_sends_fail_the_task(spark):
    df = spark.range(5).select(F.col("id").cast("string").alias("value")).coalesce(1)
    with pytest.raises(Exception) as exc_info:
        pulsar_write_batch(df, "pulsar://fake:6650", "topic-f",
                           client_factory=make_failing_factory())
    assert "sends failed" in str(exc_info.value)


def test_default_factory_requires_library():
    from singer_spark.sinks import _default_pulsar_client

    with pytest.raises(ImportError):
        _default_pulsar_client("pulsar://nowhere:6650")


def make_fake_factory_with_topics(out_dir: str):
    """Fake that records WHICH topic each flushed message went to."""

    class FakeProducer:
        def __init__(self, topic: str):
            self.topic = topic
            self.pending = []

        def send_async(self, data: bytes, callback=None, partition_key=None):
            self.pending.append((data, partition_key))

        def flush(self):
            path = os.path.join(out_dir, f"topic-{uuid.uuid4().hex}.txt")
            with open(path, "w") as f:
                for data, key in self.pending:
                    f.write(f"{self.topic}\t{key or ''}\t{data.decode('utf-8')}\n")

    class FakeClient:
        def create_producer(self, topic: str) -> FakeProducer:
            return FakeProducer(topic)

        def close(self):
            pass

    return lambda service_url: FakeClient()


def test_pulsar_custom_router_routes_by_partitioner(spark, tmp_path):
    """P11: the partitioner-computed `partition` column routes each record
    to its sub-topic producer (`topic-partition-N`) — the reference's
    PulsarMessageRouter wrapping a PulsarMessagePartitioner, with the
    plugin chosen from PARTITIONER_REGISTRY (here: md5)."""
    from singer_spark.partitioners import md5_partitioner

    out_dir = str(tmp_path / "routed")
    os.makedirs(out_dir)
    df = spark.range(40).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("msg-"), F.col("id")).alias("value"),
    ).withColumn("partition", md5_partitioner(F.col("key"), 4))
    expected = {r["key"]: r["partition"] for r in df.collect()}
    assert len(set(expected.values())) > 1  # the router actually spreads

    pulsar_write_batch(df, "pulsar://fake:6650", "t",
                       client_factory=make_fake_factory_with_topics(out_dir))

    routed = {}
    for path in glob.glob(os.path.join(out_dir, "topic-*.txt")):
        with open(path) as f:
            for line in f:
                topic, key, val = line.rstrip("\n").split("\t")
                routed[key] = (topic, val)
    assert len(routed) == 40
    for key, (topic, val) in routed.items():
        assert topic == f"t-partition-{expected[key]}"
        assert val == f"msg-{key}"


# ---------------------------------------------------------------------------
# Live-broker smoke (flag-gated): set SINGER_SPARK_PULSAR_URL to a real
# broker (e.g. "pulsar://localhost:6650", pulsar-client installed) and this
# drives the REAL client library end-to-end — async sends, per-message send
# callbacks, router sub-topic producers — the quirks the file-backed fakes
# cannot exercise.  Unset (this sandbox), it skips cleanly.  Twin of the
# Kafka smoke in test_kafka_sink.py.
# ---------------------------------------------------------------------------
@pytest.mark.skipif(
    not os.environ.get("SINGER_SPARK_PULSAR_URL"),
    reason="no live broker: set SINGER_SPARK_PULSAR_URL to run")
def test_pulsar_write_batch_live_broker(spark):
    pulsar = pytest.importorskip("pulsar", reason="pulsar-client not installed")
    from singer_spark.partitioners import md5_partitioner

    url = os.environ["SINGER_SPARK_PULSAR_URL"]
    topic = f"singer_spark_smoke_{uuid.uuid4().hex[:8]}"
    n_parts = 3

    # routed path: the partition column selects the router's sub-topic
    # producer ({topic}-partition-{n}) exactly like PulsarMessageRouter
    df = spark.range(60).select(
        F.col("id").cast("string").alias("key"),
        F.concat(F.lit("live-"), F.col("id").cast("string")).alias("value"),
    ).withColumn("partition", md5_partitioner(F.col("key"), n_parts))
    expected = {r["key"]: (r["partition"], r["value"]) for r in df.collect()}
    pulsar_write_batch(df, url, topic)

    client = pulsar.Client(url)
    got: dict[str, tuple[int, str]] = {}
    try:
        for p in range(n_parts):
            reader = client.create_reader(f"{topic}-partition-{p}",
                                          pulsar.MessageId.earliest)
            while True:
                try:
                    msg = reader.read_next(timeout_millis=5000)
                except Exception:
                    break
                got[msg.partition_key()] = (p, msg.data().decode())
            reader.close()
    finally:
        client.close()
    assert got == expected
