"""Locality-aware partitioner (P8-P10) tests: the metadata provider's
refresh / filter / fallback behavior with a faked broker-metadata feed
(LocalityAwarePartitioner.java:29-80), and the engine wiring that feeds
`local_partitions` into the partition column."""

from __future__ import annotations

from singer_spark.config import LogConfig, WriterConfig
from singer_spark.engine import build_transforms
from singer_spark.partitioners import LocalityProvider


class FakeClock:
    def __init__(self) -> None:
        self.now = 1000.0

    def __call__(self) -> float:
        return self.now


def test_provider_filters_to_local_rack_and_sorts():
    racks = {0: "us-east-1a", 1: "us-east-1b", 2: "us-east-1a", 3: None}
    p = LocalityProvider(lambda: racks, local_rack="us-east-1a")
    assert p.local_partitions() == [0, 2]


def test_provider_caches_until_refresh_interval():
    clock = FakeClock()
    state = {"racks": {0: "r1", 1: "r2"}}
    calls = []

    def fetch():
        calls.append(clock.now)
        return state["racks"]

    p = LocalityProvider(fetch, local_rack="r1", refresh_seconds=300, clock=clock)
    assert p.local_partitions() == [0]
    # leadership moves, but inside the refresh window the cache holds
    state["racks"] = {0: "r2", 1: "r1"}
    clock.now += 100
    assert p.local_partitions() == [0]
    assert len(calls) == 1
    # past the interval: refresh picks up the new leader map
    clock.now += 300
    assert p.local_partitions() == [1]
    assert len(calls) == 2


def test_provider_falls_back_to_all_when_nothing_local_or_fetch_fails():
    p = LocalityProvider(lambda: {0: "r2", 1: "r2"}, local_rack="r1")
    assert p.local_partitions() is None  # no rack-local leader → all

    def broken():
        raise ConnectionError("brokers unreachable")

    clock = FakeClock()
    p2 = LocalityProvider(broken, local_rack="r1", clock=clock)
    assert p2.local_partitions() is None  # metadata outage → all
    # and it retries after the interval rather than caching the failure forever
    clock.now += 1000
    assert p2.local_partitions() is None


def test_engine_wires_local_partitions_into_partition_column(spark, tmp_path):
    from tests.test_pipeline_e2e import write_rotated_text_logs

    log_dir = str(tmp_path / "loc")
    write_rotated_text_logs(log_dir, n_files=1, lines_per_file=30)
    provider = LocalityProvider(lambda: {2: "local", 5: "local", 1: "remote"},
                                local_rack="local")
    cfg = LogConfig(
        name="loc", log_dir=log_dir, log_stream_regex="*",
        writer=WriterConfig(type="kafka_direct", topic="t",
                            partitioner="locality_random", num_partitions=8,
                            local_partitions=provider.local_partitions()),
    )
    parts = {r.partition for r in
             build_transforms(spark.read.text(log_dir), cfg)
             .select("partition").collect()}
    assert parts <= {2, 5} and parts  # only rack-local partitions used

    # fallback-to-all: provider yields None → uniform random over all 8
    cfg.writer.local_partitions = None
    parts_all = {r.partition for r in
                 build_transforms(spark.read.text(log_dir), cfg)
                 .select("partition").collect()}
    assert parts_all <= set(range(8)) and len(parts_all) > 2
