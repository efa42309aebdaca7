"""Locality-aware partitioner (P8-P10) tests: the engine wiring that
feeds `writer.local_partitions` into the partition column, with the
fallback to all partitions when no rack-local list is configured
(LocalityAwarePartitioner.java:67-71)."""

from __future__ import annotations

from singer_spark.config import LogConfig, WriterConfig
from singer_spark.engine import build_transforms


def test_engine_wires_local_partitions_into_partition_column(spark, tmp_path):
    from tests.test_pipeline_e2e import write_rotated_text_logs

    log_dir = str(tmp_path / "loc")
    write_rotated_text_logs(log_dir, n_files=1, lines_per_file=30)
    cfg = LogConfig(
        name="loc", log_dir=log_dir, log_stream_regex="*",
        writer=WriterConfig(type="kafka_direct", topic="t",
                            partitioner="locality_random", num_partitions=8,
                            local_partitions=[2, 5]),
    )
    parts = {r.partition for r in
             build_transforms(spark.read.text(log_dir), cfg)
             .select("partition").collect()}
    assert parts <= {2, 5} and parts  # only rack-local partitions used

    # fallback-to-all: no local list → uniform random over all 8
    cfg.writer.local_partitions = None
    parts_all = {r.partition for r in
                 build_transforms(spark.read.text(log_dir), cfg)
                 .select("partition").collect()}
    assert parts_all <= set(range(8)) and len(parts_all) > 2
