"""Kafka partitioner library — reference parity for SURVEY.md §2.5 (P1-P10).

Every reference partitioner implements
``KafkaMessagePartitioner.partition(key, partitions) -> int``
(writer/KafkaMessagePartitioner.java) and is selected by class name
(common.thrift:22, writer/KafkaWriter.java:155-164).

Here each is a pure column expression producing the `partition` column the
Spark Kafka sink consumes — evaluated JVM-side per row, no shuffle (the
partition id rides along to the sink; Kafka does the physical routing).
A class-name registry mirrors the reference's reflection-based plugin
loading (the UDF surface of the system, SURVEY.md §2.7).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from singer_spark.functions import md5_int


# P1 — DefaultPartitioner: uniform random per message.
# Reference: writer/partitioners/DefaultPartitioner.java:29-33.
def default_partitioner(key: Column, num_partitions: int) -> Column:
    return F.floor(F.rand() * num_partitions).cast("int")


# P2 — Crc32ByteArrayPartitioner: abs(crc32(key)) % n, random on null key.
# Reference: writer/partitioners/Crc32ByteArrayPartitioner.java:53-70.
def crc32_partitioner(key: Column, num_partitions: int) -> Column:
    hashed = F.pmod(F.crc32(key.cast("binary")), F.lit(num_partitions)).cast("int")
    return F.when(key.isNull(), F.floor(F.rand() * num_partitions).cast("int")).otherwise(hashed)


# P3 — MurmurByteArrayPartitioner: abs(murmur3(key)) % n.
# Reference: writer/partitioners/MurmurByteArrayPartitioner.java:40-53.
# Spark's hash() is Murmur3_x86_32 — the same hash family.
def murmur_partitioner(key: Column, num_partitions: int) -> Column:
    return F.pmod(F.hash(key), F.lit(num_partitions)).cast("int")


# P4 — StringKeyMd5Partitioner: md5(utf8(key)) % n.
# Reference: writer/StringKeyMd5Partitioner.java:39+.
# Uses the top 60 bits of the digest as a non-negative integer.
def md5_partitioner(key: Column, num_partitions: int) -> Column:
    return F.pmod(md5_int(key), F.lit(num_partitions)).cast("int")


# P5 — SimpleRoundRobinPartitioner: counter % n.
# Reference: writer/partitioners/SimpleRoundRobinPartitioner.java:44-50.
# Distributed counter semantics: a global row_number is a sort+shuffle, so
# the scalable default is a per-task counter over monotonically increasing
# ids — same uniform balance guarantee without a shuffle.
def round_robin_partitioner(key: Column, num_partitions: int) -> Column:
    return F.pmod(F.monotonically_increasing_id(), F.lit(num_partitions)).cast("int")


def round_robin_ordered(order_by: Column, num_partitions: int) -> Column:
    """Deterministic round-robin (exact counter parity) — requires a total
    order (single-task global Window), so only for bounded batches / tests;
    callers must gate the input through `functions.assert_bounded`, and the
    streaming/production path uses :func:`round_robin_partitioner` (this
    function is deliberately NOT in PARTITIONER_REGISTRY)."""
    rn = F.row_number().over(Window.orderBy(order_by)) - 1
    return F.pmod(rn, F.lit(num_partitions)).cast("int")


# P6 — SinglePartitionPartitioner: one random partition pinned for the
# writer's lifetime (compression win, see LocalityAwareSinglePartition).
# Reference: writer/partitioners/SinglePartitionPartitioner.java:36-43.
def single_partition_partitioner(key: Column, num_partitions: int, pinned: int | None = None) -> Column:
    import random

    chosen = pinned if pinned is not None else random.randrange(num_partitions)
    return F.lit(int(chosen)).cast("int")


# P7 — FixedPartitionsPartitioner: spread among a fixed-size subset of the
# partitions.  Reference: writer/partitioners/FixedPartitionsPartitioner.java:
# 37-55 (random subset, random member).  `deterministic=True` picks the
# member by keyed hash instead of rand() — reproducible across task retries
# (same reasoning as transforms.sample_messages).
def fixed_partitions_partitioner(key: Column, num_partitions: int, subset_size: int = 2,
                                 subset: list[int] | None = None,
                                 deterministic: bool = False) -> Column:
    import random

    if subset is None:
        subset = sorted(random.sample(range(num_partitions), min(subset_size, num_partitions)))
    arr = F.array(*[F.lit(int(p)) for p in subset])
    if deterministic:
        idx = (md5_int(key) % len(subset) + 1).cast("int")
    else:
        idx = (F.floor(F.rand() * len(subset)) + 1).cast("int")
    return F.element_at(arr, idx).cast("int")


# P8-P10 — LocalityAware*Partitioner: restrict to partitions whose leader is
# in the local rack; refresh periodically; fall back to all partitions.
# Reference: writer/partitioners/LocalityAwarePartitioner.java:29-80,
# LocalityAwareRandomPartitioner.java:41-49,
# LocalityAwareSinglePartitionPartitioner.java:45-57.
# Spark has no broker-metadata feed: the rack-local partition list is
# static config (`writer.local_partitions`), baked into the plan as a
# literal array; a changed list takes effect when the query is rebuilt.
def locality_aware_random_partitioner(key: Column, num_partitions: int,
                                      local_partitions: list[int] | None) -> Column:
    if not local_partitions:  # fallback-to-all, LocalityAwarePartitioner.java:67-71
        return default_partitioner(key, num_partitions)
    arr = F.array(*[F.lit(int(p)) for p in local_partitions])
    return F.element_at(arr, (F.floor(F.rand() * len(local_partitions)) + 1).cast("int")).cast("int")


def locality_aware_single_partition_partitioner(key: Column, num_partitions: int,
                                                local_partitions: list[int] | None,
                                                pinned_index: int | None = None) -> Column:
    import random

    if not local_partitions:
        return single_partition_partitioner(key, num_partitions)
    idx = pinned_index if pinned_index is not None else random.randrange(len(local_partitions))
    return F.lit(int(local_partitions[idx])).cast("int")


# ---------------------------------------------------------------------------
# Class-name registry — parity with the reference's reflection plugin point
# (writer/KafkaWriter.java:155-164 loads the configured class name).
# ---------------------------------------------------------------------------
PARTITIONER_REGISTRY: dict[str, Callable[..., Column]] = {
    "com.pinterest.singer.writer.partitioners.DefaultPartitioner": default_partitioner,
    "com.pinterest.singer.writer.partitioners.Crc32ByteArrayPartitioner": crc32_partitioner,
    "com.pinterest.singer.writer.partitioners.MurmurByteArrayPartitioner": murmur_partitioner,
    "com.pinterest.singer.writer.StringKeyMd5Partitioner": md5_partitioner,
    "com.pinterest.singer.writer.partitioners.SimpleRoundRobinPartitioner": round_robin_partitioner,
    "com.pinterest.singer.writer.partitioners.SinglePartitionPartitioner": single_partition_partitioner,
    "com.pinterest.singer.writer.partitioners.FixedPartitionsPartitioner": fixed_partitions_partitioner,
    "com.pinterest.singer.writer.partitioners.LocalityAwareRandomPartitioner": locality_aware_random_partitioner,
    "com.pinterest.singer.writer.partitioners.LocalityAwareSinglePartitionPartitioner": locality_aware_single_partition_partitioner,
    # short aliases for new configs
    "default": default_partitioner,
    "crc32": crc32_partitioner,
    "murmur": murmur_partitioner,
    "md5": md5_partitioner,
    "round_robin": round_robin_partitioner,
    "single": single_partition_partitioner,
    "fixed": fixed_partitions_partitioner,
    "locality_random": locality_aware_random_partitioner,
    "locality_single": locality_aware_single_partition_partitioner,
}


def get_partitioner(name: str) -> Callable[..., Column]:
    if name not in PARTITIONER_REGISTRY:
        raise KeyError(f"unknown partitioner: {name}")
    return PARTITIONER_REGISTRY[name]
