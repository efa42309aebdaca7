"""Transform chain (T1-T11) + partitioner unit tests — models the
reference's RegexBasedModifierTest / partitioner tests."""

from __future__ import annotations

import zlib

from pyspark.sql import functions as F

from singer_spark import partitioners as P
from singer_spark.config import (
    LogConfig,
    ProcessorConfig,
    ReaderConfig,
    TransformerConfig,
    WriterConfig,
)
from singer_spark.engine import build_transforms
from singer_spark.transforms import (
    drop_oversize,
    filter_message_regex,
    inject_headers,
    message_id,
    prepend_fields,
    regex_based_modifier,
    sample_messages,
    trim_trailing_newline,
    verify_checksum,
    with_checksum,
)


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_filter_regex(spark):
    df = _df(spark, [("error: boom",), ("info: fine",)], ["value"])
    out = filter_message_regex(df, "value", "^error").collect()
    assert [r.value for r in out] == ["error: boom"]


def test_regex_modifier_rewrites_and_passes_through(spark):
    # parity: RegexBasedModifier passes the ORIGINAL through on no-match
    df = _df(spark, [("user=42",), ("garbage",)], ["value"])
    out = df.select(regex_based_modifier("value", r"user=(\d+)", "id:$1").alias("v")).collect()
    assert sorted(r.v for r in out) == ["garbage", "id:42"]


def test_prepend_and_trim(spark):
    df = _df(spark, [("msg\n",)], ["value"])
    out = df.select(
        trim_trailing_newline(prepend_fields("value", [F.lit("host1")], " ")).alias("v")
    ).collect()
    assert out[0].v == "host1 msg"


def test_checksum_verify_drops_corrupt(spark):
    good = with_checksum(_df(spark, [("hello",)], ["value"]), "value")
    corrupt = good.withColumn("checksum", F.col("checksum") + 1)
    assert verify_checksum(good, "value").count() == 1
    assert verify_checksum(corrupt, "value").count() == 0
    assert verify_checksum(corrupt, "value", skip_corrupted=False).count() == 1
    # null checksum passes (reference: unset checksum field is not verified)
    nullc = good.withColumn("checksum", F.lit(None).cast("long"))
    assert verify_checksum(nullc, "value").count() == 1


def test_checksum_matches_zlib(spark):
    row = with_checksum(_df(spark, [("abc",)], ["value"]), "value").collect()[0]
    assert row.checksum == (zlib.crc32(b"abc") & 0xFFFFFFFF)


def test_sampling_deterministic_and_proportional(spark):
    df = spark.range(2000).withColumnRenamed("id", "key")
    n1 = sample_messages(df, "key", 25).count()
    n2 = sample_messages(df, "key", 25).count()
    assert n1 == n2  # deterministic across runs (retry-safe)
    assert 380 < n1 < 620  # ~25% of 2000
    assert sample_messages(df, "key", 100).count() == 2000
    assert sample_messages(df, "key", 0).count() == 0


def test_oversize_drop(spark):
    # maxMessageSize is a byte limit: 6 two-byte characters are 12 bytes
    df = _df(spark, [("short",), ("x" * 50,), ("é" * 6,)], ["value"])
    assert [r.value for r in drop_oversize(df, "value", 10).collect()] == ["short"]


def test_headers_map(spark):
    df = inject_headers(_df(spark, [("m",)], ["value"]), {"hostname": F.lit("h1")})
    row = df.collect()[0]
    assert bytes(row.headers["hostname"]) == b"h1"


def test_message_id_16_bytes(spark):
    df = _df(spark, [("file-a", 1234)], ["file", "offset"])
    row = df.select(message_id(F.col("file"), F.col("offset")).alias("mid")).collect()[0]
    assert len(bytes(row.mid)) == 16


def _chain(spark, rows, **kwargs):
    """build_transforms on `rows` of `value` under a noop-writer LogConfig
    (no partition column) with the given reader/transformer/processor."""
    cfg = LogConfig(name="chain", log_dir="/unused", writer=WriterConfig(type="noop"),
                    **kwargs)
    return build_transforms(_df(spark, [(r,) for r in rows], ["value"]), cfg).collect()


def test_full_chain(spark):
    out = _chain(spark, ["keep:one", "drop:two", "keep:" + "x" * 100],
                 reader=ReaderConfig(filter_message_regex="keep", prepend_hostname=True,
                                     max_message_size=100),
                 transformer=TransformerConfig(type="regex", regex=r"keep:(\w+)",
                                               modified_message_format="$1"))
    # filter, then rewrite, then prepend; the oversize drop measures the
    # prepended message (110 bytes for the third row)
    assert [r.value for r in out] == ["localhost one"]


def test_chain_regex_rewrite_passes_unmatched_through(spark):
    out = _chain(spark, ["user=42", "garbage"],
                 transformer=TransformerConfig(type="regex", regex=r"user=(\d+)",
                                               modified_message_format="id:$1"))
    assert sorted(r.value for r in out) == ["garbage", "id:42"]


def test_chain_samples_by_processor_percent(spark):
    rows = [f"line-{i}" for i in range(2000)]
    out = _chain(spark, rows, processor=ProcessorConfig(sample_percent=25))
    kept = [r.value for r in out]
    # the keyed-hash sample of the message text, as sample_messages keeps it
    want = sample_messages(_df(spark, [(r,) for r in rows], ["value"]), "value", 25)
    assert sorted(kept) == sorted(r.value for r in want.collect())
    assert 380 < len(kept) < 620


# -- partitioners -----------------------------------------------------------

def test_partitioners_in_range_and_deterministic(spark):
    df = spark.range(500).select(F.col("id").cast("string").alias("key"))
    for fn in (P.crc32_partitioner, P.murmur_partitioner, P.md5_partitioner):
        parts = [r.p for r in df.select(fn(F.col("key"), 16).alias("p")).collect()]
        assert all(0 <= p < 16 for p in parts)
        assert len(set(parts)) > 8  # spreads
        again = [r.p for r in df.select(fn(F.col("key"), 16).alias("p")).collect()]
        assert parts == again


def test_crc32_partitioner_matches_reference_semantics(spark):
    # abs(crc32(key)) % n — Crc32ByteArrayPartitioner.java:53-70
    df = spark.createDataFrame([("hello",)], ["key"])
    p = df.select(P.crc32_partitioner(F.col("key"), 7).alias("p")).collect()[0].p
    assert p == (zlib.crc32(b"hello") & 0xFFFFFFFF) % 7


def test_python_cross_implementations_match_jvm(spark):
    """The verification-only Arrow kernels (functions.crc32_py /
    murmur3_py) must agree cell-for-cell with Spark's JVM crc32()/hash()
    — they are the independent side of the self-verifying t8/p2/p3
    driver queries, so a drift here would silently weaken the gate."""
    from singer_spark.functions import crc32_py, murmur3_py, spark_murmur3_py

    df = spark.range(300).select(
        F.concat(F.lit("döc-€-"), F.col("id").cast("string")).alias("key"))
    out = df.select(
        (F.crc32(F.col("key").cast("binary")) == crc32_py(F.col("key"))).alias("c"),
        (F.hash(F.col("key")) == murmur3_py(F.col("key"))).alias("m"),
    ).collect()
    assert all(r.c and r.m for r in out)
    # tail-handling spot checks (1-3 trailing bytes, high-bit bytes)
    for s in ("", "a", "ab", "abc", "abcd", "abcde", "é", "€!"):
        jvm = spark.createDataFrame([(s,)], ["k"]).select(F.hash("k").alias("h")).collect()[0].h
        assert spark_murmur3_py(s.encode("utf-8")) == jvm


def test_round_robin_ordered_exact(spark):
    df = spark.range(10).withColumnRenamed("id", "k")
    rows = df.select("k", P.round_robin_ordered(F.col("k"), 4).alias("p")).orderBy("k").collect()
    assert [r.p for r in rows] == [i % 4 for i in range(10)]


def test_single_and_fixed_partitioners(spark):
    df = spark.range(50).select(F.col("id").cast("string").alias("key"))
    single = {r.p for r in df.select(P.single_partition_partitioner(F.col("key"), 8, pinned=5).alias("p")).collect()}
    assert single == {5}
    fixed = {r.p for r in df.select(
        P.fixed_partitions_partitioner(F.col("key"), 32, subset=[2, 9], deterministic=True).alias("p")
    ).collect()}
    assert fixed <= {2, 9} and len(fixed) == 2


def test_locality_aware_fallback(spark):
    df = spark.range(20).select(F.col("id").cast("string").alias("key"))
    # with local partitions: restricted to them
    got = {r.p for r in df.select(
        P.locality_aware_random_partitioner(F.col("key"), 32, [3, 7]).alias("p")).collect()}
    assert got <= {3, 7}
    # without: falls back to all (LocalityAwarePartitioner.java:67-71)
    got = {r.p for r in df.select(
        P.locality_aware_random_partitioner(F.col("key"), 4, None).alias("p")).collect()}
    assert got <= {0, 1, 2, 3}


def test_registry_parity_with_reference_class_names():
    assert P.get_partitioner("com.pinterest.singer.writer.partitioners.Crc32ByteArrayPartitioner") is P.crc32_partitioner
    assert P.get_partitioner("crc32") is P.crc32_partitioner
    try:
        P.get_partitioner("nope")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass
