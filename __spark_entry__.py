"""Driver contract for the spark-graft builder (PySpark target).

`queries()` maps SURVEY.md §2's operator inventory (plus the extended
training-data-pipeline operators) onto the TESTDATA tables; `oracle_sql()`
gives the DuckDB-runnable ANSI-SQL twin of each.  Column names and value
arithmetic are kept cross-engine identical (md5-based hashing, element-wise
double casts, explicit rounding) so the driver's order-insensitive
value-hash matches bit-for-bit.

Entries without an oracle (crc32/murmur hashing, LSH internals that would
need non-SQL state) are listed in `queries()` only → rows-only check.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MD5I = "(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15))::BIGINT)"


def _md5i(x: str) -> str:
    return MD5I.format(x=x)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.session import read_events

    return read_events(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash-LSH near-duplicate detection over documents —
    candidate generation via banded signatures, exact Jaccard verification."""
    from singer_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, "/root/testdata/sf0.001")
    return minhash_lsh_pairs(docs, threshold=0.5)


# ---------------------------------------------------------------------------
# Singer-parity queries (SURVEY.md §2)
# ---------------------------------------------------------------------------
def _s1_thrift_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2: encode documents as TFramedTransport+TBinaryProtocol LogMessage
    blobs (with CRC-32, key, timestamp), then decode via the engine's framing
    codec and verify checksums — a full codec round trip per Arrow batch."""
    import pandas as pd

    from singer_spark.framing import decode_frames, encode_log_message
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), False),
    ])

    def roundtrip(batches):
        for pdf in batches:
            blob = b"".join(
                encode_log_message(
                    message=text.encode("utf-8"),
                    key=str(int(doc_id)).encode("ascii"),
                    timestamp_nanos=int(doc_id) * 1_000_000,
                    with_crc=True,
                )
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            )
            rows = []
            for key, msg, ts, crc, audit, off in decode_frames(blob, max_message_size=1_000_000):
                import zlib

                assert crc is not None and (zlib.crc32(msg) & 0xFFFFFFFF) == crc
                rows.append((int(key.decode("ascii")), msg.decode("utf-8")))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(roundtrip, schema)


def _s3_text_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4: multi-line message framing by messageStartRegex, run through
    the engine's real framer (tokens-as-lines, '^the$' starts a message)."""
    import pandas as pd

    from singer_spark.framing import frame_text
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("n_messages", LongType(), False),
    ])

    def frame(batches):
        for pdf in batches:
            rows = [
                (int(doc_id), len(frame_text(text.replace(" ", "\n"), r"^the$")))
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "n_messages"])

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(frame, schema)


def _t1_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import filter_message_regex

    return filter_message_regex(_docs(spark, sf_dir), "text", r"\bspark\b").select("doc_id", "lang")


def _t2_regex_modifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import regex_based_modifier

    return _events(spark, sf_dir).select(
        "event_id",
        regex_based_modifier("props", r'\{"k": (\d*[02468])\}', "k=$1").alias("modified"),
    )


def _t3_prepend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import prepend_fields

    return _events(spark, sf_dir).select(
        "event_id",
        prepend_fields(
            "event_type",
            [F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit("host-01")],
            "|",
        ).alias("value"),
    )


def _t4_trim_newline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import trim_trailing_newline

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.length(trim_trailing_newline(F.concat(F.col("text"), F.lit("\n")))).cast("bigint").alias("len_after"),
    )


def _t5_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import inject_headers, standard_headers

    base = _events(spark, sf_dir).withColumn(
        "basename", F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1)
    )
    headed = inject_headers(
        base, standard_headers(file_col=F.col("basename"), hostname="host-01", availability_zone="us-east-1a")
    )
    return headed.select(
        "event_id",
        F.col("headers")["hostname"].cast("string").alias("h_hostname"),
        F.col("headers")["availabilityZone"].cast("string").alias("h_az"),
        F.col("headers")["file"].cast("string").alias("h_file"),
    )


def _audit_roundtrip_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared t6/w9 corpus: encode documents as framed LogMessages carrying
    deterministic LoggingAuditHeaders (tracked = even doc_id), decode back
    through the engine codec.  Both oracles recompute the same derivations
    from `documents`, so this MUST stay the single source of the synthetic
    header values."""
    import pandas as pd

    from singer_spark.framing import (LOG_MESSAGE_SCHEMA, decode_file_tolerant,
                                      encode_log_message)

    def roundtrip(batches):
        for pdf in batches:
            blob = b"".join(
                encode_log_message(
                    message=text.encode("utf-8"),
                    key=str(int(doc_id)).encode("ascii"),
                    with_crc=True,
                    audit_headers={
                        "host": f"host-{int(doc_id) % 10}",
                        "logName": source,
                        "pid": int(doc_id) % 32768,
                        "session": 1_700_000_000_000 + int(doc_id) % 100,
                        "logSeqNumInSession": int(doc_id),
                        "timestamp": 1_700_000_000_000 + int(doc_id),
                        "tracked": int(doc_id) % 2 == 0,
                    },
                )
                for doc_id, source, text in zip(pdf["doc_id"], pdf["source"], pdf["text"])
            )
            yield pd.DataFrame(decode_file_tolerant(blob, "mem"),
                               columns=[f.name for f in LOG_MESSAGE_SCHEMA.fields])

    return (_docs(spark, sf_dir).select("doc_id", "source", "text")
            .mapInPandas(roundtrip, LOG_MESSAGE_SCHEMA))


def _t6_audit_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/W9: full LoggingAuditHeaders path — encode documents as framed
    LogMessages carrying audit headers (loggingaudit.thrift:28-65), decode
    them back through the engine codec, then run the Kafka header injector
    (writer/KafkaWriter.java:421-436).  Projects the decoded audit fields
    plus the SERIALIZED header lengths, which the SQL oracle recomputes from
    the TBinaryProtocol wire layout (55 fixed bytes + the two string
    payloads) — so a drift in either the decoder or the JVM serializer
    breaks the value match."""
    from singer_spark.framing import with_kafka_audit_headers

    injected = with_kafka_audit_headers(_audit_roundtrip_frame(spark, sf_dir))
    a = F.col("auditHeaders")
    return injected.select(
        F.col("key").cast("string").cast("bigint").alias("doc_id"),
        a["host"].alias("host"),
        a["logName"].alias("log_name"),
        a["pid"].alias("pid"),
        a["session"].alias("session"),
        a["logSeqNumInSession"].alias("log_seq"),
        a["tracked"].alias("tracked"),
        F.length(F.col("headers")["loggingAuditHeaders"]).cast("int").alias("audit_hdr_len"),
        F.length(F.col("headers")["messageCRC"]).cast("int").alias("crc_hdr_len"),
    )


def _w9_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 per-message audit: the t6 roundtrip corpus filtered to TRACKED
    messages (doc_id % 2 == 0), emitted as LoggingAuditEvent-shaped rows
    with CRC-recomputed validity (loggingaudit.thrift:85-140)."""
    from singer_spark.audit import audit_events_for_tracked

    decoded = _audit_roundtrip_frame(spark, sf_dir)
    return audit_events_for_tracked(decoded, hostname="host-audit").select(
        "host", "stage", "origin_host", "log_name", "pid", "session",
        "log_seq", "message_valid", "message_acknowledged_ts")


def _t7_message_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import message_id

    return _docs(spark, sf_dir).select(
        "doc_id", F.hex(message_id(F.col("source"), F.col("doc_id"))).alias("mid_hex")
    )


def _t8_crc32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRC-32 set + verify (writer/KafkaWriter.java:438-465,473-507) as a
    SELF-VERIFYING cross-implementation check: the operator stamps the
    payload with Spark's JVM `crc32()` (transforms.with_checksum), the
    verify pass must keep every row (transforms.verify_checksum — a
    dropped row would shrink the row count), and the same query computes
    an independent Arrow-side zlib.crc32 and emits per-row agreement.
    Output is engine-independent, so the driver's plain-SQL DuckDB oracle
    value-checks the invariant (was rows-only for rounds 1-6)."""
    from singer_spark.functions import crc32_py
    from singer_spark.transforms import verify_checksum, with_checksum

    checked = with_checksum(_docs(spark, sf_dir).withColumn("value", F.col("text")), "value")
    verified = verify_checksum(checked, "value")  # drops any corrupt row
    return verified.select(
        "doc_id",
        (F.col("checksum") == crc32_py(F.col("value"))).alias("crc_agree"),
    )


def _t9_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import sample_messages

    return sample_messages(_docs(spark, sf_dir), "doc_id", 25).select("doc_id")


def _t11_oversize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.transforms import drop_oversize

    return drop_oversize(_docs(spark, sf_dir), "text", 300).select("doc_id", "n_chars")


def _p2_crc32_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crc32ByteArrayPartitioner (writer/partitioners/
    Crc32ByteArrayPartitioner.java:53-70), self-verifying: the operator's
    JVM `crc32(key) % n` is compared in-query against an independent
    Arrow-side zlib.crc32, plus the range invariant 0 <= p < n.  The
    driver's plain-SQL oracle value-checks both booleans per key (was
    rows-only for rounds 1-6: DuckDB has no crc32)."""
    from singer_spark.functions import crc32_py
    from singer_spark.partitioners import crc32_partitioner

    part = crc32_partitioner(F.col("c_name"), 32)
    expected = F.pmod(crc32_py(F.col("c_name")), F.lit(32)).cast("int")
    return _cust(spark, sf_dir).select(
        "c_custkey",
        (part == expected).alias("agree"),
        ((part >= 0) & (part < 32)).alias("in_range"),
    )


def _p3_murmur_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MurmurByteArrayPartitioner (writer/partitioners/
    MurmurByteArrayPartitioner.java:40-53), self-verifying: the operator's
    JVM `pmod(hash(key), n)` (Murmur3_x86_32 incl. Spark's signed-byte
    tail handling) is compared in-query against the pure-Python
    reimplementation (functions.spark_murmur3_py), plus the range
    invariant.  Driver-checkable via plain SQL (was rows-only r1-r6)."""
    from singer_spark.functions import murmur3_py
    from singer_spark.partitioners import murmur_partitioner

    part = murmur_partitioner(F.col("c_name"), 32)
    expected = F.pmod(murmur3_py(F.col("c_name")), F.lit(32)).cast("int")
    return _cust(spark, sf_dir).select(
        "c_custkey",
        (part == expected).alias("agree"),
        ((part >= 0) & (part < 32)).alias("in_range"),
    )


def _p4_md5_partitioner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.partitioners import md5_partitioner

    return _cust(spark, sf_dir).select(
        "c_custkey", md5_partitioner(F.col("c_name"), 32).alias("partition")
    )


def _p5_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.functions import assert_bounded
    from singer_spark.partitioners import round_robin_ordered

    orders = assert_bounded(spark.read.parquet(f"{sf_dir}/orders.parquet"),
                            what="exact round-robin parity shim")
    return orders.select(
        "o_orderkey", round_robin_ordered(F.col("o_orderkey"), 16).alias("partition")
    )


def _p6_single_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.partitioners import single_partition_partitioner

    return _cust(spark, sf_dir).select(
        "c_custkey", single_partition_partitioner(F.col("c_name"), 32, pinned=3).alias("partition")
    )


def _p7_fixed_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.partitioners import fixed_partitions_partitioner

    return _cust(spark, sf_dir).select(
        "c_custkey",
        fixed_partitions_partitioner(F.col("c_name"), 32, subset=[2, 5, 11], deterministic=True).alias("partition"),
    )


def _b5_audit_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: per-batch delivery accounting — the reference's only aggregation
    (AuditMessage.numMessages per topic)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.col("source").alias("topic"))
        .agg(F.count("*").alias("numMessages"))
    )


def _logstream_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LogStream file ordering: (last-modified asc, name desc) with a
    deterministic tiebreak — common/LogStream.java:179-184."""
    from pyspark.sql.window import Window

    from singer_spark.functions import assert_bounded

    w = Window.orderBy(F.col("n_chars").asc(), F.col("source").desc(), F.col("doc_id").asc())
    return (
        assert_bounded(_docs(spark, sf_dir), what="logstream_order parity shim")
        .select("doc_id", F.row_number().over(w).cast("bigint").alias("pos"))
        .filter(F.col("pos") <= 50)
    )


def _w5_s3_key_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: S3 object-key templating ({{LOGNAME}}/%{date}/... shape) as a
    distributed column expression."""
    return _events(spark, sf_dir).select(
        "event_id",
        F.concat(
            F.lit("raw/"), F.col("event_type"), F.lit("/"),
            F.date_format("ts", "yyyy/MM/dd"), F.lit("/part-"),
            F.col("event_id").cast("string"),
        ).alias("s3_key"),
    )


def _events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (scalar-function surface §2.7)."""
    return _events(spark, sf_dir).select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


# ---------------------------------------------------------------------------
# Relational analytics (Catalyst surface; bench headliners)
# ---------------------------------------------------------------------------
def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import q1_pricing_summary

    return q1_pricing_summary(spark, sf_dir)


def _q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import q3_shipping_priority

    return q3_shipping_priority(spark, sf_dir)


def _q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import q5_region_revenue

    return q5_region_revenue(spark, sf_dir)


def _window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import top_orders_per_customer

    return top_orders_per_customer(spark, sf_dir)


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import sessionize_events

    return sessionize_events(spark, sf_dir)


def _hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import hourly_event_rollup

    return hourly_event_rollup(spark, sf_dir)


# ---------------------------------------------------------------------------
# Joins / set ops / grouping the reference lacks (SURVEY §2.7 — provided by
# Catalyst; as-of and range joins are custom operators in operators/joins.py)
# ---------------------------------------------------------------------------
def _asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the latest order (by o_orderdate) of
    its mapped customer at or before the event time.  One sort-shuffle, no
    range explosion — operators/joins.py."""
    from singer_spark.functions import qround
    from singer_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    right = (
        orders.groupBy((F.col("o_custkey") % 20).alias("user_id"),
                       F.col("o_orderdate"))
        .agg(F.max("o_orderkey").alias("o_orderkey"),
             F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"))
    )
    joined = asof_join(ev, right, key="user_id", left_time="ts",
                       right_time="o_orderdate",
                       payload_cols=["o_orderkey", "o_totalprice"])
    return joined.select("event_id", "o_orderkey",
                         qround(F.col("o_totalprice"), 2).alias("o_totalprice"))


def _asof_join_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 90-day tolerance: a match older than the bound is
    nulled, not replaced (pandas merge_asof semantics) —
    operators/joins.py:asof_join(tolerance=...)."""
    from singer_spark.functions import qround
    from singer_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    right = (
        orders.groupBy((F.col("o_custkey") % 20).alias("user_id"),
                       F.col("o_orderdate"))
        .agg(F.max("o_orderkey").alias("o_orderkey"),
             F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"))
    )
    joined = asof_join(ev, right, key="user_id", left_time="ts",
                       right_time="o_orderdate",
                       payload_cols=["o_orderkey", "o_totalprice"],
                       tolerance=F.expr("INTERVAL 90 DAYS"))
    return joined.select("event_id", "o_orderkey",
                         qround(F.col("o_totalprice"), 2).alias("o_totalprice"))


def _range_join_value_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast range join against a small tier table, then rollup."""
    from singer_spark.functions import qround
    from singer_spark.operators.joins import range_join_small

    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high")],
        ["lo", "hi", "tier"])
    ev = _events(spark, sf_dir)
    return (
        range_join_small(ev, tiers, "value")
        .groupBy("tier")
        .agg(F.count("*").alias("n"), qround(F.sum("value"), 2).alias("sum_value"))
    )


def _rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def _cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of the two dimensions)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def _grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL: (priority, status) detail rows +
    per-priority subtotals, nothing else — the shape ROLLUP/CUBE can't pick."""
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT o_orderpriority, o_orderstatus,
               count(*) AS n, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority))
    """)


def _salted_join_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈dim join (operators.joins.salted_join): lineitem
    joins orders spread over 16 salt buckets; aggregate result is identical
    to the unsalted join — which is exactly what the oracle checks."""
    from singer_spark.operators.joins import salted_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_orderpriority")
    return (
        salted_join(li, orders, "k", salt_buckets=16)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_lines"),
             F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("o_orderpriority")
    )


def _pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _events(spark, sf_dir)
    piv = ev.groupBy("user_id").pivot("event_type", types).agg(F.count(F.lit(1)))
    return piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in types]
    )


def _semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (has orders) + LEFT ANTI (none with status 'F')."""
    cust = _cust(spark, sf_dir)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    f_orders = orders.filter(F.col("o_orderstatus") == "F")
    return with_orders.join(f_orders, with_orders.c_custkey == f_orders.o_custkey,
                            "left_anti").select("c_custkey", "c_name")


def _set_ops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over customer key sets."""
    cust = _cust(spark, sf_dir)
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.filter(F.col("c_acctbal") > 1000).select("c_custkey")
    nation_one = cust.filter(F.col("c_nationkey") == 1).select("c_custkey")
    return building.intersect(rich).union(nation_one.exceptAll(building)).distinct()


def _text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams: explode → partial-agg count → top-k."""
    from singer_spark.functions import fan_out
    from singer_spark.operators.dedup import shingles_col

    docs = fan_out(_docs(spark, sf_dir))
    return (
        docs.select(F.explode(shingles_col("text", 3)).alias("ngram"))
        .groupBy("ngram").agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(20)
    )


def _moving_avg_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames: 7-day moving average + running total over the daily
    event-value series (ROWS BETWEEN — the sliding-frame operator)."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.sum("value").alias("day_value"))
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    wrun = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        F.floor(F.col("day_value") * 100 + F.lit(0.5)).cast("double").alias("day_value_c"),
        F.floor(F.avg("day_value").over(w7) * 100 + F.lit(0.5)).cast("double").alias("ma7_c"),
        F.floor(F.sum("day_value").over(wrun) * 100 + F.lit(0.5)).cast("double").alias("running_c"),
    ).orderBy("day")


def _percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per event type — the
    sort-based exact path; at scale swap to approx_percentile sketches."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            F.floor(F.expr("percentile(value, 0.5)") * 10000 + F.lit(0.5)).alias("p50_q"),
            F.floor(F.expr("percentile(value, 0.9)") * 10000 + F.lit(0.5)).alias("p90_q"),
            F.floor(F.expr("percentile(value, 0.99)") * 10000 + F.lit(0.5)).alias("p99_q"),
        )
        .orderBy("event_type")
    )


def _array_functions_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform/filter/aggregate/sort) over
    the tokenized documents — the scalar-function surface check."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    longs = F.filter(toks, lambda t: F.length(t) > 6)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(longs).alias("n_long"),
        F.aggregate(F.transform(toks, lambda t: F.length(t)),
                    F.lit(0), lambda a, x: a + x).alias("char_sum"),
        F.element_at(F.array_sort(toks), 1).alias("first_token"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias("top3_sorted"),
    )


def _session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in `session_window` (the streaming sessionizer's batch form):
    30-minute-gap event-time sessions per user.  Twin of the lag/cumsum
    `sessionize_events` — same boundaries, produced by Spark's native
    session-window operator (singer_spark.streaming.streaming_sessionize)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events", "session_value",
        )
        .orderBy("user_id", "session_start")
    )


def _distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact daily distinct users (the approx sketch twin is rows-only)."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("n_users"),
             F.count("*").alias("n_events"))
    )


def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing layout (distributed prefix sum — bucketed
    offsets, no global single-task window); the oracle is the same layout
    as one SQL running sum."""
    from singer_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), max_len=512, bucket_width=100)


def _pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(window, document) slice manifest (r12) — the dataloader's
    loss-mask/random-access table: for every 512-token training window,
    which docs compose it, each slice's offset within its doc and
    within the window, and its length — packing.pack_manifest over the
    pack_sequences layout; pure integer arithmetic, one explode, no
    extra shuffle.  The oracle extends the cumsum pack replay with a
    generate_series explode."""
    from singer_spark.operators.packing import pack_manifest, pack_sequences

    packed = pack_sequences(_docs(spark, sf_dir), max_len=512,
                            bucket_width=100)
    return pack_manifest(packed, max_len=512).orderBy("chunk_id", "doc_id")


def _window_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window collator arrays (r13, VERDICT r12 task #6): for every
    512-token training window, the documents composing it in position
    order (ids / window offsets / slice lengths) plus segment_ids — the
    position->segment attention-reset mask a packing-aware loss mask is
    an equality test on — packing.window_boundaries over the
    pack_sequences layout.  Arrays are built JVM-side
    (sort_array/transform/filter); the oracle replays them as DuckDB
    ordered-list aggregates and a list comprehension."""
    from singer_spark.operators.packing import (
        pack_sequences,
        window_boundaries,
    )

    packed = pack_sequences(_docs(spark, sf_dir), max_len=512,
                            bucket_width=100)
    return window_boundaries(packed, max_len=512).orderBy("chunk_id")


def _bin_boundaries_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-verifying per-bin collator-array audit (r13) —
    packing.bin_boundaries over the FFD layout.  FFD is sequential (not
    SQL-expressible), so the pack_bins_audit discipline applies: every
    SQL-checkable array invariant is recomputed IN-PLAN and emitted as
    a boolean the oracle pins true — per bin, fit (fill <= max_len or a
    flagged oversize singleton), tiling (doc_starts are exact prefix
    sums of seg_lens from 0), order (seg_lens non-increasing — FFD's
    placement order), pad consistency — alongside exact conservation
    aggregates (total docs, total tokens) the oracle derives
    independently from the documents table, which the hash compare then
    enforces against the arrays."""
    from singer_spark.operators.packing import bin_boundaries, pack_bins

    b = pack_bins(_docs(spark, sf_dir), max_len=256, bucket_width=100)
    bb = bin_boundaries(b, max_len=256)
    fit = (F.col("fill") <= 256) | \
        (F.col("oversize_bin") & (F.col("n_docs") == 1))
    tiling = (
        (F.element_at("doc_starts", 1) == 0)
        & F.expr("forall(sequence(1, size(seg_lens) - 1),"
                 " k -> element_at(doc_starts, k + 1) ="
                 " element_at(doc_starts, k) + element_at(seg_lens, k))")
        & (F.element_at("doc_starts", -1) + F.element_at("seg_lens", -1)
           == F.col("fill")))
    order = F.expr(
        "seg_lens = reverse(array_sort(seg_lens))")
    pad_ok = F.col("pad") == F.greatest(
        F.lit(0).cast("bigint"), F.lit(256) - F.col("fill"))
    per_bin = bb.select(
        F.col("n_docs").cast("bigint").alias("n_docs"), "fill",
        fit.alias("_fit"), tiling.alias("_tile"), order.alias("_ord"),
        pad_ok.alias("_pad"),
        (~F.col("oversize_bin")).cast("bigint").alias("_reg"),
        F.when(~F.col("oversize_bin"), F.col("fill"))
        .otherwise(F.lit(0)).alias("_regfill"))
    return per_bin.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.sum("fill").cast("bigint").alias("total_tokens"),
        F.min("_fit").alias("all_fit"),
        F.min("_tile").alias("tiling_ok"),
        F.min("_ord").alias("order_ok"),
        F.min("_pad").alias("pad_ok"),
        # anyfit bound over the REGULAR bins (the pack_bins_audit bound)
        (F.sum("_reg")
         <= F.ceil(F.lit(2.0) * F.sum("_regfill") / F.lit(256)) + 1)
        .alias("bins_bound_ok"))


def _pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.packing import pack_sequences, packing_stats

    return packing_stats(pack_sequences(_docs(spark, sf_dir), max_len=512,
                                        bucket_width=100), max_len=512)


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 8-gram with the
    'benchmark' slice (every 50th doc stands in for an eval set)."""
    from singer_spark.operators.text_analysis import decontaminate

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate(docs, benchmark, k=8)


def _semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine contamination screen (r8): hash-embed corpus and
    benchmark slice, flag docs whose max benchmark cosine >= 0.8 — the
    paraphrase-robust complement of the exact 8-gram gate
    (text_analysis.semantic_decontaminate).  The oracle reuses the
    hash-embed CTE for both sides and replays the qround-then-argmax
    rule."""
    from singer_spark.operators.text_analysis import semantic_decontaminate

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return semantic_decontaminate(docs, benchmark,
                                  threshold=0.8).orderBy("id")


def _contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-benchmark-item leak counts (which eval items are burned, and by
    how many corpus docs / distinct grams) — the benchmark-side aggregate
    of the decontamination screen."""
    from singer_spark.operators.text_analysis import contamination_report

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return contamination_report(docs, benchmark, k=8)


def _decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: cut only the contaminated 8-gram
    windows (benchmark = every 50th doc), keep the rest of each doc."""
    from singer_spark.operators.text_analysis import decontaminate_spans

    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    return decontaminate_spans(docs, benchmark, k=8)


def _length_matched_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-resample the corpus to the length distribution of a
    'curated' slice (doc_id % 7 == 0) over log2 token-length bins."""
    from singer_spark.operators.text_analysis import length_matched_sample

    docs = _docs(spark, sf_dir)
    reference = docs.filter(F.col("doc_id") % 7 == 0)
    return length_matched_sample(docs, reference)


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-source subset: exactly min(10, |source|) docs per source,
    deterministic salted-hash rank (training-set class balancing)."""
    from singer_spark.operators.text_analysis import stratified_sample_k

    return (stratified_sample_k(_docs(spark, sf_dir), "source", 10)
            .select("doc_id", "source"))


def _corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing: fill 30% of the corpus token budget per-source,
    weighted 2:1 toward sources src0-src4, greedy deterministic hash order
    (operators/text_analysis.py:corpus_mix_sample)."""
    from singer_spark.operators.text_analysis import corpus_mix_sample

    weight = F.when(
        F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("int") < 5,
        F.lit(2.0)).otherwise(F.lit(1.0))
    return corpus_mix_sample(_docs(spark, sf_dir), weight, token_frac=0.3)


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile: top-10 terms by TF-IDF
    (operators/text_analysis.py:tfidf_top_terms)."""
    from singer_spark.operators.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=10)


def _global_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0-based ids in doc_id order WITHOUT the single-task
    global window — range shuffle + per-partition offsets
    (operators/ids.py:assign_global_ids)."""
    from singer_spark.operators.ids import assign_global_ids

    return (assign_global_ids(_docs(spark, sf_dir), "doc_id", num_partitions=8)
            .select("doc_id", "global_id"))


def _corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: rank in md5-hash order +
    round-robin shard, computed with the range-shuffle id construction
    (no single-task global sort) — operators/ids.py:corpus_shuffle."""
    from singer_spark.operators.ids import corpus_shuffle

    return (corpus_shuffle(_docs(spark, sf_dir), num_shards=8,
                           num_partitions=8)
            .orderBy("doc_id"))


def _skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics: top-20 (event_type, user_id) keys with
    share and ratio-to-average — the measured input to the salted-join
    decision (operators/diagnostics.py:key_skew_report)."""
    from singer_spark.operators.diagnostics import key_skew_report

    return key_skew_report(_events(spark, sf_dir),
                           ["event_type", "user_id"], top_n=20)


def _approx_percentiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK/KLL-style quantile sketch (`approx_percentile`, accuracy 1/1e4) —
    the 100 TB path where the exact sort-based percentile is a full
    shuffle+sort.  SELF-VERIFYING against the sketch's own published
    guarantee: the returned value is an actual data element whose rank
    range [count(<v)+1, count(<=v)] must intersect
    [q*n - eps*n, q*n + eps*n] with eps = 1/accuracy (+1 slack for the
    discrete-rank boundary).  The query joins the per-group sketch answer
    back to the events (broadcast — one row per group) and counts ranks,
    emitting engine-independent booleans plus the SQL-checkable group
    cardinality, so the driver's plain DuckDB oracle value-checks it
    (was rows-only r1-r6: no tolerance comparator in the driver)."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    pct = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)")
    agg = ev.groupBy("event_type").agg(pct.alias("p"))
    j = ev.join(F.broadcast(agg), "event_type")

    def rank_cols(i: int, q: float):
        le = F.sum((F.col("value") <= F.col("p")[i]).cast("long"))
        lt = F.sum((F.col("value") < F.col("p")[i]).cast("long"))
        return le.alias(f"le{i}"), lt.alias(f"lt{i}"), F.lit(q).alias(f"q{i}")

    ranks = j.groupBy("event_type").agg(
        F.count("value").alias("n_events"),
        *[c for i, q in enumerate((0.5, 0.9, 0.99)) for c in rank_cols(i, q)],
    )

    def ok(i: int):
        target = F.col(f"q{i}") * F.col("n_events")
        slack = F.col("n_events") / F.lit(10000.0) + F.lit(1.0)
        return ((F.col(f"lt{i}") + 1 <= target + slack)
                & (F.col(f"le{i}") >= target - slack))

    return ranks.select(
        "event_type", "n_events",
        ok(0).alias("p50_ok"), ok(1).alias("p90_ok"), ok(2).alias("p99_ok"),
    ).orderBy("event_type")


def _approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch distinct count, SELF-VERIFYING: the same query computes
    the exact distinct count and emits (group, exact, within_tol) where
    within_tol holds iff |approx - exact| <= 3*rsd*exact (HLL++ at
    rsd=0.02 is within ±6% with overwhelming probability, and the sketch
    is deterministic for a fixed dataset).  `exact_users` is checkable by
    plain DuckDB SQL, making the row hash carry real values; the boolean
    carries the sketch-accuracy invariant (was rows-only r1-r6)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = F.greatest(F.lit(1.0), F.col("exact_users") * F.lit(0.06))
    return agg.select(
        "event_type", "exact_users",
        (F.abs(F.col("approx") - F.col("exact_users")) <= tol).alias("within_tol"),
    )


# ---------------------------------------------------------------------------
# Extended: dedup / similarity / text analysis / multimodal
# ---------------------------------------------------------------------------
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=4, threshold=0.5)


def _dedup_jaccard_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngram-jaccard under a global candidate-pair budget: the df cap
    tightens via an eager histogram-cumsum job (operators/dedup.py:
    _pair_budget_threshold) so a boilerplate flood degrades to a measured
    recall loss instead of a quadratic block; every emitted pair's
    `shared` stays exact via the hot-array correction."""
    from singer_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), k=4, threshold=0.5,
                               pair_budget=20_000)


def _pair_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dropped-pairs audit for the budgeted jaccard — what the cap
    gave up (no-silent-caps discipline)."""
    from singer_spark.operators.dedup import shingle_pair_budget_report

    return shingle_pair_budget_report(_docs(spark, sf_dir), k=4,
                                      pair_budget=20_000)


def _corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version change feed (operators/cdc.py:corpus_snapshot_diff)
    over two deterministic snapshot views of the documents table: 'old'
    drops doc_id % 7 == 0, 'new' drops doc_id % 5 == 0 and rewrites the
    text of doc_id % 11 == 0 — yielding added, removed, AND changed rows
    without touching the fixture."""
    from singer_spark.operators.cdc import corpus_snapshot_diff

    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = (docs.where(F.col("doc_id") % 5 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 11 == 0,
                              F.concat(F.col("text"), F.lit(" v2")))
                       .otherwise(F.col("text"))))
    return corpus_snapshot_diff(old, new)


def _minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH blocking quality audit: recall of the banded-minhash pair set
    against the exact inverted-index jaccard pairs at the same threshold
    (operators/dedup.py:minhash_recall_report)."""
    from singer_spark.operators.dedup import minhash_recall_report

    return minhash_recall_report(_docs(spark, sf_dir), k=4, threshold=0.5,
                                 num_hashes=8, bands=4)


def _cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content overlap between sources (4-gram digest Jaccard)
    — the multi-snapshot dataset-hygiene matrix: shared boilerplate and
    partial copies register even with no byte-identical documents
    (operators/dedup.py:cross_source_overlap)."""
    from singer_spark.operators.dedup import cross_source_overlap

    return cross_source_overlap(_docs(spark, sf_dir), unit="kgram", k=4)


def _debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst suppression: drop events within 300s of the previous event
    with the same (user_id, event_type) — lag semantics, chained bursts
    collapse to their first event (queries.py:debounce_events)."""
    from singer_spark.queries import debounce_events

    return debounce_events(_events(spark, sf_dir), interval_seconds=300)


def _label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label centroid vectors — class
    separation / drift diagnostic (similarity.py:label_centroid_sim)."""
    from singer_spark.operators.similarity import label_centroid_sim

    return label_centroid_sim(_emb(spark, sf_dir))


def _dedup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment screen: overlap coefficient |A∩B|/min(|A|,|B|) over
    4-shingle sets — catches a short doc quoted inside a long one, which
    Jaccard misses (operators/dedup.py:overlap_pairs)."""
    from singer_spark.operators.dedup import overlap_pairs

    return overlap_pairs(_docs(spark, sf_dir), k=4, threshold=0.6)


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), k=4, num_hashes=8, bands=4, threshold=0.5)


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup completion: near-dup pairs (n-gram Jaccard >= 0.5) → connected
    components → canonical doc per cluster (iterative min-label propagation;
    the step that turns pairwise dedup into keep/drop decisions)."""
    from singer_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup_clusters(docs, pairs).orderBy("doc_id")


def _leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: the split hash is taken over
    each near-dup component's canonical id, so no jaccard>=0.5 pair ever
    straddles train/val (the eval-contamination mode a per-doc hash split
    cannot prevent) — operators/dedup.py:leakage_safe_split."""
    from singer_spark.operators.dedup import leakage_safe_split, ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return leakage_safe_split(docs, pairs).orderBy("doc_id")


def _dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup: the first half of the corpus (doc_id < 250)
    plays yesterday's accumulated fingerprint table; the second half is
    today's increment — docs already seen drop, in-increment dups collapse."""
    from singer_spark.operators.dedup import dedup_incremental

    docs = _docs(spark, sf_dir)
    seen = docs.filter(F.col("doc_id") < 250).select(F.md5("text").alias("sig")).distinct()
    return dedup_incremental(docs.filter(F.col("doc_id") >= 250), seen)


def _dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same increment as `dedup_incremental`, through the broadcast Bloom
    prefilter — the result is bit-identical to the exact path (false
    positives die in the residual anti-join), so both share one oracle."""
    from singer_spark.operators.dedup import dedup_incremental_bloom

    docs = _docs(spark, sf_dir)
    seen = docs.filter(F.col("doc_id") < 250).select(F.md5("text").alias("sig")).distinct()
    return dedup_incremental_bloom(docs.filter(F.col("doc_id") >= 250), seen)


def _dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup: history = signatures of docs < 250, increment
    = docs >= 250; survivors' signature rows come back for appending."""
    from singer_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
    )

    docs = _docs(spark, sf_dir)
    seen = minhash_signatures(docs.filter(F.col("doc_id") < 250))
    return minhash_lsh_incremental(docs.filter(F.col("doc_id") >= 250), seen,
                                   threshold=0.5)


def _segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: 20-word segments, first occurrence survives,
    documents rebuilt from their surviving segments."""
    from singer_spark.operators.dedup import segment_dedup

    return segment_dedup(_docs(spark, sf_dir), words_per_segment=20)


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: seeded 8-cluster quantizer,
    within-cluster cosine >= 0.9 drops all but the lowest-id member of each
    near-dup set."""
    from singer_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), n_clusters=8, threshold=0.9)


def _image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over the media adapter: non-PPM payloads
    take the content-hash fallback (exact-dup bits), so the oracle is the
    md5-bits hamming join; the PPM pixel path is pytest-covered
    (test_image_phash_near_dup_pairs)."""
    from singer_spark.operators.multimodal import (
        documents_as_media,
        image_near_dup_pairs,
    )

    docs = _docs(spark, sf_dir)
    # re-encoded copies of the first 50 payloads (id + 10000) — the corpus
    # has no byte-identical documents, so plant the duplicates the
    # fallback path is supposed to catch
    dups = (docs.filter(F.col("doc_id") < 50)
            .select((F.col("doc_id") + 10000).alias("doc_id"), "text"))
    media = documents_as_media(docs.select("doc_id", "text").unionByName(dups))
    return image_near_dup_pairs(media, max_hamming=6)


def _ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval overlap audit: even doc_ids play the training corpus,
    odd ids the eval set; per eval doc, the fraction of 6-grams never
    seen in training."""
    from singer_spark.operators.text_analysis import ngram_novelty

    docs = _docs(spark, sf_dir)
    return ngram_novelty(docs.filter(F.col("doc_id") % 2 == 1),
                         docs.filter(F.col("doc_id") % 2 == 0), k=6)


def _readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import readability

    return readability(_docs(spark, sf_dir))


def _compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib-ratio entropy proxy, SELF-VERIFYING (r7): zlib is not a SQL
    function, so instead of emitting the unverifiable compressed size the
    query certifies it in-plan — decompress(compress(t)) == t plus the
    RFC 1950/51 worst-case bound — and emits (doc_id, raw_bytes,
    bound_ok, roundtrip_ok), all plain-SQL-checkable.  Byte-exact zlib
    parity stays covered by `tests/test_training_ops.py`'s operator tests
    (was rows-only r1-r6 when sampled)."""
    from singer_spark.operators.text_analysis import compression_selfcheck

    return compression_selfcheck(_docs(spark, sf_dir))


def _source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL from the corpus unigram distribution (Jeffreys-
    smoothed over the corpus vocab; one token-count shuffle, everything
    downstream PAIR-sized — the absent-token smoothing tail is analytic,
    no vocab × sources grid) — text_analysis.source_unigram_kl."""
    from singer_spark.operators.text_analysis import source_unigram_kl

    return source_unigram_kl(_docs(spark, sf_dir))


def _source_kl_state_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch replay of the STREAMING source-KL estimator's state-fold
    math (streaming/stateful.py `mg_merge_by_source` +
    `source_kl_report`), made driver-checkable (VERDICT r7 next #8): the
    corpus is folded chunk by chunk (doc_id % 4 — four simulated
    micro-batches) through the same per-source Misra-Gries merge the
    streaming fold runs.  What leaves the plan is SQL-replayable values
    plus contract booleans the oracle pins true (the
    self-verifying-oracle discipline) — and the booleans are the
    estimator's actual THEOREMS, not wishes:

    - n_tokens comes FROM THE FOLDED STATE; the oracle recomputes it
      from the raw corpus, so totals-exactness is a VALUE check;
    - est_nonneg: the coarse estimate is a proper KL on shared bins
      (Gibbs' inequality);
    - mg_sound: per source, every surviving head count is an
      undercount (cnt ≤ exact) within the mergeable-summaries error,
      max(exact − cnt)·(cap+1) ≤ n_s − m_s (Agarwal et al. 2012).

    The smoothed estimate is NOT pinned ≤ the vocab-smoothed exact KL:
    measured at sf0.01 it sits ~5-10% ABOVE it (Jeffreys mass over
    k_s+1 ≪ V bins dilutes the coarse side less than the V-bin exact
    side) — the unsmoothed DPI bound does not survive mismatched
    smoothing, and pinning a falsehood is exactly what this gate
    exists to prevent.  kl_exact rides along as the fully
    SQL-replayable drift reference.

    Output: (source, n_tokens, kl_exact, est_nonneg, mg_sound)."""
    from singer_spark.operators.text_analysis import source_unigram_kl
    from singer_spark.streaming.stateful import (
        mg_merge_by_source,
        source_kl_report,
    )

    docs = _docs(spark, sf_dir)
    cap = 64
    toks = (docs.select("doc_id", "source",
                        F.explode(F.split("text", " ")).alias("token"))
            .where(F.col("token") != ""))
    state = None
    for i in range(4):
        chunk = toks.where(F.col("doc_id") % 4 == i)
        batch_sum = (chunk.groupBy("source", "token")
                     .agg(F.count("*").alias("cnt")))
        batch_tot = (chunk.groupBy("source").agg(F.count("*").alias("cnt"))
                     .select("source",
                             F.lit(None).cast("string").alias("token"),
                             "cnt"))
        if state is not None:
            batch_sum = batch_sum.unionByName(
                state.where(F.col("token").isNotNull()))
            batch_tot = (batch_tot.unionByName(
                state.where(F.col("token").isNull()))
                .groupBy("source", "token").agg(F.sum("cnt").alias("cnt")))
        # each round references the prior state TWICE (head rows +
        # totals) and the report fans out further: without a cache the
        # round-1 subtree replays 2^rounds times.  Summary-sized frames;
        # registered for release_cache_handles()
        from singer_spark.functions import maybe_persist

        state = maybe_persist(
            mg_merge_by_source(batch_sum, cap).unionByName(batch_tot), True)

    exact_pairs = (toks.groupBy("source", "token")
                   .agg(F.count("*").alias("n_st")))
    head = state.where(F.col("token").isNotNull())
    mg = (head.join(exact_pairs, ["source", "token"])
          .groupBy("source")
          .agg(F.max(F.col("n_st") - F.col("cnt")).alias("max_under"),
               F.min(F.col("n_st") - F.col("cnt")).alias("min_under"),
               F.sum("cnt").alias("m_s")))
    tot_state = (state.where(F.col("token").isNull())
                 .select("source", F.col("cnt").alias("n_tokens")))
    est = source_kl_report(state).select("source", "kl_est")
    exact = (source_unigram_kl(docs)
             .select("source", F.col("n_tokens").alias("_n_s"),
                     F.col("kl").alias("kl_exact")))
    mg_sound = ((F.col("min_under") >= 0)
                & (F.col("max_under") * (cap + 1)
                   <= F.col("_n_s") - F.col("m_s")))
    return (tot_state.join(est, "source").join(exact, "source")
            .join(mg, "source")
            .select("source", "n_tokens", "kl_exact",
                    (F.col("kl_est") >= 0).alias("est_nonneg"),
                    mg_sound.alias("mg_sound"))
            .orderBy("source"))


def _bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning over the documents table: 12 merge steps, pair
    stats on the frequency-weighted distinct-word table (the corpus is
    scanned once) — since r9 through the driver-local trainer
    (text_analysis.bpe_learn_merges_local: one distributed
    tokenize+count job, local incremental merge loop — the HF trainer
    shape; value-identical to the distributed bpe_learn_merges, pinned
    by a pytest cross-check).  The oracle replays every merge step in
    SQL via the same sentinel-framed literal-replace construction."""
    from singer_spark.operators.text_analysis import bpe_learn_merges_local

    return bpe_learn_merges_local(_docs(spark, sf_dir), n_merges=12)


def _bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 12 BPE merges on the corpus, then tokenize every document
    with them — the end-to-end tokenizer path (text_analysis.bpe_encode);
    the oracle replays learn + encode in one SQL chain."""
    from singer_spark.operators.text_analysis import (
        bpe_encode,
        bpe_learn_merges_local,
    )

    docs = _docs(spark, sf_dir)
    merges = [(r.left_sym, r.right_sym)
              for r in bpe_learn_merges_local(docs, n_merges=12).collect()]
    return bpe_encode(docs, merges).orderBy("doc_id")


def _bpe_encode_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 12 BPE merges, then tokenize with the RANK-BASED encoder —
    the production path (text_analysis.bpe_encode_ranked): each DISTINCT
    word is encoded once in an Arrow kernel whose cost is independent of
    the merge count, then joined back by word; plan size and job count
    are constant in n_merges where the replace-chain twin grows
    O(n_merges) plan nodes (VERDICT r7 wrong #1).  Value-identical to
    `bpe_encode`, so the same learn-then-encode SQL replay is the
    oracle."""
    from singer_spark.operators.text_analysis import (
        bpe_encode_ranked,
        bpe_learn_merges_local,
    )

    docs = _docs(spark, sf_dir)
    merges = [(r.left_sym, r.right_sym)
              for r in bpe_learn_merges_local(docs, n_merges=12).collect()]
    return bpe_encode_ranked(docs, merges).orderBy("doc_id")


def _dedup_spans_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment span dedup: history = docs with doc_id % 7 == 0
    (their distinct 8-gram digests are the accumulated state), increment
    = the rest; cut windows seen in history OR duplicated within the
    increment (owner = lowest id) — dedup.dedup_spans_incremental.  The
    oracle replays both hit sources and the coverage rebuild in SQL."""
    from singer_spark.operators.dedup import dedup_spans_incremental, span_grams

    docs = _docs(spark, sf_dir)
    seen = span_grams(docs.where(F.col("doc_id") % 7 == 0), k=8)
    inc = docs.where(F.col("doc_id") % 7 != 0)
    return dedup_spans_incremental(inc, seen, k=8)


def _dedup_spans_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_run decision table for the span-dedup family: maximal
    duplicated-run length histogram with the reverse-cumulative token
    mass each threshold would cut — dedup.dedup_spans_report; the oracle
    replays digests -> owner -> islands -> histogram -> cumsum in SQL."""
    from singer_spark.operators.dedup import dedup_spans_report

    return dedup_spans_report(_docs(spark, sf_dir), k=8)


def _lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding tuning table (MMDS ch.3 S-curve; datasketch
    _optimal_param): every (b, r) split of 64 permutations with its 50%
    crossover, probability at the 0.5 target, and uniform-prior FP/FN
    error areas — dedup.lsh_tuning_report; closed-form arithmetic over a
    generated grid, replayed exactly in SQL."""
    from singer_spark.operators.dedup import lsh_tuning_report

    return lsh_tuning_report(spark, n_perm=64, threshold=0.5)


def _lsh_autoband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tuning table's total_err argmin row — the (b, r) that
    `minhash_lsh_pairs(bands=None)` now auto-selects (r10, VERDICT r9
    task #6) — cross-checked against the local `optimal_bands` twin:
    the query embeds the twin's pick as literals and emits an agreement
    boolean; the oracle re-derives the argmin in SQL and pins the
    boolean true, so a twin/report divergence hash-mismatches."""
    from singer_spark.operators.dedup import lsh_tuning_report, optimal_bands

    b, r = optimal_bands(64, 0.5)
    rep = lsh_tuning_report(spark, n_perm=64, threshold=0.5)
    return (rep.orderBy(F.col("total_err").asc(), F.col("b").asc()).limit(1)
            .select("b", "r", "total_err",
                    F.lit(b).cast("int").alias("local_b"),
                    F.lit(r).cast("int").alias("local_r"),
                    ((F.col("b") == F.lit(b)) & (F.col("r") == F.lit(r)))
                    .alias("twin_agrees")))


def _ann_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle (r10, VERDICT r9 task #5), self-verifying
    (the driver's DuckDB can't load parquet models): train the IVFADC
    model once, persist it through `save_ann_model` (centroids +
    codebooks + the `ivfpq_encode` codes table via write_dataset),
    reload with `load_ann_model`, and probe with `model=` AND
    `encoded=` — zero Lloyd iterations and zero corpus encodes on the
    probe path.  The query emits per-query booleans comparing the
    probe-only top-k with the train-in-place path plus an exact ndarray
    round-trip flag; the oracle pins every boolean true."""
    import hashlib
    import os
    import tempfile

    import numpy as np

    from singer_spark.operators.similarity import (
        ivfpq_ann_topk,
        ivfpq_encode,
        ivfpq_train_model,
        load_ann_model,
        save_ann_model,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    C, CB = ivfpq_train_model(emb, n_clusters=16, m=8, kc=16,
                              iters_coarse=1, iters_pq=1)
    # pid-unique + pin-then-rmtree (ADVICE r11 #5 discipline, applied
    # family-wide): no leak (cleanup below) and no cross-process
    # interleaving on a shared fixture path
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    path = os.path.join(
        tempfile.gettempdir(),
        f"singer_ann_model_{uid}_{os.getpid()}_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    save_ann_model(spark, path, "ivfpq", centroids=C, codebooks=CB,
                   codes=ivfpq_encode(emb, (C, CB)))
    M = load_ann_model(spark, path)
    arrays_ok = bool(np.array_equal(M["C"], C)
                     and np.array_equal(M["CB"], CB))

    def flat(df: DataFrame, name: str) -> DataFrame:
        return (df.groupBy("query_id")
                .agg(F.concat_ws("|", F.array_sort(F.collect_list(
                    F.concat_ws(":", "neighbor_id", "rank", "adc_micro"))))
                    .alias(name)))

    want = ivfpq_ann_topk(emb, q, 5, nprobe=4, model=(C, CB))
    got = ivfpq_ann_topk(emb, q, 5, nprobe=4,
                         model=(M["C"], M["CB"]), encoded=M["codes"])
    res = (flat(want, "_w").join(flat(got, "_g"), "query_id", "full")
           .select("query_id",
                   (F.col("_w") == F.col("_g")).alias("probe_matches_train"),
                   F.lit(arrays_ok).alias("arrays_roundtrip"))
           .orderBy("query_id")
           .localCheckpoint(eager=True))
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return res


def _ann_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN encode-append (r11, VERDICT r10 task #4), the
    daily-increment analog the dedup family already has, self-verifying
    (the driver's DuckDB can't load parquet models): train the IVFADC
    model on the BASE corpus only, persist base codes, then
    `append_ann_codes` encodes ONLY the increment (one narrow Arrow
    pass over its own rows — the base is never re-read) and appends to
    the stored codes table.  The query probes the grown table
    (`encoded=`) and the full re-encode of base+increment side by side
    and emits per-query agreement booleans plus the codes-table row
    count; `n_increment` is re-derived exactly by the oracle from the
    split predicate."""
    import hashlib
    import os
    import tempfile

    from singer_spark.operators.similarity import (
        append_ann_codes,
        ivfpq_ann_topk,
        ivfpq_encode,
        ivfpq_train_model,
        save_ann_model,
    )

    emb = _emb(spark, sf_dir)
    # increment = ids ≡ 7 (mod 10) above the seed range: the base keeps
    # every id < 32 (ivfpq_train_model's centroid + codebook seeds)
    incr_pred = ((F.col("vec_id") % 10 == 7) & (F.col("vec_id") >= 32))
    base, incr = emb.filter(~incr_pred), emb.filter(incr_pred)
    C, CB = ivfpq_train_model(base, n_clusters=16, m=8, kc=16,
                              iters_coarse=1, iters_pq=1)
    # deterministic per-(uid, sf_dir) location, OVERWRITTEN each run
    # (the ann_model_roundtrip leak discipline — codes are corpus-sized)
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    # pid-unique (ADVICE r11 #5: two concurrent driver runs over one
    # fixture interleaved save/append on a shared index and could flake
    # the agreement booleans) + eager-pin-then-rmtree below keeps the
    # leak discipline the deterministic path bought (review r10 #8)
    path = os.path.join(
        tempfile.gettempdir(),
        f"singer_ann_incr_{uid}_{os.getpid()}_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    save_ann_model(spark, path, "ivfpq", centroids=C, codebooks=CB,
                   codes=ivfpq_encode(base, (C, CB)))
    grown = append_ann_codes(spark, path, incr)
    n_codes = grown.count()
    n_incr = incr.count()
    n_corpus = emb.count()

    q = emb.filter(F.col("vec_id") < 8)

    def flat(df: DataFrame, name: str) -> DataFrame:
        return (df.groupBy("query_id")
                .agg(F.concat_ws("|", F.array_sort(F.collect_list(
                    F.concat_ws(":", "neighbor_id", "rank", "adc_micro"))))
                    .alias(name)))

    want = ivfpq_ann_topk(emb, q, 5, nprobe=4, model=(C, CB))
    got = ivfpq_ann_topk(emb, q, 5, nprobe=4, model=(C, CB),
                         encoded=grown)
    res = (flat(want, "_w").join(flat(got, "_g"), "query_id", "full")
           .select("query_id",
                   (F.col("_w") == F.col("_g"))
                   .alias("incremental_matches_full"),
                   F.lit(n_codes == n_corpus).alias("codes_cover_corpus"),
                   F.lit(n_incr).cast("bigint").alias("n_increment"))
           .orderBy("query_id")
           # PIN before cleanup: the driver collects AFTER this returns,
           # and the plan reads the index files the rmtree removes
           .localCheckpoint(eager=True))
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    return res


def _ann_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tombstone deletion + compaction (r11), self-verifying: every
    vec_id ≡ 3 (mod 7) is deleted from the stored index via an id-sized
    tombstone append (`delete_ann_codes` — the codes table is never
    rewritten), probed, then `compact_ann_codes` folds the tombstones
    in and the probe re-runs over the rewritten table.  Both probes are
    pinned equal to a full re-encode of the corpus MINUS the deleted
    rows; `n_deleted` is re-derived exactly by the oracle from the
    predicate."""
    import hashlib
    import os
    import shutil
    import tempfile

    from singer_spark.operators.similarity import (
        compact_ann_codes,
        delete_ann_codes,
        ivfpq_ann_topk,
        ivfpq_encode,
        ivfpq_train_model,
        load_ann_model,
        save_ann_model,
    )

    emb = _emb(spark, sf_dir)
    del_pred = F.col("vec_id") % 7 == 3
    C, CB = ivfpq_train_model(emb, n_clusters=16, m=8, kc=16,
                              iters_coarse=1, iters_pq=1)
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    # pid-unique + pin-then-rmtree (ADVICE r11 #5), like the incremental
    # probe; the stale-tombstone hazard the old pre-rmtree handled is
    # gone structurally — save_ann_model(codes=...) now resets pointer +
    # tombstones itself (r12 versioned layout)
    path = os.path.join(
        tempfile.gettempdir(),
        f"singer_ann_del_{uid}_{os.getpid()}_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    save_ann_model(spark, path, "ivfpq", centroids=C, codebooks=CB,
                   codes=ivfpq_encode(emb, (C, CB)))
    live = delete_ann_codes(spark, path, emb.filter(del_pred))
    n_live = live.count()
    n_deleted = emb.filter(del_pred).count()
    n_corpus = emb.count()

    q = emb.filter(F.col("vec_id") < 8)

    def flat(df: DataFrame, name: str) -> DataFrame:
        return (df.groupBy("query_id")
                .agg(F.concat_ws("|", F.array_sort(F.collect_list(
                    F.concat_ws(":", "neighbor_id", "rank", "adc_micro"))))
                    .alias(name)))

    want = ivfpq_ann_topk(emb.filter(~del_pred), q, 5, nprobe=4,
                          model=(C, CB))
    # PIN the tombstone-phase probe before compacting: its plan reads
    # the tombstone files, which compact_ann_codes deletes — an unpinned
    # lazy frame would try to read them at final collect time
    got_tomb = ivfpq_ann_topk(emb, q, 5, nprobe=4, model=(C, CB),
                              encoded=live).localCheckpoint(eager=True)
    n_compacted = compact_ann_codes(spark, path)
    got_comp = ivfpq_ann_topk(emb, q, 5, nprobe=4, model=(C, CB),
                              encoded=load_ann_model(spark, path)["codes"])
    res = (flat(want, "_w")
           .join(flat(got_tomb, "_t"), "query_id", "full")
           .join(flat(got_comp, "_c"), "query_id", "full")
           .select("query_id",
                   (F.col("_w") == F.col("_t"))
                   .alias("tombstone_matches_reencode"),
                   (F.col("_w") == F.col("_c"))
                   .alias("compacted_matches_reencode"),
                   F.lit(n_live == n_corpus - n_deleted
                         and n_compacted == n_live)
                   .alias("counts_reconcile"),
                   F.lit(n_deleted).cast("bigint").alias("n_deleted"))
           .orderBy("query_id")
           .localCheckpoint(eager=True))
    shutil.rmtree(path, ignore_errors=True)
    return res


def _dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal duplicate-span removal (Lee et al. 2022 exact-
    substring style at 8-gram granularity): every shared 8-token window
    keeps its lowest-id copy and is cut everywhere else —
    operators/dedup.py dedup_spans; the oracle replays digests -> owner
    aggregation -> coverage filter in plain SQL."""
    from singer_spark.operators.dedup import dedup_spans

    return dedup_spans(_docs(spark, sf_dir), k=8)


def _dedup_spans_minrun(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_spans with Lee et al.'s minimum duplicated-run threshold:
    shared 8-gram windows stitch into maximal covered intervals
    (gaps-and-islands over hit starts) and only runs of >= 12 tokens are
    cut — incidental shared phrases survive, boilerplate runs go.  The
    oracle replays digests -> owner -> islands (running-max window) ->
    length filter -> coverage in plain SQL."""
    from singer_spark.operators.dedup import dedup_spans

    return dedup_spans(_docs(spark, sf_dir), k=8, min_run=12)


def _cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced selection over the embeddings table: Lloyd-train 8
    coarse clusters (2 iterations, the quantize-per-iteration replay
    discipline), budget each cluster by count^0.5 in exact integer
    arithmetic, pick per-cluster md5-rank — similarity.py
    cluster_balanced_sample.  The oracle replays training, assignment,
    integer budgets, and the ranked cut in plain SQL."""
    from singer_spark.operators.similarity import cluster_balanced_sample

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return cluster_balanced_sample(emb, k=100, n_clusters=8, iters=2,
                                   alpha=0.5)


def _dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    bag models on the raw corpus vs the src0 target domain, per-doc log
    importance weights, deterministic Gumbel top-50 without replacement
    — text_analysis.dsir_sample.  Models are 1024-row broadcasts, the
    corpus is featurized once, selection is TakeOrdered; the oracle
    replays featurize -> models -> score -> Gumbel -> cut in plain SQL
    (md5 feature hashing and md5-derived uniforms on both engines)."""
    from singer_spark.operators.text_analysis import dsir_sample

    docs = _docs(spark, sf_dir)
    # Column-predicate target: one corpus featurize feeds both models
    return dsir_sample(docs, F.col("source") == "src0",
                       k=50, n_buckets=1024)


def _quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, the CCNet / GPT-3 pipeline stage
    (Wenzek 2020 §4.4; Brown 2020 app. A): multinomial Naive Bayes
    trained on the src0 seed vs the rest in ONE aggregation pass,
    per-doc log-likelihood-ratio scores, keep = llr > 0 —
    text_analysis.nb_quality_scores.  The model is a ≤1000-row
    TakeOrdered-capped broadcast (Zipf mega-tokens ride a broadcast
    hash join, never a skewed sort-merge); the oracle replays
    tokenize -> class counts -> vocab cap -> smoothed cell ratios ->
    per-doc sum in plain SQL."""
    from singer_spark.operators.text_analysis import nb_quality_scores

    docs = _docs(spark, sf_dir)
    return nb_quality_scores(docs, F.col("source") == "src0",
                             max_vocab=1000)


def _quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold calibration for the learned quality gate (r12, VERDICT
    r11 task #6): ONE nb_quality_scores pass (same spec as
    quality_classifier), then the per-doc (llr, seed) pairs fan out over
    a broadcast threshold array and aggregate to |thresholds| rows of
    precision / recall / F1 / kept-fraction — the table a deployment
    reads to pick quality_model_threshold.  The oracle reuses the
    quality_classifier scoring replay and closes the sweep in SQL."""
    from singer_spark.operators.text_analysis import nb_calibration

    docs = _docs(spark, sf_dir)
    return nb_calibration(docs, F.col("source") == "src0",
                          thresholds=[-2.0, -1.0, 0.0, 1.0, 2.0],
                          max_vocab=1000)


def _corpus_to_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> training batches, end to end (r12, VERDICT r11 task
    #3): the corpus_pipeline_full gate chain (lang/quality/repetition/
    exact-dedup/decontaminate/train-split), unigram tokenizer TRAINED on
    the curated survivors (seed -> 1 hard-EM round -> 0.6 prune, the
    unigram_train_tokenize spec), every survivor encoded, and the piece
    counts packed into 256-piece training windows with the 1-row token-
    budget report broadcast on — curation.corpus_to_batches.  The
    oracle chains the stage oracles: gate CTEs -> curated relation ->
    the full trainer DP chain over it -> the pack_sequences cumsum
    replay over piece counts."""
    from singer_spark.curation import CurationConfig, corpus_to_batches

    docs = _docs(spark, sf_dir)
    cfg = CurationConfig(lang="en", min_quality=0.5,
                         repetition_screen=True, dedup="exact",
                         decontaminate_k=8, decontaminate_mode="drop",
                         split=True)
    return corpus_to_batches(docs, cfg,
                             benchmark=docs.filter(F.col("doc_id") % 50 == 0),
                             train_split_only=True, max_len=256,
                             max_multi=100, max_piece_len=4,
                             em_rounds=1, keep_ratio=0.6,
                             max_word_len=16)


def _corpus_diversity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of corpus_diversity: distinct-n via HLL++ sketches
    (constant per-task state; exact distinct counting is inherently
    linear in distinct-gram mass — measured 5-10× over 64× data) —
    text_analysis.corpus_diversity_approx.  Self-verifying: the audit
    arm computes the exact distinct in-plan and pins the estimate inside
    HLL++'s ±4·rsd envelope; the oracle re-derives the exact columns and
    pins the boolean."""
    from singer_spark.operators.text_analysis import corpus_diversity_approx

    return corpus_diversity_approx(_docs(spark, sf_dir))


def _text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-blocklist screen, the C4 §2.2 "bad words" gate (Raffel 2020;
    Dolma ships the same stage) demonstrated with a neutral fixture-word
    list — text_analysis.blocklist_screen.  Broadcast array literal +
    one JVM array filter per row, no shuffle; the oracle replays with
    list_contains over the same lowercased list."""
    from singer_spark.operators.text_analysis import blocklist_screen

    return blocklist_screen(_docs(spark, sf_dir), ["slow", "drop", "stale"])


def _cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid silhouette over the embeddings table
    (Lloyd-trained 8 clusters, 2 iterations — the cluster_balanced_sample
    quantizer) — similarity.cluster_silhouette.  a/b are cosine
    distances to the own/nearest-other centroid with the bit-identical
    left-to-right accumulation, s = (b−a)/max(a,b); the oracle replays
    training, the full cosine grid, and the top-2 pivot in SQL."""
    from singer_spark.operators.similarity import cluster_silhouette

    return cluster_silhouette(_emb(spark, sf_dir), n_clusters=8, iters=2)


def _pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-packed sequence layout audit (Krell et al. 2021 'packing
    without cross-document contamination'): first-fit-decreasing solved
    on the LENGTH HISTOGRAM (≤ max_len rows whatever the corpus size),
    closed-form rank→bin mapping, docs never straddle windows —
    packing.pack_bins / pack_bins_audit.  FFD is sequential, so this is
    a SELF-VERIFYING entry (the KMV/wordpiece discipline): the query
    recomputes conservation, per-bin capacity, and the any-fit bin
    bound in-plan and emits booleans the oracle pins true next to
    independently-derived exact aggregates."""
    from singer_spark.operators.packing import pack_bins_audit

    return pack_bins_audit(_docs(spark, sf_dir), max_len=256)


def _unigram_em_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenize after ONE hard-EM (Viterbi re-estimation)
    step — the SentencePiece training-loop shape (Kudo 2018 §3.2; hard
    variant): seed vocab from substring frequencies, segment, re-derive
    costs from pieces the Viterbi actually USES, re-encode —
    text_analysis.unigram_em_refine + unigram_encode.  The oracle
    chains TWO generated DP blocks: chain 1 + full backtrace produce
    the usage counts and refined costs, chain 2 re-segments under
    them."""
    from singer_spark.operators.text_analysis import (unigram_em_refine,
                                                      unigram_encode,
                                                      unigram_vocab)

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    vocab2 = unigram_em_refine(docs, vocab)
    return unigram_encode(docs, vocab2).select(
        "doc_id", "n_words", "n_pieces", "total_cost")


def _quality_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB quality-classifier lifecycle, self-verifying (the driver's
    DuckDB can't load parquet models): train the model frame once,
    persist via save_nb_model, reload, score the corpus with
    nb_quality_apply — no training pass on the apply side — and compare
    per-doc (n_tokens, llr, keep) with the fused train+score plan.  The
    oracle pins the agreement booleans true and re-derives the exact
    doc count; float64 lw round-trips parquet exactly, so the match is
    equality, not tolerance."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from singer_spark.operators.text_analysis import (load_nb_model,
                                                      nb_quality_apply,
                                                      nb_quality_model,
                                                      nb_quality_scores,
                                                      save_nb_model)

    docs = _docs(spark, sf_dir)
    seed = F.col("source") == "src0"
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    # pid in the path: two concurrent driver runs over the same fixture
    # must not interleave one run's overwrite with the other's read
    path = os.path.join(
        tempfile.gettempdir(),
        f"singer_nb_model_{uid}_{os.getpid()}_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    save_nb_model(nb_quality_model(docs, seed, max_vocab=1000), path)
    # the returned frame reads the model lazily, when it is collected: the
    # directory can only go when this interpreter exits
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    applied = nb_quality_apply(docs, load_nb_model(spark, path))
    fused = nb_quality_scores(docs, seed, max_vocab=1000)
    a = applied.select(F.col("doc_id"), F.col("n_tokens").alias("a_nt"),
                       F.col("llr").alias("a_llr"),
                       F.col("keep").alias("a_keep"))
    f = fused.select(F.col("doc_id"), F.col("n_tokens").alias("f_nt"),
                     F.col("llr").alias("f_llr"),
                     F.col("keep").alias("f_keep"))
    j = a.join(f, "doc_id")
    return j.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum(F.when(F.col("a_nt") == F.col("f_nt"), 0).otherwise(1))
         == 0).alias("tokens_match"),
        (F.sum(F.when(F.col("a_llr") == F.col("f_llr"), 0).otherwise(1))
         == 0).alias("llr_match"),
        (F.sum(F.when(F.col("a_keep") == F.col("f_keep"), 0).otherwise(1))
         == 0).alias("keep_match"))


def _curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-gate survivor funnel over the standard curation chain (lang ->
    quality -> repetition -> decontaminate -> exact-dedup -> train
    split, the corpus_pipeline_full configuration) —
    curation.curation_funnel.  Every gate flag computed once, one
    aggregation of the cumulative conjunctions, tidy stage rows; the
    oracle composes the same gate oracles into cumulative counts."""
    from singer_spark.curation import curation_funnel

    docs = _docs(spark, sf_dir)
    return curation_funnel(docs, docs.filter(F.col("doc_id") % 50 == 0))


def _corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-1/2/3 lexical diversity + gram-distribution entropy per
    source (Li et al. 2016's distinct-n, the standard mix-monitoring
    report) — text_analysis.corpus_diversity.  One tokenize, zip-shift
    gram families, map-side-combinable counts; entropy via the one-pass
    identity ln T − (Σ c·ln c)/T.  The oracle replays the gram
    explosion with list slicing and the same entropy identity."""
    from singer_spark.operators.text_analysis import corpus_diversity

    return corpus_diversity(_docs(spark, sf_dir))


def _unigram_em_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round hard-EM unigram training with the convergence report
    (r11, VERDICT r10 task #6): rounds 0..2 of corpus-total Viterbi
    cost under the seed and each re-estimated cost table —
    text_analysis.unigram_em_converge; total_cost is the SentencePiece
    loop's stopping signal and is monotone non-increasing.  The oracle
    chains THREE generated DP blocks with two full backtrace->recost EM
    steps between them."""
    from singer_spark.operators.text_analysis import (unigram_em_converge,
                                                      unigram_vocab)

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    return unigram_em_converge(docs, vocab, rounds=2)


def _unigram_train_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenize under the FULL trainer (r11): seed -> one
    hard-EM recost -> usage-ranked prune (keep 60% of multis) — the
    complete SentencePiece alternation, text_analysis.unigram_train.
    The oracle chains THREE generated DP blocks: seed segment + EM
    recost, re-segment + window-ranked prune, final encode."""
    from singer_spark.operators.text_analysis import (unigram_encode,
                                                      unigram_train)

    docs = _docs(spark, sf_dir)
    trained = unigram_train(docs, max_multi=100, max_piece_len=4,
                            em_rounds=1, keep_ratio=0.6)
    return unigram_encode(docs, trained).select(
        "doc_id", "n_words", "n_pieces", "total_cost")


def _unigram_prune_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenize after ONE vocabulary-pruning step (r11) —
    the shrink half of SentencePiece's EM/prune alternation (Kudo 2018
    §3.2; usage-count ranking): all single chars survive, the top 60%
    of multi-char pieces by Viterbi usage survive, costs re-derive over
    the pruned set — text_analysis.unigram_prune + unigram_encode.
    The oracle chains two generated DP blocks with a window-ranked
    prune between them."""
    from singer_spark.operators.text_analysis import (unigram_encode,
                                                      unigram_prune,
                                                      unigram_vocab)

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    pruned = unigram_prune(docs, vocab, keep_ratio=0.6)
    return unigram_encode(docs, pruned).select(
        "doc_id", "n_words", "n_pieces", "total_cost")


def _unigram_prune_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenize after ONE LOSS-ranked pruning step (r13,
    VERDICT r12 task #4) — Kudo 2018 §3.2's actual shrink rule: each
    multi-char piece ranks by the corpus marginal-likelihood LOSS its
    removal causes (forward-lattice NLL with the piece's edges banned,
    minus the base NLL — the soft machinery's grid), not by Viterbi
    usage; survivors re-cost from usage counts as in the usage mode —
    text_analysis.unigram_prune(rank='loss') + unigram_encode.  The
    oracle replays both lattices (base and per-(word, banned-piece))
    cell for cell."""
    from singer_spark.operators.text_analysis import (unigram_encode,
                                                      unigram_prune,
                                                      unigram_vocab)

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    pruned = unigram_prune(docs, vocab, keep_ratio=0.6, rank="loss")
    return unigram_encode(docs, pruned).select(
        "doc_id", "n_words", "n_pieces", "total_cost")


def _unigram_to_size_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shrink-to-target unigram training + tokenize (r13) — the
    SentencePiece `--vocab_size` outer loop: seed at 100 multis, then 2
    cycles of (EM recost -> prune keeping max(40, ceil(0.6·n)) multis),
    landing exactly on 40 — text_analysis.unigram_train_to_size +
    unigram_encode.  The oracle unrolls the whole alternation: 5 DP
    chains with a backtrace->recost between each, V tracking the
    shrinking piece set."""
    from singer_spark.operators.text_analysis import (unigram_encode,
                                                      unigram_train_to_size)

    docs = _docs(spark, sf_dir)
    vocab = unigram_train_to_size(docs, target_multi=40, shrink=0.6,
                                  rounds=2, max_multi=100,
                                  max_piece_len=4)
    return unigram_encode(docs, vocab).select(
        "doc_id", "n_words", "n_pieces", "total_cost")


def _unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-family, Kudo 2018) tokenize of the
    corpus: substring-frequency vocab (all single chars + top-100
    multi-char pieces, scaled-integer -ln costs), then per-word Viterbi
    with exact integer tie-breaks — text_analysis.unigram_vocab /
    unigram_encode.  Completes the tokenizer family (BPE ranks,
    WordPiece greedy, unigram global-optimum DP).  The oracle replays
    vocab derivation in set SQL and the Viterbi as an UNROLLED 16-step
    DP over distinct words (position-j CTEs, argmin by (cost, n_pieces,
    start) via row_number) — the segmentation itself is pinned by the
    sibling `unigram_segment` key."""
    from singer_spark.operators.text_analysis import (unigram_encode,
                                                      unigram_vocab)

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    return unigram_encode(docs, vocab).select(
        "doc_id", "n_words", "n_pieces", "total_cost")


def _unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 12 most frequent corpus words with their full unigram-LM
    Viterbi segmentations (piece strings, not just costs) — the
    cross-engine pin of the DP's BACKTRACE and tie rules (cost, then
    piece count, then longest final piece).  Spark segments the top
    words through the same Arrow kernel as the corpus encode; the
    oracle walks the unrolled DP's argmin starts backward and
    reconstructs the pieces with list slicing."""
    from singer_spark.operators.text_analysis import (unigram_encode,
                                                      unigram_vocab)

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    top = (docs.where(F.col("text").isNotNull())
           .select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count("*").alias("f"))
           .orderBy(F.col("f").desc(), F.col("w")).limit(12)
           .select("w", F.col("w").alias("text")))
    return (unigram_encode(top, vocab, id_col="w")
            .select("w", "pieces", "n_pieces", "total_cost"))


def _text_repetition_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's CHAR-fraction repetition screens (Rae et al. 2021 §A1.1,
    the published definitions) over the documents table:
    most-frequent-{2,3,4}-gram char fraction (capped at 1 — overlapping
    occurrences) and duplicate-{5..10}-gram coverage fraction
    (position-coverage, overlaps counted once) —
    text_analysis.repetition_signals; the sibling `text_repetition` key
    carries repetition_features' COUNT-based curation keep-flags.  Pure
    JVM n-gram expressions; the oracle replays both families with list
    slicing + window ranks."""
    from singer_spark.operators.text_analysis import repetition_signals

    return repetition_signals(_docs(spark, sf_dir)).orderBy("doc_id")


def _source_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card (r8): docs/tokens volume, mean quality
    score, predicted-'en' fraction, and exact-dup burden per source —
    text_analysis.source_dataset_card; the oracle nests the quality and
    lang-id replays and aggregates the same quantized sums."""
    from singer_spark.operators.text_analysis import source_dataset_card

    return source_dataset_card(_docs(spark, sf_dir))


def _bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer FERTILITY (tokens emitted per word) under the
    learned 12-merge BPE — the tokenizer-health screen a multilingual /
    multi-domain mix needs: a source whose fertility runs hot is being
    shredded by the tokenizer (under-represented in the merge table) and
    will consume budget without learning.  Composition: learn once,
    encode with the production ranked encoder, aggregate by source; the
    oracle nests the full learn-then-encode replay and aggregates the
    same sums."""
    from singer_spark.operators.text_analysis import (
        bpe_encode_ranked,
        bpe_learn_merges_local,
    )

    docs = _docs(spark, sf_dir)
    merges = [(r.left_sym, r.right_sym)
              for r in bpe_learn_merges_local(docs, n_merges=12).collect()]
    enc = bpe_encode_ranked(docs, merges).select("doc_id", "n_tokens")
    # NULL text must contribute NULL (sum-skipped, like the oracle's
    # len(NULL)), not Spark's legacy size(NULL) = -1 (review r8 #4)
    words = docs.select(
        "doc_id", "source",
        F.when(F.col("text").isNull(), F.lit(None).cast("int"))
        .otherwise(F.size(F.filter(F.split(F.lower("text"), " "),
                                   lambda t: t != ""))).alias("_w"))
    from singer_spark.functions import qround

    return (words.join(enc, "doc_id")
            .groupBy("source")
            .agg(F.sum("_w").cast("long").alias("n_words"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 qround(F.sum("n_tokens") / F.sum("_w"), 4)
                 .alias("fertility"))
            .orderBy("source"))


def _wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match WordPiece, SELF-VERIFYING (r7): the trie walk
    and the independent shrinking-window reference segment every document
    in one query (two genuinely different algorithms — the only
    cross-implementation pair available, since no engine ships WordPiece
    as SQL) and only (doc_id, n_words, impls_agree) leaves the plan;
    n_words is a JVM `\\S+`-run count DuckDB reproduces with
    regexp_extract_all, so the driver value-checks the row hash while the
    boolean carries the dual-algorithm equality (was rows-only r1-r6)."""
    from singer_spark.operators.text_analysis import (
        WORDPIECE_DEMO_WORDS,
        demo_vocab,
        wordpiece_crosscheck,
    )

    return wordpiece_crosscheck(_docs(spark, sf_dir),
                                demo_vocab(WORDPIECE_DEMO_WORDS))


def _chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: 32-token windows with 8-token overlap."""
    from singer_spark.operators.text_analysis import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=32, overlap=8)


def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives: top-5 most-similar different-label
    vectors for each of the first 10 embeddings (exact mode)."""
    from singer_spark.operators.similarity import hard_negatives

    emb = _emb(spark, sf_dir)
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing TF embedding of the documents table (dim 16); the
    vector serializes as comma-joined micro-units so the value hash is
    format-stable across engines."""
    from singer_spark.operators.text_analysis import hash_embed

    emb = hash_embed(_docs(spark, sf_dir), dim=16)
    units = F.transform("embedding",
                        lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("bigint")
                        .cast("string"))
    return emb.select("doc_id", F.array_join(units, ",").alias("embedding_u"))


def _semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over RAW documents: hash-embed (dim 16) feeds the semantic
    dedup — no external encoder anywhere in the loop."""
    from singer_spark.operators.similarity import semantic_dedup
    from singer_spark.operators.text_analysis import hash_embed

    emb = hash_embed(_docs(spark, sf_dir), dim=16)
    return semantic_dedup(emb, n_clusters=8, threshold=0.995, id_col="doc_id")


def _incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import incremental_rollup_merge

    return incremental_rollup_merge(spark, sf_dir)


def _event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import event_hourly_anomalies

    return event_hourly_anomalies(spark, sf_dir)


def _ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM fluency score, self-trained on the corpus."""
    from singer_spark.operators.text_analysis import ngram_lm_score

    return ngram_lm_score(_docs(spark, sf_dir))


def _source_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (r11, Xie et al. 2023 reduced to
    its deterministic one-step core): per-source excess bigram-LM loss
    vs the corpus mean, exponentiated-gradient weights over a uniform
    prior with uniform smoothing — text_analysis.source_reweight; the
    oracle replays the LM, the per-source means, and the
    quantize-before-exp weight arithmetic in plain SQL."""
    from singer_spark.operators.text_analysis import source_reweight

    return source_reweight(_docs(spark, sf_dir), eta=1.0, smoothing=0.2)


def _ann_rerank_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (r12): ADC candidates from the compressed
    index exactly re-scored on the ORIGINAL vectors of the candidate
    ids only — similarity.ivfpq_rerank_topk, the FAISS refine pattern.
    Self-verifying: per query, (a) reranked recall@5 vs the exact L2
    top-5 is >= the raw ADC list's (exact-top-k members in the pool
    always survive an exact re-rank — a theorem), and (b) with the pool
    widened to the corpus and every cell probed the reranked list
    EQUALS l2_topk row for row (same micro arithmetic, same
    tie-breaks).  The oracle pins both booleans true."""
    from singer_spark.operators.similarity import (
        ivfpq_ann_topk,
        ivfpq_rerank_topk,
        ivfpq_train_model,
        l2_topk,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 8)
    n = emb.count()
    C, CB = ivfpq_train_model(emb, n_clusters=16, m=8, kc=16,
                              iters_coarse=1, iters_pq=1)
    # ONE encoded-corpus frame shared by all three compressed-index
    # variants — unshared, each ivfpq_* call re-scanned the embeddings
    # and re-ran the encode kernel (3 encode passes in the plan).
    from singer_spark.functions import maybe_persist
    from singer_spark.operators.similarity import ivfpq_encode

    encoded = maybe_persist(ivfpq_encode(emb, (C, CB)), True)
    # exact is consumed three times below (two recall semi-joins + the
    # flattened compare column); persisted, the exact-L2 corpus pass
    # runs once instead of three times.  The frame is queries x k rows.
    exact = maybe_persist(l2_topk(emb, q, 5), True)
    adc = ivfpq_ann_topk(emb, q, 5, nprobe=2, model=(C, CB),
                         encoded=encoded)
    rer = ivfpq_rerank_topk(emb, q, 5, rerank=25, nprobe=2, model=(C, CB),
                            encoded=encoded)
    full = ivfpq_rerank_topk(emb, q, 5, rerank=n, nprobe=16,
                             model=(C, CB), encoded=encoded)

    ex_pairs = exact.select("query_id", "neighbor_id")
    hits_adc = (adc.join(ex_pairs, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("query_id").agg(F.count("*").alias("_ha")))
    hits_rer = (rer.join(ex_pairs, ["query_id", "neighbor_id"], "left_semi")
                .groupBy("query_id").agg(F.count("*").alias("_hr")))

    def flat(df: DataFrame, name: str) -> DataFrame:
        return (df.groupBy("query_id")
                .agg(F.concat_ws("|", F.array_sort(F.collect_list(
                    F.concat_ws(":", "neighbor_id", "rank", "d2_micro"))))
                    .alias(name)))

    return (q.select(F.col("vec_id").alias("query_id"))
            .join(hits_adc, "query_id", "left")
            .join(hits_rer, "query_id", "left")
            .join(flat(exact, "_e"), "query_id", "left")
            .join(flat(full, "_f"), "query_id", "left")
            .select("query_id",
                    (F.coalesce("_hr", F.lit(0))
                     >= F.coalesce("_ha", F.lit(0)))
                    .alias("rerank_recall_monotone"),
                    (F.col("_e") == F.col("_f"))
                    .alias("full_pool_equals_exact"))
            .orderBy("query_id"))


def _funnel_trend_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel_trend over a REAL per-epoch metrics table (r12, VERDICT
    r11 task #5): a deterministic 5-epoch, 3-stage funnel is derived
    from the documents table (epoch = doc_id%5; chained gates even →
    %6), written through the exact curate_stream writer layout
    (per-epoch overwritten partitions), and read back by
    curation.funnel_trend — per-stage survival rates, trailing
    mean/std over prior epochs, and the sigma drift flag.  The oracle
    re-derives the stage rows and replays the trailing-window stats in
    SQL."""
    import hashlib
    import os
    import shutil
    import tempfile

    from singer_spark.curation import funnel_trend
    from singer_spark.functions import qround

    docs = _docs(spark, sf_dir)
    per = (docs.groupBy((F.col("doc_id") % 5).alias("_e"))
           .agg(F.count("*").alias("_n"),
                F.sum((F.col("doc_id") % 2 == 0).cast("long")).alias("_c2"),
                F.sum((F.col("doc_id") % 6 == 0).cast("long")).alias("_c6"))
           .collect())  # 5 rows
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    path = os.path.join(
        tempfile.gettempdir(),
        f"singer_funnel_trend_{uid}_{os.getpid()}_"
        f"{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}")
    shutil.rmtree(path, ignore_errors=True)
    schema = ("stage_idx int, stage string, n_in bigint, n_kept bigint, "
              "n_dropped bigint")
    for r in per:
        n, c2, c6 = int(r["_n"]), int(r["_c2"]), int(r["_c6"])
        rows = [(0, "input", n, n, 0), (1, "even", n, c2, n - c2),
                (2, "six", c2, c6, c2 - c6)]
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{path}/epoch_id={r['_e']}")
    t = funnel_trend(spark, path, sigma=1.0, min_epochs=2)
    res = (t.select("epoch_id", "stage_idx", "stage", "n_in", "n_kept",
                    qround(F.col("rate"), 6).alias("rate"),
                    qround(F.col("trailing_mean"), 6)
                    .alias("trailing_mean"),
                    qround(F.col("trailing_std"), 6).alias("trailing_std"),
                    "n_prior", "drift")
           .orderBy("epoch_id", "stage_idx")
           .localCheckpoint(eager=True))
    shutil.rmtree(path, ignore_errors=True)
    return res


def _unigram_em_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-EM E+M step of the unigram LM (r12, VERDICT r11 task #2 —
    Kudo 2018 §3.2's actual expectation over the full segmentation
    lattice, where unigram_em_tokenize is the Viterbi/hard variant):
    forward-backward posteriors with every DP cell on the integer
    micro-nat grid and edge posteriors quantized to integer
    micro-counts, so the corpus-level expected-count sums are exact
    integers; the Laplace M-step re-costs the seed vocabulary and the
    report carries the TRUE marginal corpus NLL.  The oracle unrolls
    the forward AND backward passes cell-for-cell in SQL
    (text_analysis.unigram_em_soft / _unigram_soft_expected)."""
    import math

    from singer_spark.operators.text_analysis import (
        _unigram_soft_expected,
        unigram_vocab,
    )

    docs = _docs(spark, sf_dir)
    vocab = unigram_vocab(docs, max_multi=100, max_piece_len=4)
    counts, nll, _ = _unigram_soft_expected(docs, vocab, max_word_len=16)
    a, V = 0.5, len(vocab)
    T = sum(counts.values()) / 1e6
    rows = [(p, counts.get(p, 0),
             int(math.floor(-math.log((counts.get(p, 0) / 1e6 + a)
                                      / (T + a * V)) * 1_000_000 + 0.5)),
             nll)
            for p, _ in vocab]
    return (spark.createDataFrame(
        rows, "piece string, expected_micro bigint, cost bigint, "
              "total_nll bigint").orderBy("piece"))


def _source_reweight_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated DoReMi (r12, VERDICT r11 task #4): k exponentiated-
    gradient rounds where each round resamples the corpus at the
    PREVIOUS round's weights (corpus_mix_sample's deterministic salted
    draw) and rescores per-source excess LM loss over the sample —
    text_analysis.source_reweight_converge.  The corpus is LM-scored
    once into a persisted frame; each round is one per-source window
    pass plus k-row weight arithmetic, all quantized 1e-6 before
    feeding forward.  The oracle chains the rounds as generated CTE
    blocks: per-round salted-hash sample → means → quantize-before-exp
    multiplicative update."""
    from singer_spark.operators.text_analysis import source_reweight_converge

    return source_reweight_converge(_docs(spark, sf_dir), rounds=2,
                                    eta=1.0, smoothing=0.2, token_frac=0.5)


def _weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted draw: 50 docs, probability ∝ n_chars, deterministic."""
    from singer_spark.operators.text_analysis import weighted_sample_k

    return weighted_sample_k(_docs(spark, sf_dir), k=50, weight_col="n_chars")


def _bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a three-term query over the documents table."""
    from singer_spark.operators.text_analysis import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), ["join", "spark", "window"], k=20)


def _hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical (BM25) + dense (hash-embed cosine) retrieval fused by
    reciprocal-rank fusion — the RAG/contamination-triage hybrid, fully
    deterministic (query vector is a driver-computed literal)."""
    from singer_spark.operators.text_analysis import hybrid_topk_rrf

    return hybrid_topk_rrf(_docs(spark, sf_dir), ["join", "spark", "window"],
                           k=15, k_each=20)


def _user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import user_event_sequences

    return user_event_sequences(spark, sf_dir)


def _funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import funnel_counts

    return funnel_counts(spark, sf_dir)


def _funnel_counts_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key-capped funnel plan (max_events_per_key row_number guard
    on the user exchange): with a cap far above any real user the results
    are identical to funnel_counts, so the same oracle checks the CAPPED
    plan end-to-end — the driver exercises the guard every round."""
    from singer_spark.queries import funnel_counts

    return funnel_counts(spark, sf_dir, max_events_per_key=100_000)


def _cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import cohort_retention

    return cohort_retention(spark, sf_dir)


def _event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import event_pattern_match

    return event_pattern_match(spark, sf_dir)


def _rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import rolling_active_users

    return rolling_active_users(spark, sf_dir)


def _rolling_active_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merged trailing actives, SELF-VERIFYING (r7): the HLL query
    and the exact distinct-rollup twin run in one plan, joined per day;
    the output carries the exact count (plain-SQL-checkable) and a
    within_tol boolean for the sketch (±5% — lg_k=14 keeps HLL++ well
    under 2% error, and the sketch is deterministic for a fixed dataset),
    so the driver value-checks what was a tolerance-only local row
    r1-r6."""
    from singer_spark.queries import rolling_active_users, rolling_active_users_hll

    approx = rolling_active_users_hll(spark, sf_dir)
    exact = rolling_active_users(spark, sf_dir)
    ex = F.col("n_active").cast("double")
    tol = F.greatest(F.lit(2.0), ex * F.lit(0.05))
    return (approx.join(exact, "day")
            .select("day", F.col("n_active").cast("long").alias("n_active_exact"),
                    (F.abs(F.col("n_active_approx") - ex) <= tol).alias("within_tol"))
            .orderBy("day"))


def _purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import purchase_attribution

    return purchase_attribution(spark, sf_dir)


def _multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution via the user-keyed interval join —
    the batch twin of streaming_interval_join."""
    from singer_spark.queries import multi_touch_attribution

    return multi_touch_attribution(spark, sf_dir)


def _time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import time_weighted_avg_value

    return time_weighted_avg_value(spark, sf_dir)


def _integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import integrity_audit

    return integrity_audit(spark, sf_dir)


def _value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import value_histogram

    return value_histogram(spark, sf_dir)


def _new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import new_vs_returning

    return new_vs_returning(spark, sf_dir)


def _stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import stickiness

    return stickiness(spark, sf_dir)


def _revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import revenue_concentration

    return revenue_concentration(spark, sf_dir)


def _revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import revenue_pareto

    return revenue_pareto(spark, sf_dir)


def _robust_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import robust_spread

    return robust_spread(spark, sf_dir)


def _join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-style pre-flight join sizing from KMV key sketches,
    SELF-VERIFYING (r7): the sketch estimate
    (operators/sketches.join_cardinality_estimate — the production path,
    which never executes the join) is cross-checked IN the same query
    against the exact distinct counts, key intersection, and real join
    count; only the exact values (plain-SQL-checkable) and the
    estimate-within-tolerance booleans leave the plan.  The exact join is
    the verification harness, not the operator — a real deployment runs
    only the sketch side.  Tolerances: KMV at k=256 ≈ 6% SE → 15% bar on
    distinct/shared (the bar the tolerance oracle held for six rounds),
    20% on the multiplicity-scaled row estimate (uniformity assumption);
    the sketches are xxhash64-deterministic, so the booleans are stable
    across runs."""
    from singer_spark.operators.sketches import join_cardinality_estimate
    from singer_spark.session import read_events

    ev = read_events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    est = join_cardinality_estimate(ev, "user_id", cust, "c_custkey")

    # The exact side derives every statistic from ONE per-key count
    # frame per input (NULL keys excluded up front — countDistinct and
    # the equi-join both ignored them): distinct = frame row count,
    # shared = key-join count, and the exact join cardinality is
    # Σ n_a(k)·n_b(k) over shared keys — identically the row count of
    # the physical join, without executing it.  Before, each statistic
    # re-scanned the inputs (4 events scans + a full join whose rows
    # were only counted).
    from singer_spark.functions import maybe_persist

    na = maybe_persist(
        ev.where(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count("*").alias("_na")), True)
    nb = maybe_persist(
        cust.where(F.col("c_custkey").isNotNull())
        .groupBy(F.col("c_custkey").alias("k"))
        .agg(F.count("*").alias("_nb")), True)
    shared = na.join(nb, "k")
    exact = (na.agg(F.count("*").alias("exact_distinct_a"))
             .crossJoin(nb.agg(F.count("*").alias("exact_distinct_b")))
             .crossJoin(shared.agg(F.count("*").alias("exact_shared_keys")))
             .crossJoin(shared.agg(
                 F.coalesce(F.sum(F.col("_na") * F.col("_nb")), F.lit(0))
                 .cast("bigint").alias("exact_join_rows"))))

    def ok(est_col: str, exact_col: str, rel: float):
        ex = F.col(exact_col).cast("double")
        tol = F.greatest(F.lit(2.0), ex * F.lit(rel))
        return (F.abs(F.col(est_col) - ex) <= tol).alias(f"{est_col}_ok")

    return (est.crossJoin(F.broadcast(exact))
            .select("n_a", "n_b", "exact_distinct_a", "exact_distinct_b",
                    "exact_shared_keys", "exact_join_rows",
                    ok("est_distinct_a", "exact_distinct_a", 0.15),
                    ok("est_distinct_b", "exact_distinct_b", 0.15),
                    ok("est_shared_keys", "exact_shared_keys", 0.15),
                    ok("est_join_rows", "exact_join_rows", 0.20)))


def _correlation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import correlation_report

    return correlation_report(spark, sf_dir)


def _token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift monitor between two corpus halves (sources src0-9 vs
    src10-19): per-token frequency deltas + chi-square contributions
    (operators/text_analysis.token_drift)."""
    from singer_spark.operators.text_analysis import token_drift

    docs = _docs(spark, sf_dir)
    half_a = docs.where(F.regexp_extract("source", r"src(\d+)", 1).cast("int") < 10)
    half_b = docs.where(F.regexp_extract("source", r"src(\d+)", 1).cast("int") >= 10)
    return token_drift(half_a, half_b, top_n=50)


def _dedup_exact_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-ranked exact dedup: curated sources outrank the rest for
    canonical selection (operators/dedup.dedup_exact_priority)."""
    from singer_spark.operators.dedup import dedup_exact_priority

    return dedup_exact_priority(_docs(spark, sf_dir),
                                {"src3": 0, "src7": 1}).orderBy("doc_id")


def _dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup on canonicalized text
    (operators/dedup.dedup_normalized)."""
    from singer_spark.operators.dedup import dedup_normalized

    return dedup_normalized(_docs(spark, sf_dir)).orderBy("doc_id")


def _frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import frequent_sequences

    return frequent_sequences(spark, sf_dir)


def _scd2_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed between two SCD2 states (operators/cdc.scd2_snapshot_diff):
    what changed between the pre-cutoff dimension and today's."""
    from singer_spark.operators.cdc import scd2_build, scd2_snapshot_diff
    from singer_spark.functions import qround
    from singer_spark.session import read_events

    cutoff = "2024-01-16"
    ch = (read_events(spark, sf_dir)
          .where(F.col("event_type") == "purchase")
          .select("user_id", qround(F.col("value"), 6).alias("attr_val"), "ts"))
    old = scd2_build(ch.where(F.col("ts") < cutoff),
                     "user_id", "attr_val", "ts", order_cols=["attr_val"])
    new = scd2_build(ch, "user_id", "attr_val", "ts", order_cols=["attr_val"])
    return scd2_snapshot_diff(old, new)


def _data_quality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations suite over the event log in one aggregation job
    (operators/diagnostics.check_expectations)."""
    from singer_spark.operators.diagnostics import check_expectations
    from singer_spark.session import read_events

    ev = read_events(spark, sf_dir)
    rules = [
        ("event_type_known",
         F.col("event_type").isin("view", "click", "purchase", "signup", "error")),
        ("ts_in_range",
         (F.col("ts") >= "2024-01-01") & (F.col("ts") < "2024-03-01")),
        ("user_id_not_null", F.col("user_id").isNotNull()),
        ("value_positive", F.col("value") > 0),
    ]
    return check_expectations(ev, rules, unique_cols=["event_id"])


def _funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import funnel_windowed

    return funnel_windowed(spark, sf_dir)


def _event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import event_transitions

    return event_transitions(spark, sf_dir)


def _audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set-algebra via KMV sketches (distinct viewers ∩ distinct
    purchasers — the intersection estimate HLL cannot produce),
    SELF-VERIFYING (r7): one per-user flag rollup computes the exact
    |A|/|B|/|A∪B|/|A∩B| in the same query, and the output carries those
    exact counts (plain-SQL-checkable) plus estimate-within-tolerance
    booleans.  Tolerances: 3σ at k=256 (SE ≈ 1/√(k−2) ≈ 6.3%) → 20% on
    the direct count estimates, 35% on the intersection/Jaccard (the ρ
    ratio compounds two estimates); xxhash64 makes the sketch
    deterministic, so the booleans are stable across runs (was
    tolerance-only local row r1-r6)."""
    from singer_spark.operators.sketches import kmv_overlap, kmv_sketch
    from singer_spark.session import read_events

    ev = read_events(spark, sf_dir).select("event_type", "user_id")
    sk = kmv_sketch(ev, "event_type", "user_id", k=256)
    est = kmv_overlap(sk, "event_type", "view", "purchase", k=256)

    flags = (ev.filter(F.col("event_type").isin("view", "purchase"))
             .groupBy("user_id")
             .agg(F.max((F.col("event_type") == "view").cast("int")).alias("v"),
                  F.max((F.col("event_type") == "purchase").cast("int")).alias("p")))
    exact = flags.agg(
        F.sum("v").cast("long").alias("exact_a"),
        F.sum("p").cast("long").alias("exact_b"),
        F.count("*").alias("exact_union"),
        F.sum(((F.col("v") == 1) & (F.col("p") == 1)).cast("long"))
        .cast("long").alias("exact_intersection"))

    def ok(est_col: str, exact_col: str, rel: float, name: str):
        ex = F.col(exact_col).cast("double")
        tol = F.greatest(F.lit(2.0), ex * F.lit(rel))
        return (F.abs(F.col(est_col) - ex) <= tol).alias(name)

    exact_j = (F.col("exact_intersection").cast("double")
               / F.col("exact_union").cast("double"))
    j_tol = F.greatest(F.lit(0.05), exact_j * F.lit(0.35))
    return (est.crossJoin(F.broadcast(exact))
            .select("group_a", "group_b",
                    "exact_a", "exact_b", "exact_union", "exact_intersection",
                    ok("est_a", "exact_a", 0.20, "est_a_ok"),
                    ok("est_b", "exact_b", 0.20, "est_b_ok"),
                    ok("est_union", "exact_union", 0.20, "union_ok"),
                    ok("est_intersection", "exact_intersection", 0.35,
                       "intersection_ok"),
                    (F.abs(F.col("jaccard") - exact_j) <= j_tol)
                    .alias("jaccard_ok")))


def _rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.queries import order_value_rank_profile

    return order_value_rank_profile(spark, sf_dir)


def _scd2_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension maintenance: build versioned history from purchase
    events BEFORE the cutoff, then MERGE the post-cutoff batch with
    `scd2_apply` — the output must equal (and is oracle-checked against)
    the one-shot rebuild over the full log, proving the merge touches only
    open rows.  Attribute = the purchase's value, 6-digit quantized."""
    from singer_spark.operators.cdc import scd2_apply, scd2_build
    from singer_spark.functions import qround
    from singer_spark.session import read_events

    cutoff = "2024-01-16"
    ch = (read_events(spark, sf_dir)
          .where(F.col("event_type") == "purchase")
          .select("user_id", qround(F.col("value"), 6).alias("attr_val"), "ts"))
    current = scd2_build(ch.where(F.col("ts") < cutoff),
                         "user_id", "attr_val", "ts", order_cols=["attr_val"])
    merged = scd2_apply(current, ch.where(F.col("ts") >= cutoff),
                        "user_id", "attr_val", "ts")
    return merged.select(
        F.col("key").alias("user_id"),
        F.col("attr").alias("attr_val"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
    ).orderBy("user_id", "valid_from", "attr_val")


def _fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over part names: pairs sharing a token within
    edit distance 2 (operators/joins.fuzzy_join_pairs)."""
    from singer_spark.operators.joins import fuzzy_join_pairs

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return fuzzy_join_pairs(part, "p_name", "p_partkey", max_dist=2)


def _fuzzy_part_names_qgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE edit-distance self-join via q-gram prefix filtering — the
    oracle is the full quadratic Levenshtein join, so a missed pair fails
    the gate (operators/joins.fuzzy_join_qgram)."""
    from singer_spark.operators.joins import fuzzy_join_qgram

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return fuzzy_join_qgram(part, "p_name", "p_partkey", max_dist=2, q=2)


def _profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the orders table (see
    operators/diagnostics.profile_columns)."""
    from singer_spark.operators.diagnostics import profile_columns

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return profile_columns(orders, ["o_orderkey", "o_custkey", "o_orderstatus",
                                    "o_totalprice", "o_orderpriority"])


def _heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent corpus tokens via Misra-Gries candidate pruning + exact
    recount (see operators/diagnostics.heavy_hitters for the guarantee)."""
    from singer_spark.operators.diagnostics import heavy_hitters

    toks = (_docs(spark, sf_dir)
            .select(F.explode(F.split("text", r"\s+")).alias("token"))
            .where(F.col("token") != ""))
    return heavy_hitters(toks, "token", min_share=0.02)


def _corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data filter: keep docs that are (a) English by
    n-gram lang-id, (b) above the quality bar, and (c) the canonical copy of
    their exact-dup group — the keep/drop pipeline every corpus build runs.
    One pass computes (a)+(b) per doc; (c) adds one digest-keyed semi join."""
    from singer_spark.operators.dedup import dedup_exact
    from singer_spark.operators.text_analysis import (lang_pred_col,
                                                      quality_score_col)

    docs = _docs(spark, sf_dir)
    # (a)+(b) ride the base projection (the r13 curate() inlining:
    # lang_pred_col/quality_score_col are the SAME expressions lang_id /
    # quality_features emit) — before, each feature frame re-scanned the
    # corpus text and joined back by id: 4 corpus scans for a per-row
    # filter.  (c) keeps its one digest-keyed pass.
    feats = docs.select("doc_id", "source",
                        lang_pred_col(F.col("text")).alias("predicted_lang"),
                        quality_score_col(F.col("text")).alias("quality_score"))
    canonical = dedup_exact(docs).select("doc_id")
    return (
        feats
        .join(canonical, "doc_id", "left_semi")
        .filter((F.col("predicted_lang") == "en") & (F.col("quality_score") >= 0.5))
        .select("doc_id", "source", "quality_score")
        .orderBy("doc_id")
    )


def _corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete pre-training curation DAG in one plan — what a corpus
    build actually runs: language gate, quality bar, repetition screens,
    exact-dedup canonical survivorship, and the train-split hash gate, all
    composed from the individual operators (each separately oracle-checked).
    One narrow pass per feature family + digest/id-keyed joins."""
    from singer_spark.operators.dedup import dedup_exact
    from singer_spark.operators.text_analysis import (
        decontaminate,
        lang_pred_col,
        quality_score_col,
        repetition_features,
        split_cols,
    )

    docs = _docs(spark, sf_dir)
    # Per-row gates (lang, quality, split) ride the base projection —
    # the same expressions lang_id / quality_features / train_val_split
    # emit (r13 curate() inlining); before, each was its own corpus scan
    # joined back by id.  The set-valued gates (repetition grams,
    # exact-dedup digests, decontamination k-grams) keep their own
    # narrow passes.
    _, split_expr = split_cols("doc_id")
    feats = docs.select("doc_id", "source",
                        lang_pred_col(F.col("text")).alias("predicted_lang"),
                        quality_score_col(F.col("text")).alias("quality_score"),
                        split_expr.alias("split"))
    rep = repetition_features(docs).filter(F.col("keep")).select("doc_id")
    canonical = dedup_exact(docs).select("doc_id")
    # decontamination gate: drop docs overlapping the benchmark slice
    # (every 50th doc stands in for the eval set; the benchmark docs
    # themselves are contaminated-by-definition and fall out too)
    clean = (decontaminate(docs, docs.filter(F.col("doc_id") % 50 == 0), k=8)
             .filter(~F.col("contaminated"))
             .select(F.col("id").alias("doc_id")))
    return (
        feats
        .join(rep, "doc_id", "left_semi")
        .join(canonical, "doc_id", "left_semi")
        .join(clean, "doc_id", "left_semi")
        .filter((F.col("predicted_lang") == "en")
                & (F.col("quality_score") >= 0.5)
                & (F.col("split") == "train"))
        .select("doc_id", "source", "quality_score")
        .orderBy("doc_id")
    )


def _sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.similarity import lsh_ann_topk

    emb = _emb(spark, sf_dir)
    # num_planes pinned (not the auto default): the SQL oracle replays
    # the 8-plane bucket hashes; the scale path is auto_num_planes,
    # covered by test_lsh_ann_auto_planes_recall
    return lsh_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, num_planes=8)


def _sim_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): 8 subspaces × 16
    sampled codebook entries (vectors with vec_id < 16 — data values),
    asymmetric-distance scoring in integer micro-units
    (operators/similarity.py `pq_ann_topk`).  The 10⁹-vector memory
    path: 256-byte vectors become 4-byte code rows; deterministic down
    to the ADC totals, so the oracle replays codes + LUT in plain SQL."""
    from singer_spark.operators.similarity import pq_ann_topk

    emb = _emb(spark, sf_dir)
    return pq_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, m=8, kc=16)


def _sim_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with Lloyd-TRAINED codebooks (3 iterations, qround-quantized
    means — the sim_ivf_trained replayability discipline applied per
    subspace).  Training lifts recall@5 vs exact L2 from 0.16 (seeded)
    to 0.26 on the isotropic corpus; the oracle unrolls the training
    loop in SQL (`_pq_trained_oracle`)."""
    from singer_spark.operators.similarity import pq_ann_topk, pq_train_codebooks

    emb = _emb(spark, sf_dir)
    CB = pq_train_codebooks(emb, m=8, kc=16, iters=3)
    return pq_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                       m=8, kc=16, codebooks=CB)


def _sim_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011 §V — FAISS's default
    billion-scale index): 16 coarse cells (vec_id < 16 data values),
    nprobe=4, PQ codebooks from the residuals of vec_id 16-31; ADC in
    integer micro-units over the probed inverted lists only
    (operators/similarity.py `ivfpq_ann_topk`).  Deterministic down to
    cells, codes, probe sets, and ADC totals — the oracle replays all
    four stages in plain SQL."""
    from singer_spark.operators.similarity import ivfpq_ann_topk

    emb = _emb(spark, sf_dir)
    return ivfpq_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                          n_clusters=16, nprobe=4, m=8, kc=16)


def _sim_pq_trained_kc256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ at the PRODUCTION parameterization — kc=256 (8-bit codes,
    FAISS's default), Lloyd-trained (VERDICT r7 next #5): recall@5 vs
    exact L2 measures 0.50 on the isotropic sf0.01 corpus against 0.26
    at the kc=16 SQL-replay setting.  Same deterministic discipline, so
    the same oracle generator unrolls the training loop and ADC chain at
    kc=256 — the production setting is value-checked by the driver, not
    just recall-gated in tests."""
    from singer_spark.operators.similarity import (
        pq_ann_topk,
        pq_train_codebooks,
    )

    emb = _emb(spark, sf_dir)
    CB = pq_train_codebooks(emb, m=8, kc=256, iters=2)
    return pq_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                       m=8, kc=256, codebooks=CB)


def _sim_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the FULLY TRAINED model (similarity.py
    ivfpq_train_model): coarse Lloyd under the index's own micro-unit-L2
    metric (2 iterations), then per-subspace Lloyd on the residuals from
    the trained cells (2 iterations) — `sim_ivfpq_ann`'s seeded model
    was the last untrained member of the ANN family (VERDICT r7 next
    #6).  Deterministic end to end (data-value seeds, micro-unit
    argmins, qround'd means), so the oracle unrolls BOTH training loops
    and the four-stage IVFADC replay in plain SQL
    (`_ivfpq_trained_oracle`)."""
    from singer_spark.operators.similarity import (
        ivfpq_ann_topk,
        ivfpq_train_model,
    )

    emb = _emb(spark, sf_dir)
    model = ivfpq_train_model(emb, n_clusters=16, m=8, kc=16,
                              iters_coarse=2, iters_pq=2)
    return ivfpq_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                          n_clusters=16, nprobe=4, m=8, kc=16, model=model)


def _ann_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit for the TRAINED production models (r8): recall@5 vs
    exact micro-unit L2 of (a) Lloyd-trained PQ at the production
    kc=256 and (b) the fully trained IVFADC model — the `ann_recall`
    discipline applied to the two round-8 training paths, so the README
    recall table's production numbers are driver-value-checked, not just
    test-gated.  Every stage is deterministic; the oracle nests both
    training replays as subqueries of one recall computation."""
    from singer_spark.operators.similarity import (
        ivfpq_ann_topk,
        ivfpq_train_model,
        l2_topk,
        pq_ann_topk,
        pq_train_codebooks,
    )
    from singer_spark.functions import qround

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 10)
    exact = (l2_topk(emb, q, 5)
             .select("query_id", "neighbor_id").withColumn("_e", F.lit(1)))
    CB = pq_train_codebooks(emb, m=8, kc=256, iters=2)
    pq = (pq_ann_topk(emb, q, 5, m=8, kc=256, codebooks=CB)
          .select("query_id", "neighbor_id").withColumn("_p", F.lit(1)))
    model = ivfpq_train_model(emb, n_clusters=16, m=8, kc=16,
                              iters_coarse=2, iters_pq=2)
    iv = (ivfpq_ann_topk(emb, q, 5, n_clusters=16, nprobe=4, m=8, kc=16,
                         model=model)
          .select("query_id", "neighbor_id").withColumn("_i", F.lit(1)))
    j = (exact.join(pq, ["query_id", "neighbor_id"], "left")
         .join(iv, ["query_id", "neighbor_id"], "left"))
    n_exact = F.count("_e")
    return j.agg(
        F.lit(5).alias("k"),
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count("_p").cast("long").alias("pq256_hits"),
        F.count("_i").cast("long").alias("ivfpq_trained_hits"),
        qround(F.count("_p") / n_exact, 4).alias("pq256_recall"),
        qround(F.count("_i") / n_exact, 4).alias("ivfpq_trained_recall"),
    )


def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-loss audit: recall@5 of PQ and IVF-PQ ADC against the
    exact micro-unit L2 top-5 over the first 10 queries — the
    minhash_recall discipline applied to the ANN family
    (operators/similarity.py `ann_recall_report`).  Deterministic end to
    end, so the oracle replays all three rankings in plain SQL."""
    from singer_spark.operators.similarity import ann_recall_report

    emb = _emb(spark, sf_dir)
    return ann_recall_report(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster z-score of each vector's cosine to its own coarse
    centroid — the mis-encoded/off-distribution embedding screen."""
    from singer_spark.operators.similarity import embedding_outliers

    return embedding_outliers(_emb(spark, sf_dir), n_clusters=16,
                              z_threshold=2.0)


def _embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection (deterministic power iteration
    over the quantized covariance; one Arrow moments pass, shuffle-free
    JVM projection) — operators/similarity.py:pca_project.  The oracle
    unrolls the 8 power iterations in SQL."""
    from singer_spark.operators.similarity import pca_project

    return pca_project(_emb(spark, sf_dir), iters=8).orderBy("vec_id")


def _dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup component size histogram (dedup-impact report) over the
    jaccard>=0.5 pair graph."""
    from singer_spark.operators.dedup import dup_cluster_stats, ngram_jaccard_pairs

    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dup_cluster_stats(docs, pairs)


def _sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with seeded exact centroids (vec_id < 16), nprobe=4 —
    the inverted-list scale path next to the LSH variant."""
    from singer_spark.operators.similarity import ivf_ann_topk

    emb = _emb(spark, sf_dir)
    return ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        n_clusters=16, nprobe=4)


def _sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a Lloyd-TRAINED coarse quantizer (deterministic — seeded
    init, per-iteration qround-quantized mean updates, no RNG), the
    production path next to the seeded-centroid oracle variant.  The
    quantize-per-iteration discipline makes the training loop SQL-replayable
    (`_ivf_trained_oracle` unrolls the 3 Lloyd iterations), closing the one
    registry row that was rows-only; the pytest recall gate
    (test_ivf_trained_centroids_recall: recall@5 >= 0.8 vs brute force at
    sf0.1) stays as the semantic check."""
    from singer_spark.operators.similarity import ivf_ann_topk, ivf_train_centroids

    emb = _emb(spark, sf_dir)
    cents = ivf_train_centroids(emb, n_clusters=16, iters=3)
    return ivf_ann_topk(emb, emb.filter(F.col("vec_id") < 10), k=5,
                        nprobe=4, centroids=cents)


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """num_planes auto-derived from the corpus count (auto_num_planes);
    threshold 0.40 — the synthetic embeddings are near-orthogonal, so this
    is the densest 'near-dup' band that still yields pairs through the
    size-scaled bucket space."""
    from singer_spark.operators.similarity import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.40)


def _text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import lang_id

    return lang_id(_docs(spark, sf_dir))


def _text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import quality_features

    return quality_features(_docs(spark, sf_dir))


def _text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import token_counts

    return token_counts(_docs(spark, sf_dir))


def _text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher repetition screens: duplicate-token/2-gram/3-gram fractions,
    top-2-gram share, keep flag."""
    from singer_spark.operators.text_analysis import repetition_features

    return repetition_features(_docs(spark, sf_dir))


def _pii_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents enriched with deterministic synthetic PII (the corpus text
    itself carries none) — email from `source`, an IPv4, a phone — so the
    redaction pass has real matches to scrub on BOTH engines."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ", F.col("text"),
            F.concat(F.col("source"), F.lit("@example.com")),
            F.concat(F.lit("10.0."), (F.col("doc_id") % 200).cast("string"), F.lit(".7")),
            F.concat(F.lit("+1-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).alias("text"),
    )


def _text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import redact_pii

    return redact_pii(_pii_doc(spark, sf_dir))


def _train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.text_analysis import train_val_split

    return train_val_split(_docs(spark, sf_dir))


def _multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.multimodal import documents_as_media, media_metadata

    return media_metadata(documents_as_media(_docs(spark, sf_dir)))


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from singer_spark.operators.multimodal import documents_as_media, extract_image_features

    feats = extract_image_features(documents_as_media(_docs(spark, sf_dir)))
    return feats.select("media_id", F.col("byte_len").cast("bigint").alias("byte_len"), "sha_prefix")


def _synthetic_ppm_media(spark: SparkSession, sf_dir: str, size: int = 8) -> DataFrame:
    """Deterministic 8×8 PPM per document: pixel (x, y) has all three
    channels equal to (doc_id + x + y) % 256 — every derived quantity is
    SQL-recomputable, so the real decode/resize kernels get value oracles."""
    import pandas as pd

    from singer_spark.operators.multimodal import MEDIA_SCHEMA, encode_ppm

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                y, x = np.mgrid[0:size, 0:size]
                px = ((d + x + y) % 256).astype(np.uint8)
                arr = np.repeat(px[:, :, None], 3, axis=2)
                rows.append((d, "image", encode_ppm(arr),
                             "image/x-portable-pixmap", size, size, None))
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return _docs(spark, sf_dir).select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


def _multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image path end-to-end: synthesize an 8×8 PPM per doc, run the
    nearest-neighbor resize kernel to 4×4, decode the RESULT and project
    (width, height, byte_len, pixel_sum) — the oracle recomputes the
    nearest-neighbor gather ((doc_id + 2x + 2y) % 256 over the 4×4 grid)
    in SQL, so a kernel off by one pixel or one row breaks the match."""
    import pandas as pd

    from singer_spark.operators.multimodal import decode_ppm, resize_images

    resized = resize_images(_synthetic_ppm_media(spark, sf_dir), 4, 4)

    def project(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                b = bytes(r.content)
                w, h, arr = decode_ppm(b)
                rows.append((int(r.media_id), w, h, len(b), int(arr.sum())))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height",
                                              "byte_len", "pixel_sum"])

    return resized.mapInPandas(
        project,
        "media_id bigint, width int, height int, byte_len int, pixel_sum bigint")


def _multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio path end-to-end: synthesize a 16-bit PCM WAV per doc
    (square wave, amplitude (doc_id % 8) · 4096 — exactly representable, so
    RMS/peak are closed-form), run the WAV decode kernel, project integer
    stats the oracle recomputes: rate, sample count, duration, and
    milli-scaled RMS/peak."""
    import pandas as pd

    from singer_spark.operators.multimodal import MEDIA_SCHEMA, audio_stats, encode_wav

    rate = 8000

    def gen(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 400 + (d % 10) * 80
                amp = (d % 8) * 4096
                samples = np.full(n, amp, dtype="<i2")
                samples[1::2] = -amp
                rows.append((d, "audio", encode_wav(samples, rate),
                             "audio/wav", None, None, None))
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)
    stats = audio_stats(media)
    milli = lambda c: F.floor(F.col(c).cast("double") * 1000 + F.lit(0.5)).cast("bigint")
    return stats.select(
        "media_id", "sample_rate",
        F.col("n_samples").cast("bigint").alias("n_samples"),
        "duration_ms",
        milli("rms").alias("rms_milli"),
        milli("peak").alias("peak_milli"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from singer_spark import tpch as _tpch

    return {
        # sources / framing (S1-S4)
        "s1_thrift_roundtrip": _s1_thrift_roundtrip,
        "s3_text_framing": _s3_text_framing,
        # transforms (T1-T11)
        "t1_filter_regex": _t1_filter_regex,
        "t2_regex_modifier": _t2_regex_modifier,
        "t3_prepend": _t3_prepend,
        "t4_trim_newline": _t4_trim_newline,
        "t5_headers": _t5_headers,
        "t6_audit_headers": _t6_audit_headers,
        "w9_audit_events": _w9_audit_events,
        "t7_message_id": _t7_message_id,
        "t8_crc32": _t8_crc32,
        "t9_sampling": _t9_sampling,
        "t11_oversize": _t11_oversize,
        # partitioners (P2-P7)
        "p2_crc32_partitioner": _p2_crc32_partitioner,
        "p3_murmur_partitioner": _p3_murmur_partitioner,
        "p4_md5_partitioner": _p4_md5_partitioner,
        "p5_round_robin": _p5_round_robin,
        "p6_single_partition": _p6_single_partition,
        "p7_fixed_partitions": _p7_fixed_partitions,
        # batching / audit / ordering / sinks (B5, LogStream, W5)
        "b5_audit_count": _b5_audit_count,
        "logstream_order": _logstream_order,
        "w5_s3_key_template": _w5_s3_key_template,
        "events_json_extract": _events_json_extract,
        # joins / set ops / grouping (Catalyst surface + custom join operators)
        "asof_join_events_orders": _asof_join_events_orders,
        "asof_join_tolerance": _asof_join_tolerance,
        "range_join_value_tiers": _range_join_value_tiers,
        "rollup_pricing": _rollup_pricing,
        "cube_pricing": _cube_pricing,
        "grouping_sets_revenue": _grouping_sets_revenue,
        "salted_join_priority": _salted_join_priority,
        "pivot_event_counts": _pivot_event_counts,
        "semi_anti_customers": _semi_anti_customers,
        "set_ops_segments": _set_ops_segments,
        "text_ngram_topk": _text_ngram_topk,
        "distinct_users_daily": _distinct_users_daily,
        "moving_avg_daily_value": _moving_avg_daily_value,
        "percentiles_by_type": _percentiles_by_type,
        "array_functions_profile": _array_functions_profile,
        "approx_distinct_users": _approx_distinct_users,
        "approx_percentiles_value": _approx_percentiles_value,
        "stratified_sample": _stratified_sample,
        "corpus_mix": _corpus_mix,
        "length_matched_sample": _length_matched_sample,
        "skew_report": _skew_report,
        "global_ids": _global_ids,
        "corpus_shuffle": _corpus_shuffle,
        # relational analytics
        "q1_pricing_summary": _q1,
        "q2_min_cost_supplier": _tpch.q2_min_cost_supplier,
        "q3_shipping_priority": _q3,
        "q4_order_priority": _tpch.q4_order_priority,
        "q5_region_revenue": _q5,
        "q6_forecast_revenue": _tpch.q6_forecast_revenue,
        "q7_volume_shipping": _tpch.q7_volume_shipping,
        "q8_market_share": _tpch.q8_market_share,
        "q9_product_profit": _tpch.q9_product_profit,
        "q10_returned_items": _tpch.q10_returned_items,
        "q11_important_stock": _tpch.q11_important_stock,
        "q12_late_shipments": _tpch.q12_late_shipments,
        "q13_customer_distribution": _tpch.q13_customer_distribution,
        "q14_promo_revenue": _tpch.q14_promo_revenue,
        "q15_top_supplier": _tpch.q15_top_supplier,
        "q16_supplier_relationship": _tpch.q16_supplier_relationship,
        "q17_small_quantity_revenue": _tpch.q17_small_quantity_revenue,
        "q18_large_volume_customers": _tpch.q18_large_volume_customers,
        "q19_discounted_revenue": _tpch.q19_discounted_revenue,
        "q20_excess_suppliers": _tpch.q20_excess_suppliers,
        "q21_waiting_suppliers": _tpch.q21_waiting_suppliers,
        "q22_idle_customers": _tpch.q22_idle_customers,
        "window_top_orders": _window_top_orders,
        "sessionize_events": _sessionize,
        "session_window_agg": _session_window_agg,
        "hourly_event_rollup": _hourly_rollup,
        # dedup
        "dedup_exact": _dedup_exact,
        "dedup_ngram_jaccard": _dedup_ngram_jaccard,
        "dedup_jaccard_budget": _dedup_jaccard_budget,
        "pair_budget_report": _pair_budget_report,
        "cross_source_overlap": _cross_source_overlap,
        "corpus_snapshot_diff": _corpus_snapshot_diff,
        "minhash_recall": _minhash_recall,
        "debounce_events": _debounce_events,
        "label_centroid_sim": _label_centroid_sim,
        "dedup_overlap": _dedup_overlap,
        "dedup_minhash_lsh": _dedup_minhash_lsh,
        "dedup_simhash": _dedup_simhash,
        "dedup_clusters": _dedup_clusters,
        "leakage_safe_split": _leakage_safe_split,
        "dup_cluster_stats": _dup_cluster_stats,
        "embedding_outliers": _embedding_outliers,
        "embedding_pca": _embedding_pca,
        "dedup_incremental": _dedup_incremental,
        "dedup_incremental_bloom": _dedup_incremental_bloom,
        "dedup_incremental_minhash": _dedup_incremental_minhash,
        "segment_dedup": _segment_dedup,
        "semantic_dedup": _semantic_dedup,
        "corpus_curation": _corpus_curation,
        "corpus_pipeline_full": _corpus_pipeline_full,
        "corpus_to_batches": _corpus_to_batches,
        "funnel_counts": _funnel_counts,
        "funnel_counts_capped": _funnel_counts_capped,
        "cohort_retention": _cohort_retention,
        "event_pattern_match": _event_pattern_match,
        "scd2_user_value": _scd2_user_value,
        "heavy_hitters_tokens": _heavy_hitters_tokens,
        "rolling_active_users": _rolling_active_users,
        "rolling_active_users_hll": _rolling_active_users_hll,
        "purchase_attribution": _purchase_attribution,
        "multi_touch_attribution": _multi_touch_attribution,
        "time_weighted_avg": _time_weighted_avg,
        "integrity_audit": _integrity_audit,
        "value_histogram": _value_histogram,
        "rank_profile_orders": _rank_profile,
        "audience_overlap_kmv": _audience_overlap_kmv,
        "funnel_windowed": _funnel_windowed,
        "event_transitions": _event_transitions,
        "scd2_snapshot_diff": _scd2_snapshot_diff,
        "data_quality_events": _data_quality_events,
        "dedup_exact_priority": _dedup_exact_priority,
        "dedup_normalized": _dedup_normalized,
        "frequent_sequences": _frequent_sequences,
        "token_drift": _token_drift,
        "correlation_report": _correlation_report,
        "join_size_estimate": _join_size_estimate,
        "revenue_concentration": _revenue_concentration,
        "revenue_pareto": _revenue_pareto,
        "robust_spread": _robust_spread,
        "new_vs_returning": _new_vs_returning,
        "stickiness": _stickiness,
        "profile_orders": _profile_orders,
        "fuzzy_part_names": _fuzzy_part_names,
        "fuzzy_part_names_qgram": _fuzzy_part_names_qgram,
        "user_event_sequences": _user_event_sequences,
        # similarity
        "sim_bruteforce_topk": _sim_bruteforce_topk,
        "sim_lsh_ann": _sim_lsh_ann,
        "sim_ivf_ann": _sim_ivf_ann,
        "sim_pq_ann": _sim_pq_ann,
        "sim_ivfpq_ann": _sim_ivfpq_ann,
        "sim_pq_trained": _sim_pq_trained,
        "sim_pq_trained_kc256": _sim_pq_trained_kc256,
        "sim_ivfpq_trained": _sim_ivfpq_trained,
        "ann_recall": _ann_recall,
        "ann_recall_trained": _ann_recall_trained,
        "sim_ivf_trained": _sim_ivf_trained,
        "embedding_near_dup": _embedding_near_dup,
        # text analysis
        "text_lang_id": _text_lang_id,
        "text_quality": _text_quality,
        "text_token_count": _text_token_count,
        "text_fingerprint": _text_fingerprint,
        "text_repetition": _text_repetition,
        "text_pii_redaction": _text_pii_redaction,
        "tfidf_top_terms": _tfidf_top_terms,
        "ngram_lm_score": _ngram_lm_score,
        "source_reweight": _source_reweight,
        "source_reweight_converge": _source_reweight_converge,
        "weighted_sample": _weighted_sample,
        "bm25_search": _bm25_search,
        "hybrid_search_rrf": _hybrid_search_rrf,
        "hash_embed": _hash_embed,
        "semantic_dedup_docs": _semantic_dedup_docs,
        "event_anomalies": _event_anomalies,
        "incremental_rollup_merge": _incremental_rollup_merge,
        "chunk_documents": _chunk_documents,
        "hard_negatives": _hard_negatives,
        "wordpiece_tokenize": _wordpiece_tokenize,
        "text_repetition_chars": _text_repetition_chars,
        "source_unigram_kl": _source_unigram_kl,
        "source_kl_state_bound": _source_kl_state_bound,
        "bpe_learn": _bpe_learn,
        "bpe_encode": _bpe_encode,
        "bpe_encode_ranked": _bpe_encode_ranked,
        "dsir_sample": _dsir_sample,
        "quality_classifier": _quality_classifier,
        "quality_calibration": _quality_calibration,
        "funnel_trend_report": _funnel_trend_report,
        "quality_model_roundtrip": _quality_model_roundtrip,
        "curation_funnel": _curation_funnel,
        "unigram_tokenize": _unigram_tokenize,
        "unigram_segment": _unigram_segment,
        "unigram_em_tokenize": _unigram_em_tokenize,
        "unigram_em_converge": _unigram_em_converge,
        "unigram_em_soft": _unigram_em_soft,
        "unigram_prune_tokenize": _unigram_prune_tokenize,
        "unigram_prune_loss": _unigram_prune_loss,
        "unigram_to_size_tokenize": _unigram_to_size_tokenize,
        "unigram_train_tokenize": _unigram_train_tokenize,
        "corpus_diversity": _corpus_diversity,
        "corpus_diversity_approx": _corpus_diversity_approx,
        "cluster_silhouette": _cluster_silhouette,
        "text_blocklist": _text_blocklist,
        "pack_bins": _pack_bins,
        "lsh_tuning": _lsh_tuning,
        "lsh_autoband": _lsh_autoband,
        "ann_model_roundtrip": _ann_model_roundtrip,
        "ann_incremental_probe": _ann_incremental_probe,
        "ann_delete_probe": _ann_delete_probe,
        "ann_rerank_probe": _ann_rerank_probe,
        "dedup_spans": _dedup_spans,
        "dedup_spans_minrun": _dedup_spans_minrun,
        "dedup_spans_incremental": _dedup_spans_incremental,
        "dedup_spans_report": _dedup_spans_report,
        "cluster_balanced_sample": _cluster_balanced_sample,
        "bpe_fertility_by_source": _bpe_fertility_by_source,
        "source_dataset_card": _source_dataset_card,
        "text_compression_ratio": _compression_ratio,
        "image_near_dup": _image_near_dup,
        "ngram_novelty": _ngram_novelty,
        "text_readability": _readability,
        "train_val_split": _train_val_split,
        "pack_sequences": _pack_sequences,
        "pack_manifest": _pack_manifest,
        "window_boundaries": _window_boundaries,
        "bin_boundaries_audit": _bin_boundaries_audit,
        "pack_stats": _pack_stats,
        "decontaminate": _decontaminate,
        "semantic_decontaminate": _semantic_decontaminate,
        "contamination_report": _contamination_report,
        "decontaminate_spans": _decontaminate_spans,
        # multimodal plumbing
        "multimodal_meta": _multimodal_meta,
        "multimodal_features": _multimodal_features,
        "multimodal_resize": _multimodal_resize,
        "multimodal_audio_stats": _multimodal_audio_stats,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
_SHINGLES4 = (
    "list_distinct([array_to_string(t[i:i+3], ' ') "
    "for i in range(1, greatest(len(t)-3, 1)+1)])"
)

# Shared shingle CTEs: `sbase` holds the md5-hashed distinct-shingle LIST
# per doc (the verification side joins it back by id and intersects —
# mirror of dedup.shingle_frame / dedup._verify_jaccard), `sh` is its
# exploded form (the blocking side).  Shingles are hashed to the same 60-bit
# md5_int the Spark side uses, so blocking keys, intersect sizes, and
# minhash bases are bit-identical across engines.
_SH_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sbase AS (SELECT doc_id, list_distinct(list_transform({_SHINGLES4}, x -> {_md5i('x')})) AS sh FROM toks),
sh AS (SELECT doc_id, unnest(sh) AS s FROM sbase)
"""

# Feature-hashing embedding CTE (dim 16) — mirror of text_analysis.hash_embed:
# token → 60-bit md5 bucket mod 16, counts, L2-normalize, per-component
# quantize-round to 1e-6 so the vectors are bit-identical across engines.
_HASH_EMBED_CTE = f"""
toks16 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t FROM documents),
tok16 AS (SELECT doc_id, unnest(t) AS tk FROM toks16),
cnt16 AS (SELECT doc_id, ({_md5i('tk')} % 16)::INT AS b, count(*) AS c
          FROM tok16 GROUP BY 1, 2),
dims16 AS (SELECT doc_id, unnest(generate_series(0, 15)) AS i FROM documents),
raw16 AS (SELECT d.doc_id, d.i, coalesce(c.c, 0)::DOUBLE AS v
          FROM dims16 d LEFT JOIN cnt16 c ON c.doc_id = d.doc_id AND c.b = d.i),
nrm16 AS (SELECT doc_id, sqrt(sum(v * v)) AS nn FROM raw16 GROUP BY 1),
emb16 AS (SELECT r.doc_id,
                 list(CASE WHEN nn > 0 THEN floor(r.v / nn * 1000000 + 0.5) / 1000000
                           ELSE 0.0 END ORDER BY r.i) AS embedding
          FROM raw16 r JOIN nrm16 USING (doc_id) GROUP BY r.doc_id)
"""

# Hot-shingle blocking guard — mirror of ngram_jaccard_pairs(max_shingle_df).
_NGRAM_DF_CAP = 256

# Budgeted candidate generation (dedup._pair_budget_threshold twin): the df
# histogram's pair-count cumsum picks the largest cap whose total candidate
# pairs fit the 20k budget used by the registry's budgeted queries.
_PAIR_BUDGET_THR = f"""
dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
hist AS (SELECT df, count(*) AS n_lists FROM dfs
         WHERE df BETWEEN 2 AND {_NGRAM_DF_CAP} GROUP BY df),
cum AS (SELECT df, n_lists,
               sum(n_lists * df * (df - 1) / 2) OVER (ORDER BY df) AS cum_pairs
        FROM hist),
thr AS (SELECT coalesce(max(df), 1) AS t FROM cum WHERE cum_pairs <= 20000)
"""

_NGRAM_BLOCKED = f"""
blocked AS (SELECT doc_id, s FROM sh
            QUALIFY count(*) OVER (PARTITION BY s) <= {_NGRAM_DF_CAP}),
ncand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM blocked a JOIN blocked b ON a.s = b.s AND a.doc_id < b.doc_id)
"""


def _jaccard_verify_sql(cand: str, threshold: float) -> str:
    """Candidate verification via list_intersect on the per-doc shingle
    lists — the SQL twin of dedup._verify_jaccard."""
    return f"""
v AS (SELECT id_a, id_b,
             len(list_intersect(ba.sh, bb.sh)) AS shared,
             len(ba.sh) AS n_a, len(bb.sh) AS n_b
      FROM {cand} c JOIN sbase ba ON ba.doc_id = c.id_a
                    JOIN sbase bb ON bb.doc_id = c.id_b)
SELECT id_a, id_b, floor(shared / (n_a + n_b - shared) * 10000 + 0.5) / 10000 AS jaccard
FROM v WHERE shared / (n_a + n_b - shared) >= {threshold}
"""


def _semdedup_oracle(e_cte: str, threshold: float, out_id: str) -> str:
    """SemDeDup oracle over any CTE chain ending in `e(vec_id, v)`: seeded
    8-centroid assignment, within-cluster drop at cosine >= threshold.
    Zero-norm vectors define cosine = 0 (mirror of similarity.safe_cosine
    / the guarded _seq_cosine_matrix) — an unguarded NaN diverges between
    engines (Spark floor(NaN)::long = 0, DuckDB NaN > any threshold)."""
    def cos(x: str, y: str) -> str:
        return (f"CASE WHEN sqrt(list_dot_product({x}, {x})) * sqrt(list_dot_product({y}, {y})) > 0 "
                f"THEN list_dot_product({x}, {y}) / (sqrt(list_dot_product({x}, {x})) * sqrt(list_dot_product({y}, {y}))) "
                f"ELSE 0.0 END")

    return f"""
            WITH {e_cte},
            cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
            cos_all AS (SELECT e.vec_id, cid, {cos('e.v', 'cv')} AS cos
                        FROM e CROSS JOIN cent),
            assign AS (SELECT vec_id, cid AS cluster FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM cos_all) WHERE rn = 1),
            ev AS (SELECT a.vec_id, a.cluster, e.v FROM assign a JOIN e USING (vec_id)),
            dropped AS (SELECT DISTINCT a.vec_id
                        FROM ev a JOIN ev b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
                        WHERE floor(({cos('a.v', 'b.v')}) * 1000000 + 0.5) / 1000000 >= {threshold})
            SELECT a.vec_id AS {out_id}, a.cluster::BIGINT AS cluster,
                   (d.vec_id IS NULL) AS keep
            FROM assign a LEFT JOIN dropped d ON d.vec_id = a.vec_id"""


# Incremental exact dedup — one oracle string for the exact path and the
# Bloom-prefiltered path, which must return bit-identical rows.
_INCREMENTAL_EXACT_ORACLE = """
    WITH seen AS (SELECT DISTINCT md5(text) AS sig FROM documents WHERE doc_id < 250),
    inc AS (SELECT doc_id, md5(text) AS sig FROM documents WHERE doc_id >= 250)
    SELECT min(doc_id) AS doc_id, sig FROM inc
    WHERE sig NOT IN (SELECT sig FROM seen)
    GROUP BY sig"""


def _minhash_sigs_sql() -> str:
    """The ONE copy of the 8-hash minhash signature select list (mirror of
    dedup.minhash_signatures' constants) used by every minhash oracle."""
    from singer_spark.operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    base = f"(s % {MINHASH_P})"
    return ",\n    ".join(
        f"min(({MINHASH_A[i]} * {base} + {MINHASH_B[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(8))


def _minhash_bands_sql(src: str) -> str:
    """The ONE copy of the 4-band (2 rows/band) bucketing UNION used by
    every minhash oracle (mirror of dedup._band_buckets at 8 hashes)."""
    return "\n    UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        f"h{2*bi}::VARCHAR || '_' || h{2*bi+1}::VARCHAR AS key FROM {src}"
        for bi in range(4))


def _minhash_incremental_oracle() -> str:
    """Mirror of dedup.minhash_lsh_incremental at threshold 0.5: history =
    docs < 250 as signature rows, increment = docs >= 250; history match by
    signature-agreement estimate, in-increment by exact shingle Jaccard."""
    mins = _minhash_sigs_sql()
    bands = _minhash_bands_sql

    agree = " + ".join(f"(sn.h{i} = so.h{i})::INT" for i in range(8))
    hcols = ", ".join(f"h{i}" for i in range(8))
    return f"""
WITH {_SH_CTE},
sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
oldb AS (SELECT * FROM sigs WHERE doc_id < 250),
newb AS (SELECT * FROM sigs WHERE doc_id >= 250),
nb AS ({bands('newb')}),
ob AS ({bands('oldb')}),
cand AS (SELECT DISTINCT n.doc_id AS nid, o.doc_id AS oid
         FROM nb n JOIN ob o ON n.band = o.band AND n.key = o.key),
hist AS (SELECT DISTINCT nid FROM cand
         JOIN newb sn ON sn.doc_id = nid
         JOIN oldb so ON so.doc_id = oid
         WHERE ({agree}) / 8.0 >= 0.5),
incand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM nb a JOIN nb b ON a.band = b.band AND a.key = b.key
                                AND a.doc_id < b.doc_id),
inv AS (SELECT id_a, id_b, len(list_intersect(ba.sh, bb.sh)) AS shared,
               len(ba.sh) AS n_a, len(bb.sh) AS n_b
        FROM incand c JOIN sbase ba ON ba.doc_id = c.id_a
                      JOIN sbase bb ON bb.doc_id = c.id_b),
incr AS (SELECT DISTINCT id_b FROM inv
         WHERE shared / (n_a + n_b - shared) >= 0.5
           AND id_a NOT IN (SELECT nid FROM hist))
SELECT doc_id, {hcols} FROM newb
WHERE doc_id NOT IN (SELECT nid FROM hist)
  AND doc_id NOT IN (SELECT id_b FROM incr)
"""


def _minhash_oracle() -> str:
    mins = _minhash_sigs_sql()
    bands = _minhash_bands_sql("sigs")
    return f"""
WITH {_SH_CTE},
sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
buckets AS ({bands}),
cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
         FROM buckets l JOIN buckets r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
{_jaccard_verify_sql('cand', 0.5)}
"""


def _minhash_recall_oracle() -> str:
    """Compose the exact-jaccard and banded-minhash pair CTEs into the
    one-row recall audit (dedup.minhash_recall_report twin)."""
    mins = _minhash_sigs_sql()
    bands = _minhash_bands_sql("sigs")

    def verify(cand: str, out: str) -> str:
        return f"""
{out} AS (SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b,
           len(list_intersect(ba.sh, bb.sh)) AS shared,
           len(ba.sh) AS n_a, len(bb.sh) AS n_b
    FROM {cand} c JOIN sbase ba ON ba.doc_id = c.id_a
                  JOIN sbase bb ON bb.doc_id = c.id_b)
    WHERE shared / (n_a + n_b - shared) >= 0.5)"""

    return f"""
WITH {_SH_CTE},
{_NGRAM_BLOCKED},
sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
buckets AS ({bands}),
lcand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM buckets l JOIN buckets r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
{verify('ncand', 'exactp')},
{verify('lcand', 'lshp')},
j AS (SELECT coalesce(e.id_a, l.id_a) AS id_a,
             coalesce(e.id_b, l.id_b) AS id_b,
             e.id_a IS NOT NULL AS in_e, l.id_a IS NOT NULL AS in_l
      FROM exactp e FULL OUTER JOIN lshp l
      ON e.id_a = l.id_a AND e.id_b = l.id_b)
SELECT count(CASE WHEN in_e THEN 1 END) AS n_exact,
       count(CASE WHEN in_l THEN 1 END) AS n_lsh,
       count(CASE WHEN in_e AND in_l THEN 1 END) AS n_common,
       floor((CASE WHEN count(CASE WHEN in_e THEN 1 END) > 0
              THEN count(CASE WHEN in_e AND in_l THEN 1 END)::DOUBLE
                   / count(CASE WHEN in_e THEN 1 END)
              ELSE 1.0 END) * 1000000 + 0.5) / 1000000 AS recall
FROM j"""


def _simhash_oracle() -> str:
    """Mirror of dedup.simhash_pairs: 60-bit signature (md5_int is already a
    60-bit hash — no truncation), multi-index pigeonhole keys (C(5,2) = 10
    two-block combos × 24-bit values), degenerate-bucket guard."""
    from singer_spark.operators.dedup import SIMHASH_BITS, simhash_block_combos

    h = _md5i("x")
    _, block_bits, combos = simhash_block_combos(3)
    mask = (1 << block_bits) - 1
    key_rows = "\n    UNION ALL ".join(
        f"SELECT doc_id, sig, {ci} AS c, "
        f"((sig >> {b0 * block_bits}) & {mask}) * {mask + 1} + ((sig >> {b1 * block_bits}) & {mask}) AS v "
        f"FROM sigs"
        for ci, (b0, b1) in enumerate(combos)
    )
    return f"""
WITH toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
              FROM documents
              -- NULL text -> NULL signature engine-side (joins drop it);
              -- DuckDB's CASE chain would fold NULL to sig 0 and pair
              -- every NULL doc with every other (r8 NULL harness)
              WHERE text IS NOT NULL),
hs AS (SELECT doc_id, list_transform(t, x -> {h}) AS h FROM toks),
sigs AS (SELECT doc_id,
  list_sum([CASE WHEN 2 * len(list_filter(h, v -> (v >> j) & 1 = 1)) > len(h)
            THEN (1::BIGINT << j) ELSE 0 END for j in range(0, {SIMHASH_BITS})])::BIGINT AS sig
  FROM hs),
keys AS ({key_rows}),
guarded AS (SELECT * FROM keys QUALIFY count(*) OVER (PARTITION BY c, v) <= 100000),
cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                l.sig AS sa, r.sig AS sb
         FROM guarded l JOIN guarded r ON l.c = r.c AND l.v = r.v AND l.doc_id < r.doc_id)
SELECT DISTINCT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


def _lsh_ann_oracle() -> str:
    """Replicates similarity.lsh_ann_topk exactly: same md5-derived ±1
    hyperplanes (inlined as literals), same buckets, same re-rank."""
    def plane(t: int, p: int) -> str:
        vals = []
        for d in range(64):
            hx = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
            vals.append("1.0" if int(hx[:15], 16) % 2 == 0 else "-1.0")
        return "[" + ",".join(vals) + "]"

    def bucket(t: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane(t, p)}) > 0 THEN {2**p} ELSE 0 END)"
            for p in range(8)
        )
        return f"({terms})::BIGINT"

    tables = "\n    UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS t, {bucket(t)} AS b FROM e" for t in range(4)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
hashed AS ({tables}),
qb AS (SELECT * FROM hashed WHERE vec_id < 10),
cand AS (SELECT DISTINCT qb.vec_id AS query_id, c.vec_id AS neighbor_id,
                qb.v AS qv, c.v AS cv
         FROM hashed c JOIN qb ON c.t = qb.t AND c.b = qb.b AND c.vec_id <> qb.vec_id),
scored AS (SELECT query_id, neighbor_id,
  floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) * 1000000 + 0.5) / 1000000 AS cosine
  FROM cand),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
SELECT query_id, neighbor_id, rank::INT AS rank, cosine FROM r WHERE rank <= 5
"""


def _pq_trained_oracle(iters: int = 3, m: int = 8, kc: int = 16,
                       topk: int = 5, n_queries: int = 10) -> str:
    """SQL replay of the Lloyd-TRAINED PQ path (similarity.py
    pq_train_codebooks + pq_ann_topk): per iteration, every vector's
    per-subspace code (micro-unit argmin, ties → lowest code), then
    per-(subspace, code, dim) means QUANTIZED with the engine-wide 1e-6
    qround — the quantize-per-iteration discipline that makes float
    k-means twin across engines — with empty codes keeping their
    previous entry; then the standard code/LUT/ADC chain against the
    final codebooks."""
    sub = 64 // m
    blocks = [
        f"dims AS (SELECT unnest(generate_series(0, {m - 1})) AS s)",
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"sv AS (SELECT vec_id, s, v[{sub}*s + 1 : {sub}*s + {sub}] AS sv"
        "  FROM e CROSS JOIN dims)",
        f"cb0 AS (SELECT s, vec_id AS code, sv AS cv FROM sv WHERE vec_id < {kc})",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        blocks.append(f"""d{i} AS (
  SELECT a.vec_id, a.s, b.code,
         floor(list_dot_product(
           list_transform(range(1, {sub + 1}), j -> a.sv[j] - b.cv[j]),
           list_transform(range(1, {sub + 1}), j -> a.sv[j] - b.cv[j])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM sv a JOIN cb{p} b USING (s))""")
        blocks.append(f"""a{i} AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, code) AS rn
    FROM d{i}) WHERE rn = 1)""")
        blocks.append(f"""m{i} AS (
  SELECT a.s, a.code, dd.d,
         floor(avg(v.sv[dd.d]) * 1000000 + 0.5) / 1000000 AS mv
  FROM a{i} a JOIN sv v USING (vec_id, s)
       CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS d) dd
  GROUP BY a.s, a.code, dd.d)""")
        blocks.append(f"""cb{i} AS (
  SELECT c.s, c.code, coalesce(nm.cv, c.cv) AS cv
  FROM cb{p} c LEFT JOIN (SELECT s, code, list(mv ORDER BY d) AS cv
                          FROM m{i} GROUP BY s, code) nm USING (s, code))""")
    blocks.append(f"""fd AS (
  SELECT a.vec_id, a.s, b.code,
         floor(list_dot_product(
           list_transform(range(1, {sub + 1}), j -> a.sv[j] - b.cv[j]),
           list_transform(range(1, {sub + 1}), j -> a.sv[j] - b.cv[j])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM sv a JOIN cb{iters} b USING (s))""")
    blocks.append("""codes AS (
  SELECT vec_id AS neighbor_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, code) AS rn
    FROM fd) WHERE rn = 1)""")
    blocks.append(f"""lut AS (SELECT vec_id AS query_id, s, code, dm
  FROM fd WHERE vec_id < {n_queries})""")
    blocks.append("""adc AS (
  SELECT l.query_id, c.neighbor_id, sum(l.dm)::BIGINT AS adc_micro
  FROM codes c JOIN lut l USING (s, code)
  WHERE c.neighbor_id <> l.query_id GROUP BY 1, 2)""")
    return ("WITH " + ",\n".join(blocks) + f"""
SELECT query_id, neighbor_id, rank::INT AS rank, adc_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_micro, neighbor_id) AS rank
  FROM adc) WHERE rank <= {topk}""")


def _ivfpq_trained_oracle(iters_c: int = 2, iters_pq: int = 2,
                          ncl: int = 16, m: int = 8, kc: int = 16,
                          nprobe: int = 4, topk: int = 5,
                          n_queries: int = 10, dim: int = 64) -> str:
    """SQL replay of the TRAINED IVFADC path (similarity.py
    ivfpq_train_model + ivfpq_ann_topk): coarse Lloyd under micro-unit
    L2 (iters_c iterations, qround'd means, empty cells keep their
    entry), residual codebook seeds from the next kc ids' residuals
    w.r.t. the TRAINED centroids, per-subspace residual Lloyd (iters_pq
    iterations), then the standard four-stage cell/code/probe/ADC
    replay.  Iteration CTEs are MATERIALIZED (the DuckDB unrolled-
    iteration discipline — inlining re-expands the chain per
    reference)."""
    sub = dim // m
    L2 = ("floor(list_dot_product("
          "list_transform(range(1, {n}), i -> {a}[i] - {b}[i]),"
          "list_transform(range(1, {n}), i -> {a}[i] - {b}[i])"
          ") * 1000000 + 0.5)::BIGINT")
    full = dict(n=dim + 1)
    blocks = [
        f"dims AS (SELECT unnest(generate_series(0, {m - 1})) AS s)",
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM e "
        f"WHERE vec_id < {ncl})",
    ]
    # --- coarse Lloyd ----------------------------------------------------
    for i in range(1, iters_c + 1):
        p = i - 1
        blocks.append(f"""cd{i} AS (
  SELECT e.vec_id, c.cid, {L2.format(a='e.v', b='c.cv', **full)} AS dm
  FROM e CROSS JOIN c{p} c)""")
        blocks.append(f"""as{i} AS MATERIALIZED (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) AS rn
    FROM cd{i}) WHERE rn = 1)""")
        blocks.append(f"""cm{i} AS (
  SELECT a.cell AS cid, dd.d,
         floor(avg(e.v[dd.d]) * 1000000 + 0.5) / 1000000 AS mv
  FROM as{i} a JOIN e USING (vec_id)
       CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS d) dd
  GROUP BY a.cell, dd.d)""")
        blocks.append(f"""c{i} AS MATERIALIZED (
  SELECT p.cid, coalesce(nm.cv, p.cv) AS cv
  FROM c{p} p LEFT JOIN (SELECT cid, list(mv ORDER BY d) AS cv
                         FROM cm{i} GROUP BY cid) nm USING (cid))""")
    CF = f"c{iters_c}"
    # --- every vector's trained cell + residual (cells fixed from here) --
    blocks.append(f"""acell AS MATERIALIZED (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {L2.format(a='e.v', b='c.cv', **full)},
                                       c.cid) AS rn
    FROM e CROSS JOIN {CF} c) WHERE rn = 1)""")
    blocks.append(f"""resid AS MATERIALIZED (
  SELECT e.vec_id, a.cell,
         list_transform(range(1, {dim + 1}), i -> e.v[i] - c.cv[i]) AS rv
  FROM e JOIN acell a USING (vec_id) JOIN {CF} c ON c.cid = a.cell)""")
    blocks.append(f"""rsub AS MATERIALIZED (
  SELECT vec_id, cell, s, rv[{sub}*s + 1 : {sub}*s + {sub}] AS v
  FROM resid CROSS JOIN dims)""")
    blocks.append(f"""cb0 AS MATERIALIZED (
  SELECT vec_id - {ncl} AS code, s, v AS cv FROM rsub
  WHERE vec_id >= {ncl} AND vec_id < {ncl + kc})""")
    # --- residual per-subspace Lloyd -------------------------------------
    for j in range(1, iters_pq + 1):
        p = j - 1
        blocks.append(f"""rd{j} AS (
  SELECT r.vec_id, r.s, b.code,
         {L2.format(a='r.v', b='b.cv', n=sub + 1)} AS dm
  FROM rsub r JOIN cb{p} b USING (s))""")
        blocks.append(f"""ra{j} AS MATERIALIZED (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, code) AS rn
    FROM rd{j}) WHERE rn = 1)""")
        blocks.append(f"""rm{j} AS (
  SELECT a.s, a.code, dd.d,
         floor(avg(r.v[dd.d]) * 1000000 + 0.5) / 1000000 AS mv
  FROM ra{j} a JOIN rsub r USING (vec_id, s)
       CROSS JOIN (SELECT unnest(generate_series(1, {sub})) AS d) dd
  GROUP BY a.s, a.code, dd.d)""")
        blocks.append(f"""cb{j} AS MATERIALIZED (
  SELECT c.s, c.code, coalesce(nm.cv, c.cv) AS cv
  FROM cb{p} c LEFT JOIN (SELECT s, code, list(mv ORDER BY d) AS cv
                          FROM rm{j} GROUP BY s, code) nm USING (s, code))""")
    CBF = f"cb{iters_pq}"
    # --- the four-stage IVFADC replay against the trained model ----------
    blocks.append(f"""codes AS (
  SELECT vec_id, s, code FROM (
    SELECT r.vec_id, r.s, b.code,
           row_number() OVER (PARTITION BY r.vec_id, r.s
                              ORDER BY {L2.format(a='r.v', b='b.cv', n=sub + 1)},
                                       b.code) AS rn
    FROM rsub r JOIN {CBF} b USING (s)) WHERE rn = 1)""")
    blocks.append(f"""probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {L2.format(a='e.v', b='c.cv', **full)},
                                       c.cid) AS rn
    FROM e CROSS JOIN {CF} c WHERE e.vec_id < {n_queries})
  WHERE rn <= {nprobe})""")
    blocks.append(f"""qrs AS (
  SELECT p.query_id, p.cell, d.s,
         list_transform(range({sub}*d.s + 1, {sub}*d.s + {sub + 1}),
                        i -> e.v[i] - c.cv[i]) AS v
  FROM probes p JOIN e ON e.vec_id = p.query_id
       JOIN {CF} c ON c.cid = p.cell
       CROSS JOIN dims d)""")
    blocks.append(f"""lut AS (
  SELECT q.query_id, q.cell, q.s, b.code,
         {L2.format(a='q.v', b='b.cv', n=sub + 1)} AS dm
  FROM qrs q JOIN {CBF} b USING (s))""")
    blocks.append("""adc AS (
  SELECT l.query_id, a.vec_id AS neighbor_id,
         sum(l.dm)::BIGINT AS adc_micro
  FROM acell a
    JOIN codes k ON k.vec_id = a.vec_id
    JOIN lut l ON l.cell = a.cell AND l.s = k.s AND l.code = k.code
  WHERE a.vec_id <> l.query_id
  GROUP BY 1, 2)""")
    return ("WITH " + ",\n".join(blocks) + f"""
SELECT query_id, neighbor_id, rank::INT AS rank, adc_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_micro, neighbor_id) AS rank
  FROM adc) WHERE rank <= {topk}""")


def _ann_recall_trained_oracle() -> str:
    """Recall@5 of the two TRAINED models vs exact micro-unit L2: the
    full `_pq_trained_oracle` (kc=256) and `_ivfpq_trained_oracle`
    replays are nested as parenthesized WITH-subqueries of one recall
    computation — the MATERIALIZED iteration CTEs inside each replay
    keep DuckDB's planner from re-expanding the chains."""
    pq = _pq_trained_oracle(iters=2, m=8, kc=256, topk=5, n_queries=10)
    iv = _ivfpq_trained_oracle(iters_c=2, iters_pq=2)
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ed AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 floor(list_dot_product(
                   list_transform(range(1, 65), i -> q.v[i] - c.v[i]),
                   list_transform(range(1, 65), i -> q.v[i] - c.v[i])
                 ) * 1000000 + 0.5)::BIGINT AS dm
          FROM e q CROSS JOIN e c
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        exact AS (SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY dm, neighbor_id) AS rn
            FROM ed) WHERE rn <= 5),
        pq AS (SELECT query_id, neighbor_id FROM ({pq})),
        iv AS (SELECT query_id, neighbor_id FROM ({iv})),
        j AS (SELECT ex.query_id,
                     (p.query_id IS NOT NULL)::INT AS hp,
                     (v2.query_id IS NOT NULL)::INT AS hi
              FROM exact ex
                   LEFT JOIN pq p USING (query_id, neighbor_id)
                   LEFT JOIN iv v2 USING (query_id, neighbor_id))
        SELECT 5 AS k, count(DISTINCT query_id)::BIGINT AS n_queries,
               sum(hp)::BIGINT AS pq256_hits,
               sum(hi)::BIGINT AS ivfpq_trained_hits,
               floor(sum(hp)::DOUBLE / count(*) * 10000 + 0.5) / 10000
                 AS pq256_recall,
               floor(sum(hi)::DOUBLE / count(*) * 10000 + 0.5) / 10000
                 AS ivfpq_trained_recall
        FROM j"""


def _repetition_chars_oracle() -> str:
    """SQL replay of repetition_signals: sliding token windows by list
    slicing, top gram per (doc, n) via (count desc, gram asc) rank,
    duplicate-gram position coverage via generate_series unions.  The
    dup family hashes grams with the shared md5_int construction —
    digest equality is all the coverage rule needs."""
    tops = ", ".join(
        f"max(CASE WHEN n = {n} THEN frac END) AS top{n}_frac"
        for n in (2, 3, 4))
    dups = ", ".join(
        f"max(CASE WHEN n = {n} THEN frac END) AS dup{n}_frac"
        for n in (5, 6, 7, 8, 9, 10))
    top_sel = ", ".join(
        f"coalesce(top{n}_frac, 0.0) AS top{n}_frac" for n in (2, 3, 4))
    dup_sel = ", ".join(
        f"coalesce(dup{n}_frac, 0.0) AS dup{n}_frac"
        for n in (5, 6, 7, 8, 9, 10))
    return f"""
        WITH t AS (
          SELECT doc_id, length(coalesce(text, '')) AS n_chars,
                 list_filter(string_split(coalesce(text, ''), ' '),
                             x -> x <> '') AS toks
          FROM documents),
        tg0 AS (
          SELECT doc_id, n_chars, v.n, toks,
                 unnest(generate_series(1, len(toks) - v.n + 1)) AS i
          FROM t, (VALUES (2), (3), (4)) v(n)
          WHERE len(toks) >= v.n),
        tg AS (
          SELECT doc_id, n_chars, n,
                 array_to_string(toks[i : i + n - 1], ' ') AS gram
          FROM tg0),
        tc AS (SELECT doc_id, n, gram, count(*) AS cnt,
                      max(n_chars) AS n_chars
               FROM tg GROUP BY 1, 2, 3),
        tp AS (
          SELECT doc_id, n,
                 floor(least(cnt * length(gram) / greatest(n_chars, 1),
                             1.0) * 10000 + 0.5) / 10000 AS frac
          FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id, n
                    ORDER BY cnt DESC, gram ASC) AS rn FROM tc)
          WHERE rn = 1),
        dg0 AS (
          SELECT doc_id, v.n, toks,
                 unnest(generate_series(1, len(toks) - v.n + 1)) AS i
          FROM t, (VALUES (5), (6), (7), (8), (9), (10)) v(n)
          WHERE len(toks) >= v.n),
        dg AS (
          SELECT doc_id, n, i,
                 ('0x' || substr(md5(array_to_string(
                     toks[i : i + n - 1], ' ')), 1, 15))::BIGINT AS g
          FROM dg0),
        ddup AS (
          SELECT * FROM (
            SELECT doc_id, n, i,
                   count(*) OVER (PARTITION BY doc_id, n, g) AS cnt
            FROM dg) WHERE cnt >= 2),
        cov0 AS (
          SELECT doc_id, n, unnest(generate_series(i, i + n - 1)) AS pos
          FROM ddup),
        cov AS (SELECT DISTINCT doc_id, n, pos FROM cov0),
        tl0 AS (
          SELECT doc_id, toks,
                 unnest(generate_series(1, len(toks))) AS pos
          FROM t),
        tl AS (
          SELECT doc_id, pos, length(toks[pos]) AS len FROM tl0),
        tot AS (SELECT doc_id, sum(len) AS tot FROM tl GROUP BY doc_id),
        dv AS (
          SELECT c.doc_id, c.n,
                 floor(sum(tl.len) / greatest(max(tot.tot), 1)
                       * 10000 + 0.5) / 10000 AS frac
          FROM cov c JOIN tl ON tl.doc_id = c.doc_id AND tl.pos = c.pos
               JOIN tot ON tot.doc_id = c.doc_id
          GROUP BY c.doc_id, c.n),
        tops AS (SELECT doc_id, {tops} FROM tp GROUP BY doc_id),
        dupf AS (SELECT doc_id, {dups} FROM dv GROUP BY doc_id)
        SELECT d.doc_id, {top_sel}, {dup_sel}
        FROM documents d
             LEFT JOIN tops USING (doc_id) LEFT JOIN dupf USING (doc_id)
        ORDER BY d.doc_id"""


def _source_kl_oracle(bounds: bool = False) -> str:
    """Grid-free exact-KL replay (text_analysis.source_unigram_kl's
    analytic absent-token tail, identical parenthesization).  With
    `bounds`, emits the source_kl_state_bound shape: the exact side as
    `kl_exact` plus the streaming estimator's contract booleans pinned
    true."""
    head = ("SELECT source, n_s::BIGint AS n_tokens,\n"
            "       floor((present_sum\n"
            "              + (0.5 / (n_s + 0.5 * v))\n"
            "                * ((v - v_s) * ln(0.5 / (n_s + 0.5 * v))\n"
            "                   - (lnq_all - lnq_present)))\n"
            "             * 1000000 + 0.5) / 1000000 AS "
            + ("kl_exact,\n       true AS est_nonneg,\n"
               "       true AS mg_sound" if bounds else "kl"))
    return """
            WITH st AS (
              SELECT source, token, count(*) AS n_st FROM (
                SELECT source, unnest(string_split(text, ' ')) AS token
                FROM documents)
              WHERE token <> '' GROUP BY source, token),
            tt AS (SELECT token, sum(n_st) AS n_t FROM st GROUP BY token),
            so AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY source),
            sc AS (SELECT sum(n_t) AS n, count(*) AS v FROM tt),
            sq AS (SELECT max(n) AS n, max(v) AS v,
                          sum(ln((n_t + 0.5) / (n + 0.5 * v))) AS lnq_all
                   FROM tt CROSS JOIN sc),
            agg AS (
              SELECT st.source, max(so.n_s) AS n_s, max(sq.n) AS n,
                     max(sq.v) AS v, max(sq.lnq_all) AS lnq_all,
                     sum(((st.n_st + 0.5) / (so.n_s + 0.5 * sq.v))
                         * ln(((st.n_st + 0.5) / (so.n_s + 0.5 * sq.v))
                              / ((tt.n_t + 0.5) / (sq.n + 0.5 * sq.v))))
                       AS present_sum,
                     count(*) AS v_s,
                     sum(ln((tt.n_t + 0.5) / (sq.n + 0.5 * sq.v)))
                       AS lnq_present
              FROM st JOIN tt USING (token) JOIN so USING (source)
                   CROSS JOIN sq
              GROUP BY st.source)
            """ + head + """
            FROM agg ORDER BY source"""


def _bpe_oracle(n_merges: int = 12) -> str:
    """SQL replay of bpe_learn_merges: frequency-weighted distinct-word
    table, sentinel-framed symbol strings, and per step the argmax pair
    (count DESC, pair ASC) followed by the literal replace whose greedy
    left-to-right semantics is BPE's merge rule.  Iteration CTEs are
    MATERIALIZED — inlining would re-expand the chain per reference."""
    blocks = [
        """w AS MATERIALIZED (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
           AS word
    FROM documents) GROUP BY word)""",
        r"""s0 AS MATERIALIZED (SELECT word, freq,
  regexp_replace(word, '(?s)(.)', chr(1) || '\1' || chr(2), 'g') AS s FROM w)""",
    ]
    for t in range(1, n_merges + 1):
        p = t - 1
        blocks.append(f"""p{t} AS (
  SELECT pair, sum(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(range(1, len(arr)),
                        i -> arr[i] || chr(3) || arr[i + 1])) AS pair
    FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2),
                                    chr(2) || chr(1)) AS arr
          FROM s{p})) GROUP BY pair)""")
        blocks.append(f"""m{t} AS MATERIALIZED (
  SELECT split_part(pair, chr(3), 1) AS l, split_part(pair, chr(3), 2) AS r,
         cnt
  FROM p{t} ORDER BY cnt DESC, pair ASC LIMIT 1)""")
        blocks.append(f"""s{t} AS MATERIALIZED (
  SELECT word, freq,
         replace(s, chr(1) || l || chr(2) || chr(1) || r || chr(2),
                 chr(1) || l || r || chr(2)) AS s
  FROM s{p} CROSS JOIN m{t})""")
    finals = "\n  UNION ALL ".join(
        f"SELECT {t} AS step, l AS left_sym, r AS right_sym, l || r AS merged, "
        f"cnt::BIGINT AS pair_freq FROM m{t}" for t in range(1, n_merges + 1))
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT * FROM ({finals}) ORDER BY step")


def _bpe_encode_oracle(n_merges: int = 12) -> str:
    """Learn-then-encode replay: the _bpe_oracle CTE chain for the merge
    table, then every document framed with the same sentinels and pushed
    through the merges via scalar-subquery replaces in learned order.  A
    merge step whose pair statistics were exhausted (empty m{t}) coalesces
    to a never-matching chr(5) pattern — a no-op replace, mirroring the
    engine's early loop exit."""
    learn = _bpe_oracle(n_merges)
    blocks_part = learn[len("WITH "):learn.rindex("\nSELECT * FROM")]
    enc = r"""d0 AS (SELECT doc_id,
  CASE WHEN text IS NULL THEN NULL ELSE
    coalesce(array_to_string(list_transform(
      list_filter(string_split(lower(text), ' '), t -> t <> ''),
      w -> regexp_replace(w, '(?s)(.)', chr(1) || '\1' || chr(2), 'g')),
      chr(4)), '') END AS s
  FROM documents)"""
    chain = [enc]
    for t in range(1, n_merges + 1):
        chain.append(f"""d{t} AS MATERIALIZED (
  SELECT doc_id,
         replace(s,
                 coalesce((SELECT chr(1) || l || chr(2) || chr(1) || r
                                  || chr(2) FROM m{t}), chr(5)),
                 coalesce((SELECT chr(1) || l || r || chr(2) FROM m{t}),
                          chr(5))) AS s
  FROM d{t - 1})""")
    last = f"d{n_merges}"
    return ("WITH " + blocks_part + ",\n" + ",\n".join(chain) + f"""
SELECT doc_id,
       (length(replace(s, chr(4), ''))
        - length(replace(replace(s, chr(4), ''), chr(1), '')))::BIGINT
         AS n_tokens,
       ltrim(replace(replace(replace(s, chr(4), ''), chr(1), ' '),
                     chr(2), ''), ' ') AS tokens
FROM {last} ORDER BY doc_id""")


def _pca_oracle(iters: int = 8, dim: int = 64) -> str:
    """SQL replay of pca_project: quantized mean + covariance (sum/n,
    matching the operator's partial-sum reduction), then the 8 power
    iterations unrolled — each a 64-term matrix-vector product with the
    per-iteration qround that keeps both engines on identical doubles —
    and the centered projection with ⟨v, μ⟩ folded into a scalar CTE."""
    Q = "floor(({x}) * 1000000 + 0.5) / 1000000"
    blocks = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"d AS (SELECT unnest(generate_series(1, {dim})) AS i)",
        "comp AS MATERIALIZED (SELECT vec_id, i, v[i] AS x FROM e CROSS JOIN d)",
        "nn AS (SELECT count(*) AS n FROM e)",
        "mu AS MATERIALIZED (SELECT i, " + Q.format(x="sum(x) / (SELECT n FROM nn)")
        + " AS m FROM comp GROUP BY i)",
        """g AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
             """ + Q.format(x="sum(a.x * b.x) / (SELECT n FROM nn) - ma.m * mb.m")
        + """ AS g
      FROM comp a JOIN comp b USING (vec_id)
           JOIN mu ma ON ma.i = a.i JOIN mu mb ON mb.i = b.i
      GROUP BY a.i, b.i, ma.m, mb.m)""",
        f"v0 AS (SELECT i, 1.0 / sqrt({dim}.0) AS val FROM d)",
    ]
    for t in range(1, iters + 1):
        blocks.append(f"""w{t} AS MATERIALIZED (SELECT g.i AS i, sum(g.g * p.val) AS wv
      FROM g JOIN v{t - 1} p ON g.j = p.i GROUP BY g.i)""")
        blocks.append(
            f"v{t} AS MATERIALIZED (SELECT i, "
            + Q.format(x=f"wv / sqrt((SELECT sum(wv * wv) FROM w{t}))")
            + f" AS val FROM w{t})")
    blocks.append(f"""c0 AS (SELECT sum(v.val * mu.m) AS c
      FROM v{iters} v JOIN mu ON mu.i = v.i)""")
    return ("WITH " + ",\n".join(blocks) + f"""
SELECT vec_id, {Q.format(x="sum(x * val) - (SELECT c FROM c0)")} AS pc1_proj
FROM comp JOIN v{iters} USING (i) GROUP BY vec_id ORDER BY vec_id""")


def _ann_recall_oracle() -> str:
    """Replays ann_recall_report end to end: exact micro-unit L2 top-5,
    the sim_pq_ann code/LUT/ADC chain, and the sim_ivfpq_ann
    assignment/residual-codebook/probe/ADC chain — then the three
    rankings join into hit counts and qround-quantized recalls.  Every
    stage is the same CTE text as the individual oracles (integer
    micro-units before argmin/sum keep it order-independent)."""
    return """
WITH dims AS (SELECT unnest(generate_series(0, 7)) AS s),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
xd AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         floor(list_dot_product(
           list_transform(range(1, 65), i -> c.v[i] - q.v[i]),
           list_transform(range(1, 65), i -> c.v[i] - q.v[i])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM q JOIN e c ON c.vec_id <> q.vec_id),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dm, neighbor_id) AS rn
    FROM xd) WHERE rn <= 5),
pq_sub AS (SELECT vec_id, s, v[8*s + 1 : 8*s + 8] AS sv
           FROM e CROSS JOIN dims),
pq_seed AS (SELECT vec_id AS code, s, sv AS cv FROM pq_sub WHERE vec_id < 16),
pq_d AS (
  SELECT a.vec_id, a.s, c.code,
         floor(list_dot_product(
           list_transform(range(1, 9), i -> a.sv[i] - c.cv[i]),
           list_transform(range(1, 9), i -> a.sv[i] - c.cv[i])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM pq_sub a JOIN pq_seed c USING (s)),
pq_codes AS (
  SELECT vec_id AS neighbor_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, code) AS rn
    FROM pq_d) WHERE rn = 1),
pq_lut AS (SELECT vec_id AS query_id, s, code, dm FROM pq_d WHERE vec_id < 10),
pq_adc AS (
  SELECT l.query_id, c.neighbor_id, sum(l.dm)::BIGINT AS adc
  FROM pq_codes c JOIN pq_lut l USING (s, code)
  WHERE c.neighbor_id <> l.query_id GROUP BY 1, 2),
pq_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rn
    FROM pq_adc) WHERE rn <= 5),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
cd AS (
  SELECT e.vec_id, c.cid,
         floor(list_dot_product(
           list_transform(range(1, 65), i -> e.v[i] - c.cv[i]),
           list_transform(range(1, 65), i -> e.v[i] - c.cv[i])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM e CROSS JOIN cent c),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) AS rn
    FROM cd) WHERE rn = 1),
resid AS (
  SELECT e.vec_id, a.cell,
         list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS rv
  FROM e JOIN assign a USING (vec_id) JOIN cent c ON c.cid = a.cell),
iv_cb AS (
  SELECT vec_id - 16 AS code, s, rv[8*s + 1 : 8*s + 8] AS cv
  FROM resid CROSS JOIN dims WHERE vec_id >= 16 AND vec_id < 32),
iv_rsub AS (SELECT vec_id, cell, s, rv[8*s + 1 : 8*s + 8] AS v
            FROM resid CROSS JOIN dims),
iv_rd AS (
  SELECT r.vec_id, r.s, b.code,
         floor(list_dot_product(
           list_transform(range(1, 9), i -> r.v[i] - b.cv[i]),
           list_transform(range(1, 9), i -> r.v[i] - b.cv[i])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM iv_rsub r JOIN iv_cb b USING (s)),
iv_codes AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY dm, code) AS rn
    FROM iv_rd) WHERE rn = 1),
iv_probes AS (
  SELECT vec_id AS query_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dm, cid) AS rn
    FROM cd WHERE vec_id < 10) WHERE rn <= 4),
iv_qrs AS (
  SELECT p.query_id, p.cell, d.s,
         list_transform(range(8*d.s + 1, 8*d.s + 9),
                        i -> e.v[i] - c.cv[i]) AS v
  FROM iv_probes p JOIN e ON e.vec_id = p.query_id
       JOIN cent c ON c.cid = p.cell
       CROSS JOIN dims d),
iv_lut AS (
  SELECT q.query_id, q.cell, q.s, b.code,
         floor(list_dot_product(
           list_transform(range(1, 9), i -> q.v[i] - b.cv[i]),
           list_transform(range(1, 9), i -> q.v[i] - b.cv[i])
         ) * 1000000 + 0.5)::BIGINT AS dm
  FROM iv_qrs q JOIN iv_cb b USING (s)),
iv_adc AS (
  SELECT l.query_id, a.vec_id AS neighbor_id, sum(l.dm)::BIGINT AS adc
  FROM assign a
    JOIN iv_codes k ON k.vec_id = a.vec_id
    JOIN iv_lut l ON l.cell = a.cell AND l.s = k.s AND l.code = k.code
  WHERE a.vec_id <> l.query_id GROUP BY 1, 2),
iv_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc, neighbor_id) AS rn
    FROM iv_adc) WHERE rn <= 5),
counts AS (SELECT
  (SELECT count(*) FROM exact) AS n_exact,
  (SELECT count(DISTINCT query_id) FROM exact) AS nq,
  (SELECT count(*) FROM exact x JOIN pq_top p
     ON p.query_id = x.query_id AND p.neighbor_id = x.neighbor_id) AS ph,
  (SELECT count(*) FROM exact x JOIN iv_top t
     ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id) AS ih)
SELECT 5 AS k, nq::BIGINT AS n_queries,
       ph::BIGINT AS pq_hits, ih::BIGINT AS ivfpq_hits,
       floor(ph::DOUBLE / n_exact * 10000 + 0.5) / 10000 AS pq_recall,
       floor(ih::DOUBLE / n_exact * 10000 + 0.5) / 10000 AS ivfpq_recall
FROM counts
"""


def _near_dup_oracle() -> str:
    """Mirror of similarity.embedding_near_dup_pairs with num_planes derived
    by auto_num_planes(N): the driver's correctness gate runs at sf0.01 where
    embeddings has 500 rows → ceil(log2(500)) = 9 planes.  (At other SFs the
    Spark side re-derives from the actual count; this oracle string is only
    ever compared at sf0.01.)"""
    from singer_spark.operators.similarity import auto_num_planes

    planes_n = auto_num_planes(500)

    def plane(t: int, p: int) -> str:
        vals = []
        for d in range(64):
            hx = hashlib.md5(f"{t}:{p}:{d}".encode()).hexdigest()
            vals.append("1.0" if int(hx[:15], 16) % 2 == 0 else "-1.0")
        return "[" + ",".join(vals) + "]"

    def bucket(t: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(v, {plane(t, p)}) > 0 THEN {2**p} ELSE 0 END)"
            for p in range(planes_n)
        )
        return f"({terms})::BIGINT"

    tables = "\n    UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS t, {bucket(t)} AS b FROM e" for t in range(4)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
hashed AS ({tables}),
cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b, l.v AS va, r.v AS vb
         FROM hashed l JOIN hashed r ON l.t = r.t AND l.b = r.b AND l.vec_id < r.vec_id)
SELECT id_a, id_b,
  floor(list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) * 1000000 + 0.5) / 1000000 AS cosine
FROM cand
WHERE floor(list_dot_product(va, vb) / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) * 1000000 + 0.5) / 1000000 >= 0.40
"""


def _lloyd_blocks(iters: int, kc: int) -> "list[str]":
    """Shared Lloyd-replay CTE blocks (seeded init, max-cosine assign
    with lowest-cid ties, per-(cluster,pos) qround-1e-6 means, empty
    clusters keep their centroid) ending in `cos_t` over the final
    centroids — consumed by the cluster-balanced-sample AND silhouette
    oracles so the training discipline has ONE definition."""
    blocks = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {kc})",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        blocks.append(f"""cos{i} AS (
  SELECT e.vec_id, cid,
         list_dot_product(e.v, cv)
         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM e CROSS JOIN c{p})""")
        blocks.append(f"""asg{i} AS (SELECT vec_id, cid AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM cos{i}) WHERE rn = 1)""")
        blocks.append(f"""m{i} AS (
  SELECT cluster, pos, floor(avg(val) * 1000000 + 0.5) / 1000000 AS m
  FROM (SELECT a.cluster, unnest(generate_series(1, len(e.v))) AS pos,
               unnest(e.v) AS val
        FROM asg{i} a JOIN e USING (vec_id))
  GROUP BY cluster, pos)""")
        blocks.append(f"""c{i} AS (
  SELECT c.cid, coalesce(nm.cv, c.cv) AS cv
  FROM c{p} c LEFT JOIN (SELECT cluster AS cid, list(m ORDER BY pos) AS cv
                         FROM m{i} GROUP BY cluster) nm USING (cid))""")
    blocks.append(f"""cos_t AS (
  SELECT e.vec_id, cid,
         list_dot_product(e.v, cv)
         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM e CROSS JOIN c{iters})""")
    return blocks


def _cluster_balanced_oracle(iters: int = 2, kc: int = 8, k: int = 100,
                             alpha: float = 0.5) -> str:
    """SQL replay of similarity.cluster_balanced_sample: the
    _ivf_trained_oracle Lloyd blocks (assign by max cosine with lowest-cid
    ties, per-(cluster,pos) means qround 1e-6, empty clusters keep their
    centroid), then integer temperature budgets (floor(cnt^alpha·1e6+0.5)
    summed exactly, budget = max(1, k·w // W)) and the md5-ranked
    per-cluster cut."""
    blocks = _lloyd_blocks(iters, kc)
    blocks.append("""assign AS (SELECT vec_id, cid AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM cos_t) WHERE rn = 1)""")
    blocks.append(f"""wq AS (
  SELECT cluster,
         CAST(floor(pow(count(*), {alpha}) * 1000000 + 0.5) AS BIGINT) AS w
  FROM assign GROUP BY cluster)""")
    blocks.append("SELECT_TOT AS (SELECT sum(w) AS W FROM wq)".replace(
        "SELECT_TOT", "tot"))
    blocks.append(f"""bud AS (
  SELECT cluster, greatest(1, ({k} * wq.w) // tot.W) AS budget
  FROM wq CROSS JOIN tot)""")
    blocks.append("""pick AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster
           ORDER BY ('0x' || substr(md5(vec_id::VARCHAR || '|cbs'), 1, 15))::BIGINT,
                    vec_id) AS pick_rank
  FROM assign)""")
    return ("WITH " + ",\n".join(blocks)
            + "\nSELECT vec_id, cluster, pick_rank::BIGINT AS pick_rank,"
              " budget FROM pick JOIN bud USING (cluster)"
              " WHERE pick_rank <= budget ORDER BY cluster, pick_rank")


def _ivf_trained_oracle(iters: int = 3, k: int = 16, nprobe: int = 4,
                        topk: int = 5, n_queries: int = 10) -> str:
    """SQL replay of the Lloyd-TRAINED IVF path (similarity.py
    ivf_train_centroids + ivf_ann_topk): the training loop is unrolled into
    `iters` chained CTE blocks — assign (max-cosine, ties → lowest cid),
    per-(cluster, pos) mean QUANTIZED with the engine-wide 1e-6 qround,
    empty clusters keeping their previous centroid — exactly the
    quantize-per-iteration discipline the Spark side applies, which is
    what makes float k-means deterministic enough to twin across
    engines."""
    blocks = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {k})",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        blocks.append(f"""cos{i} AS (
  SELECT e.vec_id, cid,
         list_dot_product(e.v, cv)
         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM e CROSS JOIN c{p})""")
        blocks.append(f"""asg{i} AS (SELECT vec_id, cid AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM cos{i}) WHERE rn = 1)""")
        blocks.append(f"""m{i} AS (
  SELECT cluster, pos, floor(avg(val) * 1000000 + 0.5) / 1000000 AS m
  FROM (SELECT a.cluster, unnest(generate_series(1, len(e.v))) AS pos,
               unnest(e.v) AS val
        FROM asg{i} a JOIN e USING (vec_id))
  GROUP BY cluster, pos)""")
        blocks.append(f"""c{i} AS (
  SELECT c.cid, coalesce(nm.cv, c.cv) AS cv
  FROM c{p} c LEFT JOIN (SELECT cluster AS cid, list(m ORDER BY pos) AS cv
                         FROM m{i} GROUP BY cluster) nm USING (cid))""")
    blocks.append(f"""cos_t AS (
  SELECT e.vec_id, cid,
         list_dot_product(e.v, cv)
         / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM e CROSS JOIN c{iters})""")
    blocks.append("""assign AS (SELECT vec_id, cid AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM cos_t) WHERE rn = 1)""")
    blocks.append(f"""probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM cos_t WHERE vec_id < {n_queries}) WHERE rn <= {nprobe})""")
    blocks.append("""cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cluster = p.cluster
  WHERE a.vec_id <> p.query_id)""")
    blocks.append("""scored AS (
  SELECT query_id, neighbor_id,
         floor(list_dot_product(q.v, c.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               * 1000000 + 0.5) / 1000000 AS cosine
  FROM cand JOIN e q ON q.vec_id = query_id JOIN e c ON c.vec_id = neighbor_id)""")
    blocks.append("""r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)""")
    return ("WITH " + ",\n".join(blocks)
            + f"\nSELECT query_id, neighbor_id, rank::INT AS rank, cosine"
              f" FROM r WHERE rank <= {topk}")


def _hybrid_rrf_oracle(k: int = 15, k_each: int = 20, rrf_k: int = 60) -> str:
    """SQL twin of text_analysis.hybrid_topk_rrf for the fixed
    join/spark/window query: the BM25 arm is the bm25_search oracle ranked
    top-k_each, the dense arm scores emb16 against the SAME literal query
    vector the Spark side computes driver-side (hash_embed_vector — shared
    helper, so the literal is bit-identical), fused by reciprocal rank."""
    from singer_spark.operators.text_analysis import hash_embed_vector

    qv = hash_embed_vector(sorted({"join", "spark", "window"}), dim=16)
    qlit = "[" + ", ".join(repr(x) for x in qv) + "]"
    return f"""
WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
              FROM documents),
base AS (SELECT doc_id, len(t)::DOUBLE AS dl,
                len(list_filter(t, x -> x = 'join'))::DOUBLE AS tf_0,
                len(list_filter(t, x -> x = 'spark'))::DOUBLE AS tf_1,
                len(list_filter(t, x -> x = 'window'))::DOUBLE AS tf_2
         FROM toks),
m AS (SELECT * FROM base WHERE tf_0 + tf_1 + tf_2 > 0),
g AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS N,
             (SELECT avg(len(t)) FROM toks) AS avgdl,
             sum((tf_0 > 0)::INT)::DOUBLE AS df_0,
             sum((tf_1 > 0)::INT)::DOUBLE AS df_1,
             sum((tf_2 > 0)::INT)::DOUBLE AS df_2
      FROM m),
scored AS (SELECT doc_id,
    floor((  ln(1 + (N - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2 / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1 + (N - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2 / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1 + (N - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2 / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
          ) * 10000 + 0.5) / 10000 AS score
    FROM m CROSS JOIN g),
lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rank
         FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT {k_each})),
{_HASH_EMBED_CTE},
dcos AS (SELECT doc_id,
                floor(list_dot_product(embedding, {qlit}) * 1000000 + 0.5) / 1000000 AS cos
         FROM emb16),
dtop AS (SELECT doc_id, cos FROM dcos WHERE cos > 0
         ORDER BY cos DESC, doc_id LIMIT {k_each}),
denr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS dense_rank
         FROM dtop),
fused AS (SELECT doc_id, bm25_rank, dense_rank,
                 floor((coalesce(1.0 / ({rrf_k} + bm25_rank), 0.0)
                        + coalesce(1.0 / ({rrf_k} + dense_rank), 0.0))
                       * 1000000 + 0.5) / 1000000 AS rrf_score
          FROM lexr FULL OUTER JOIN denr USING (doc_id))
SELECT doc_id, rrf_score, bm25_rank::INT AS bm25_rank, dense_rank::INT AS dense_rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {k}"""


def _lang_id_oracle() -> str:
    from singer_spark.operators.text_analysis import LANG_PROFILES

    langs = sorted(LANG_PROFILES)
    scores = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        scores.append(
            f"floor(len(list_filter(t, x -> list_contains([{words}], x))) / greatest(len(t), 1) * 1000000 + 0.5) / 1000000 AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"
    score_cols = ", ".join(f"score_{lang}" for lang in langs)
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
scored AS (SELECT doc_id, {', '.join(scores)} FROM toks)
SELECT doc_id, CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END AS predicted_lang, {score_cols}
FROM scored
"""


def _quality_oracle() -> str:
    from singer_spark.operators.text_analysis import ENGLISH_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    return f"""
WITH f AS (
  SELECT doc_id,
    string_split(text, ' ') AS t,
    len(string_split(text, ' ')) AS n_tokens,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
  FROM documents),
g AS (
  SELECT doc_id, n_tokens,
    (n_chars - (n_tokens - 1)) / greatest(n_tokens, 1) AS mean_token_len,
    len(list_distinct(t)) / greatest(n_tokens, 1) AS distinct_ratio,
    len(list_filter(t, x -> list_contains([{stop}], x))) / greatest(n_tokens, 1) AS stop_ratio,
    n_punct / greatest(n_chars, 1) AS punct_ratio,
    n_digit / greatest(n_chars, 1) AS digit_ratio
  FROM f)
SELECT doc_id,
  n_tokens::INT AS n_tokens,
  floor(mean_token_len * 10000 + 0.5) / 10000 AS mean_token_len,
  floor(distinct_ratio * 10000 + 0.5) / 10000 AS distinct_ratio,
  floor(stop_ratio * 10000 + 0.5) / 10000 AS stopword_ratio,
  floor(punct_ratio * 10000 + 0.5) / 10000 AS punct_ratio,
  floor(digit_ratio * 10000 + 0.5) / 10000 AS digit_ratio,
  floor((least(n_tokens / 200.0, 1.0) * 0.25
      + distinct_ratio * 0.25
      + least(stop_ratio * 5.0, 1.0) * 0.25
      + (1 - least(punct_ratio * 10.0, 1.0)) * 0.15
      + (1 - least(digit_ratio * 10.0, 1.0)) * 0.10) * 10000 + 0.5) / 10000 AS quality_score
FROM g
"""


def _repetition_oracle() -> str:
    return """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            tok AS (SELECT doc_id,
                           floor((1 - len(list_distinct(t)) / greatest(len(t), 1)) * 10000 + 0.5) / 10000 AS dup_token_frac
                    FROM toks),
            g2 AS (SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ')
                          for i in range(1, greatest(len(t)-1, 1)+1)]) AS g FROM toks),
            p2 AS (SELECT doc_id, g, count(*) AS n FROM g2 GROUP BY 1, 2),
            s2 AS (SELECT doc_id,
                          floor((1 - count(*) / sum(n)) * 10000 + 0.5) / 10000 AS dup_2gram_frac,
                          floor((max(n) / sum(n)) * 10000 + 0.5) / 10000 AS top_2gram_frac
                   FROM p2 GROUP BY doc_id),
            g3 AS (SELECT doc_id, unnest([array_to_string(t[i:i+2], ' ')
                          for i in range(1, greatest(len(t)-2, 1)+1)]) AS g FROM toks),
            p3 AS (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2),
            s3 AS (SELECT doc_id,
                          floor((1 - count(*) / sum(n)) * 10000 + 0.5) / 10000 AS dup_3gram_frac
                   FROM p3 GROUP BY doc_id)
            SELECT tok.doc_id, dup_token_frac, dup_2gram_frac, top_2gram_frac, dup_3gram_frac,
                   (top_2gram_frac <= 0.20 AND dup_3gram_frac <= 0.30) AS keep
            FROM tok JOIN s2 ON s2.doc_id = tok.doc_id JOIN s3 ON s3.doc_id = tok.doc_id"""


def _diversity_gram_sql() -> str:
    """Shared gram-CTE block for the corpus-diversity oracle pair
    (exact + HLL twin) — one definition so a gram-construction fix
    can never skew the two replays apart."""
    return """WITH tk AS (
              SELECT source,
                     list_filter(string_split(text, ' '), x -> x <> '')
                       AS t
              FROM documents WHERE text IS NOT NULL),
            g AS (
              SELECT source, 1 AS k, unnest(t) AS g FROM tk
              UNION ALL
              SELECT source, 2 AS k,
                     unnest(CASE WHEN len(t) >= 2
                       THEN [array_to_string(t[i:i+1], ' ')
                             for i in range(1, len(t))]
                       ELSE [] END) AS g
              FROM tk
              UNION ALL
              SELECT source, 3 AS k,
                     unnest(CASE WHEN len(t) >= 3
                       THEN [array_to_string(t[i:i+2], ' ')
                             for i in range(1, len(t) - 1)]
                       ELSE [] END) AS g
              FROM tk)"""


def _silhouette_oracle(iters: int = 2, kc: int = 8) -> str:
    """SQL replay of similarity.cluster_silhouette: the
    _cluster_balanced_oracle Lloyd blocks, then the final cosine grid
    pivoted to (best, second-best) per vector — a = 1 − cos_own,
    b = 1 − cos_next, s = (b − a)/max(a, b) (0 when both are 0) — and
    the per-cluster qround-1e-6 mean."""
    blocks = _lloyd_blocks(iters, kc)
    blocks.append("""rk AS (
  SELECT vec_id, cid, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
  FROM cos_t)""")
    blocks.append("""ab AS (
  SELECT r1.vec_id, r1.cid AS cluster,
         1.0 - r1.cos AS a, 1.0 - r2.cos AS b
  FROM rk r1 JOIN rk r2 USING (vec_id)
  WHERE r1.rn = 1 AND r2.rn = 2)""")
    blocks.append("""sv AS (
  SELECT cluster,
         CASE WHEN greatest(a, b) > 0
              THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s
  FROM ab)""")
    return ("WITH " + ",\n".join(blocks)
            + "\nSELECT cluster, count(*)::BIGINT AS n_vecs,"
              " floor(avg(s) * 1000000 + 0.5) / 1000000 AS mean_silhouette"
              " FROM sv GROUP BY cluster ORDER BY cluster")


def _unigram_vocab_sql(max_multi: int = 100, plen: int = 4,
                       wmax: int = 16, src: str = "documents") -> str:
    """Vocabulary-derivation CTEs shared by every unigram oracle:
    tokenize -> word freqs -> substring weights -> single-char +
    capped-multi keep set -> scaled-integer costs (`voc`), plus the
    distinct-word frame `dw` the DP runs over.  `src`: the (doc_id,
    text) relation to train over — `corpus_to_batches` passes its
    curated CTE so the tokenizer trains on post-gate text."""
    return f"""
            tk AS MATERIALIZED (
              SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                                x -> x <> '')) AS w
              FROM {src} WHERE text IS NOT NULL),
            wf AS MATERIALIZED (SELECT w, count(*) AS f FROM tk GROUP BY w),
            sub AS (
              SELECT unnest(flatten([[substr(w, i, l)
                       for l in range(1, least({plen}, len(w)-i+1)+1)]
                       for i in range(1, len(w)+1)])) AS piece, f
              FROM wf),
            cand AS MATERIALIZED (SELECT piece, sum(f) AS wt FROM sub GROUP BY piece),
            kept AS (
              SELECT piece, wt FROM cand WHERE len(piece) = 1
              UNION ALL
              SELECT piece, wt FROM (
                SELECT piece, wt FROM cand WHERE len(piece) > 1
                ORDER BY wt DESC, piece LIMIT {max_multi})),
            tot AS (SELECT sum(wt) AS T FROM kept),
            voc AS MATERIALIZED (SELECT piece,
                           floor(-ln(wt / tot.T) * 1000000 + 0.5)::BIGINT
                             AS c
                    FROM kept CROSS JOIN tot),
            dw AS MATERIALIZED (SELECT DISTINCT w FROM tk WHERE len(w) <= {wmax})"""


def _unigram_dp_sql(voc: str = "voc", sfx: str = "", plen: int = 4,
                    wmax: int = 16) -> str:
    """UNROLLED Viterbi DP over `dw` against vocabulary CTE `voc`,
    every block name suffixed with `sfx` so two chains (seed vocab and
    an EM-refined one) coexist in one statement.  dp{{j}} holds, for
    every word of length >= j, the argmin (cost, n_pieces, start of the
    last piece) over segmentations of the first j characters —
    row_number ordered by exactly the operator's integer tie tuple.
    Words longer than `wmax` take the pinned <unk> row in dpf."""
    parts = [f"""
            pc{sfx} AS MATERIALIZED (
              SELECT s.w, s.ij.i AS i, s.ij.j AS j,
                     coalesce(v.c, CASE WHEN s.ij.j - s.ij.i = 1
                                        THEN 23000000 END) AS c
              FROM (SELECT w,
                           unnest(flatten([[{{'i': i - 1, 'j': i - 1 + l}}
                             for l in range(1, least({plen},
                                                     len(w)-i+1)+1)]
                             for i in range(1, len(w)+1)])) AS ij
                    FROM dw) s
              LEFT JOIN {voc} v
                ON v.piece = substr(s.w, s.ij.i + 1, s.ij.j - s.ij.i)),
            dp0{sfx} AS MATERIALIZED (SELECT w, 0::BIGINT AS c, 0::BIGINT AS ns, 0 AS bi
                    FROM dw)"""]
    for j in range(1, wmax + 1):
        arms = []
        for i in range(max(0, j - plen), j):
            arms.append(f"""
                SELECT p.w, d.c + p.c AS c, d.ns + 1 AS ns, {i} AS bi
                FROM dp{i}{sfx} d JOIN pc{sfx} p
                  ON p.w = d.w AND p.i = {i} AND p.j = {j}
                     AND p.c IS NOT NULL""")
        union = " UNION ALL ".join(arms)
        parts.append(f"""
            dp{j}{sfx} AS MATERIALIZED (
              SELECT w, c, ns, bi FROM (
                SELECT w, c, ns, bi,
                       row_number() OVER (PARTITION BY w
                                          ORDER BY c, ns, bi) AS rn
                FROM ({union}) u) r
              WHERE rn = 1)""")
    finals = [f"SELECT {j} AS j, w, c, ns, bi FROM dp{j}{sfx}"
              for j in range(1, wmax + 1)]
    parts.append(f"""
            dpall{sfx} AS MATERIALIZED ({' UNION ALL '.join(finals)}),
            dpf{sfx} AS MATERIALIZED (
              SELECT w, c, ns FROM dpall{sfx} WHERE j = len(w)
              UNION ALL
              SELECT w, 25000000::BIGINT AS c, 1::BIGINT AS ns
              FROM (SELECT DISTINCT w FROM tk WHERE len(w) > {wmax}))""")
    return ",".join(parts)


def _unigram_base_sql(max_multi: int = 100, plen: int = 4,
                      wmax: int = 16, src: str = "documents") -> str:
    return (_unigram_vocab_sql(max_multi, plen, wmax, src) + ","
            + _unigram_dp_sql("voc", "", plen, wmax))


def _unigram_backtrace_sql(dws: str = "dws", dpall: str = "dpall",
                           sfx: str = "", wmax: int = 16) -> str:
    """Backtrace over the words in CTE `dws`: walk the DP's argmin
    starts from j=len(w) down (bounded wmax hops), collect boundary
    positions, slice the word back into pieces -> seg{sfx}(w, pieces)."""
    steps = [f"bl0{sfx} AS MATERIALIZED (SELECT w, [len(w)] AS bs, len(w) AS p FROM {dws})"]
    for k in range(1, wmax + 1):
        steps.append(f"""
            bl{k}{sfx} AS MATERIALIZED (
              SELECT b.w,
                     CASE WHEN b.p = 0 THEN b.bs
                          ELSE list_append(b.bs, d.bi) END AS bs,
                     CASE WHEN b.p = 0 THEN 0 ELSE d.bi END AS p
              FROM bl{k-1}{sfx} b LEFT JOIN {dpall} d
                ON d.w = b.w AND d.j = b.p)""")
    return (",".join(steps) + f""",
            seg{sfx} AS MATERIALIZED (
              SELECT b.w,
                     array_to_string(
                       [substr(b.w, lb[k] + 1, lb[k+1] - lb[k])
                        for k in range(1, len(lb))], ' ') AS pieces
              FROM (SELECT w, list_sort(bs) AS lb FROM bl{wmax}{sfx}) b)""")


def _unigram_em_converge_oracle(rounds: int = 2, wmax: int = 16) -> str:
    """Convergence-report replay (r11, VERDICT r10 task #6): chain
    `rounds`+1 generated Viterbi DP blocks — the seed chain plus one per
    hard-EM round, each EM step a full backtrace -> usage counts ->
    Laplace re-costing exactly as :func:`_unigram_em_oracle` (whose
    single step this generalizes) — and aggregate the CORPUS totals
    under every round's costs."""
    parts = [_unigram_base_sql(wmax=wmax),
             "dws AS (SELECT w FROM dw)",
             "vstat AS (SELECT count(*) AS V FROM voc)"]
    aggs = [f"""SELECT 0 AS round, count(*)::BIGINT AS n_words,
                       sum(ns)::BIGINT AS n_pieces,
                       sum(c)::BIGINT AS total_cost
                FROM tk JOIN dpf USING (w)"""]
    prev_sfx = ""   # suffix of the DP chain holding the CURRENT costs
    voc_prev = "voc"
    for r in range(1, rounds + 1):
        sfx = f"_r{r}"
        vnew = f"voc{r + 1}"
        parts.append(_unigram_backtrace_sql(
            dws="dws", dpall=f"dpall{prev_sfx}", sfx=prev_sfx, wmax=wmax))
        parts.append(f"""
            pocc{sfx} AS (
              SELECT unnest(string_split(seg{prev_sfx}.pieces, ' '))
                       AS piece, wf.f
              FROM seg{prev_sfx} JOIN wf USING (w)),
            pcnt{sfx} AS (SELECT piece, sum(f) AS cnt FROM pocc{sfx}
                          GROUP BY piece),
            tot{sfx} AS (SELECT sum(coalesce(pcnt{sfx}.cnt, 0)) AS T
                         FROM {voc_prev} LEFT JOIN pcnt{sfx} USING (piece)),
            {vnew} AS MATERIALIZED (
              SELECT {voc_prev}.piece,
                     floor(-ln((coalesce(pcnt{sfx}.cnt, 0) + 0.5)
                               / (tot{sfx}.T + 0.5 * vstat.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM {voc_prev} LEFT JOIN pcnt{sfx} USING (piece)
                   CROSS JOIN tot{sfx} CROSS JOIN vstat)""")
        parts.append(_unigram_dp_sql(vnew, sfx, wmax=wmax))
        aggs.append(f"""SELECT {r} AS round, count(*)::BIGINT AS n_words,
                               sum(ns)::BIGINT AS n_pieces,
                               sum(c)::BIGINT AS total_cost
                        FROM tk JOIN dpf{sfx} USING (w)""")
        prev_sfx, voc_prev = sfx, vnew
    union = " UNION ALL ".join(f"({a})" for a in aggs)
    return ("WITH " + ",".join(parts)
            + f" SELECT round::INT AS round, n_words, n_pieces, total_cost"
              f" FROM ({union}) ORDER BY round")


def _unigram_soft_oracle(alpha: float = 0.5, plen: int = 4,
                         wmax: int = 16) -> str:
    """Soft-EM replay (r12, VERDICT r11 task #2): UNROLLED
    forward-backward over the full segmentation lattice with every DP
    cell quantized to integer micro-nats (the _q_lse_neglog rule:
    shift by the min term, requantize the one ln), edge posteriors
    quantized to integer micro-counts, then the Laplace M-step over
    the EXACT integer expected-count sums.  Mirrors
    unigram_soft_reference cell for cell."""
    q = "1000000.0"
    parts = [_unigram_vocab_sql(plen=plen, wmax=wmax)]
    parts.append(f"""
            pc AS MATERIALIZED (
              SELECT s.w, s.ij.i AS i, s.ij.j AS j,
                     coalesce(v.c, CASE WHEN s.ij.j - s.ij.i = 1
                                        THEN 23000000 END) AS c
              FROM (SELECT w,
                           unnest(flatten([[{{'i': i - 1, 'j': i - 1 + l}}
                             for l in range(1, least({plen},
                                                     len(w)-i+1)+1)]
                             for i in range(1, len(w)+1)])) AS ij
                    FROM dw) s
              LEFT JOIN voc v
                ON v.piece = substr(s.w, s.ij.i + 1, s.ij.j - s.ij.i)),
            al0 AS MATERIALIZED (SELECT w, 0::BIGINT AS al FROM dw)""")
    for j in range(1, wmax + 1):
        arms = [f"""
                SELECT p.w, a.al + p.c AS t
                FROM al{i} a JOIN pc p
                  ON p.w = a.w AND p.i = {i} AND p.j = {j}
                     AND p.c IS NOT NULL"""
                for i in range(max(0, j - plen), j)]
        parts.append(f"""
            alt{j} AS ({' UNION ALL '.join(arms)}),
            al{j} AS MATERIALIZED (
              SELECT t.w,
                     (m.mn - CAST(floor(ln(sum(exp(-((t.t - m.mn) / {q}))))
                                        * 1000000 + 0.5) AS BIGINT)) AS al
              FROM alt{j} t
              JOIN (SELECT w, min(t) AS mn FROM alt{j} GROUP BY w) m
                USING (w)
              GROUP BY t.w, m.mn)""")
    parts.append(
        "alall AS MATERIALIZED ("
        + " UNION ALL ".join(f"SELECT {j} AS j, w, al FROM al{j}"
                             for j in range(0, wmax + 1))
        + "), aln AS MATERIALIZED (SELECT w, al FROM alall"
          " WHERE j = len(w))")
    for i in range(wmax - 1, -1, -1):
        arms = []
        for j in range(i + 1, min(i + plen, wmax) + 1):
            if j < wmax:
                arms.append(f"""
                    SELECT p.w, p.c + b.bl AS t
                    FROM pc p JOIN bl{j} b ON b.w = p.w
                    WHERE p.i = {i} AND p.j = {j} AND p.c IS NOT NULL""")
            arms.append(f"""
                SELECT p.w, p.c AS t FROM pc p
                WHERE p.i = {i} AND p.j = {j} AND p.c IS NOT NULL
                  AND len(p.w) = {j}""")
        parts.append(f"""
            blt{i} AS ({' UNION ALL '.join(arms)}),
            bl{i} AS MATERIALIZED (
              SELECT t.w,
                     (m.mn - CAST(floor(ln(sum(exp(-((t.t - m.mn) / {q}))))
                                        * 1000000 + 0.5) AS BIGINT)) AS bl
              FROM blt{i} t
              JOIN (SELECT w, min(t) AS mn FROM blt{i} GROUP BY w) m
                USING (w)
              GROUP BY t.w, m.mn)""")
    parts.append(
        "blall AS MATERIALIZED ("
        + " UNION ALL ".join(f"SELECT {i} AS i, w, bl FROM bl{i}"
                             for i in range(0, wmax))
        + ")")
    parts.append(f"""
            edges AS (
              SELECT p.w, substr(p.w, p.i + 1, p.j - p.i) AS piece,
                     CAST(floor(exp(-((a.al + p.c
                                       + CASE WHEN p.j = len(p.w) THEN 0
                                              ELSE b.bl END
                                       - n.al) / {q}))
                                * 1000000 + 0.5) AS BIGINT) AS eq
              FROM pc p
              JOIN alall a ON a.w = p.w AND a.j = p.i
              JOIN aln n ON n.w = p.w
              LEFT JOIN blall b ON b.w = p.w AND b.i = p.j
              WHERE p.c IS NOT NULL
                AND (p.j = len(p.w) OR b.bl IS NOT NULL)),
            ecnt AS (SELECT piece, sum(wf.f * e.eq) AS em
                     FROM edges e JOIN wf ON wf.w = e.w GROUP BY piece),
            ecv AS (SELECT voc.piece, coalesce(ecnt.em, 0) AS em
                    FROM voc LEFT JOIN ecnt USING (piece)),
            tots AS (SELECT sum(em) AS T FROM ecv),
            vstat AS (SELECT count(*) AS V FROM voc),
            wnll AS (SELECT wf.w, wf.f,
                            CASE WHEN len(wf.w) > {wmax} THEN 25000000
                                 ELSE aln.al END AS nll
                     FROM wf LEFT JOIN aln ON aln.w = wf.w),
            tnll AS (SELECT coalesce(sum(f * nll), 0) AS t FROM wnll)
            SELECT ecv.piece, ecv.em::BIGINT AS expected_micro,
                   floor(-ln((ecv.em / {q} + {float(alpha)}::DOUBLE)
                             / (tots.T / {q}
                                + {float(alpha)}::DOUBLE * vstat.V))
                         * 1000000 + 0.5)::BIGINT AS cost,
                   tnll.t::BIGINT AS total_nll
            FROM ecv CROSS JOIN tots CROSS JOIN vstat CROSS JOIN tnll
            ORDER BY piece""")
    return "WITH " + ",".join(parts)


def _unigram_prune_oracle(keep_ratio: float = 0.6, wmax: int = 16) -> str:
    """Pruning-step replay (r11): chain-1 DP + backtrace give usage
    counts; every single-char piece survives, multis rank by (cnt DESC,
    piece) with the top ceil(keep_ratio·n_multi) kept; costs re-derive
    over the SURVIVING set (V and T are the pruned set's); chain-2 DP
    re-segments the corpus under the pruned vocabulary."""
    return f"""
            WITH {_unigram_base_sql(wmax=wmax)},
            dws AS (SELECT w FROM dw),
            {_unigram_backtrace_sql(wmax=wmax)},
            pocc AS (
              SELECT unnest(string_split(seg.pieces, ' ')) AS piece, wf.f
              FROM seg JOIN wf USING (w)),
            pcnt AS (SELECT piece, sum(f) AS cnt FROM pocc GROUP BY piece),
            vc AS (SELECT voc.piece, coalesce(pcnt.cnt, 0) AS cnt
                   FROM voc LEFT JOIN pcnt USING (piece)),
            multis AS (SELECT piece, cnt FROM vc WHERE len(piece) > 1),
            nmul AS (SELECT count(*) AS n FROM multis),
            kept2 AS (
              SELECT piece, cnt FROM vc WHERE len(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM (
                SELECT piece, cnt,
                       row_number() OVER (ORDER BY cnt DESC, piece) AS rn
                FROM multis) r CROSS JOIN nmul
              WHERE rn <= ceil({keep_ratio} * nmul.n)),
            vstat2 AS (SELECT count(*) AS V FROM kept2),
            tot2 AS (SELECT sum(cnt) AS T FROM kept2),
            voc2 AS MATERIALIZED (
              SELECT piece,
                     floor(-ln((cnt + 0.5) / (tot2.T + 0.5 * vstat2.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM kept2 CROSS JOIN tot2 CROSS JOIN vstat2),
            {_unigram_dp_sql("voc2", "_r1", wmax=wmax)},
            agg AS (SELECT doc_id, count(*) AS n_words, sum(ns) AS n_pieces,
                           sum(c) AS total_cost
                    FROM tk JOIN dpf_r1 USING (w) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_words, 0) END::BIGINT
                     AS n_words,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_pieces, 0) END::BIGINT
                     AS n_pieces,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.total_cost, 0) END::BIGINT
                     AS total_cost
            FROM documents d LEFT JOIN agg USING (doc_id)"""


def _unigram_prune_loss_oracle(keep_ratio: float = 0.6, plen: int = 4,
                               wmax: int = 16) -> str:
    """Loss-ranked pruning replay (r13, VERDICT r12 task #4): the
    ranking statistic is each multi-char piece's corpus likelihood loss
    when removed — replayed with TWO unrolled quantized forward
    lattices (the _unigram_soft_oracle cell rule): the base marginal
    per word, and a per-(word, banned-piece) chain whose arms skip
    every edge labeled with the ban.  loss(p) = Σ f·(NLL_banned −
    NLL_base); singles survive, multis rank (loss DESC, piece), costs
    re-derive from the chain-1 Viterbi usage counts over the survivors
    (the recost rule the usage mode shares), chain-2 DP re-segments."""
    q = "1000000.0"
    parts = [_unigram_base_sql(wmax=wmax),
             "dws AS (SELECT w FROM dw)",
             _unigram_backtrace_sql(wmax=wmax),
             """pocc AS (
              SELECT unnest(string_split(seg.pieces, ' ')) AS piece, wf.f
              FROM seg JOIN wf USING (w)),
            pcnt AS (SELECT piece, sum(f) AS cnt FROM pocc GROUP BY piece)""",
             "al0 AS MATERIALIZED (SELECT w, 0::BIGINT AS al FROM dw)"]
    for j in range(1, wmax + 1):
        arms = [f"""
                SELECT a.w, a.al + p.c AS t
                FROM al{i} a JOIN pc p
                  ON p.w = a.w AND p.i = {i} AND p.j = {j}
                     AND p.c IS NOT NULL"""
                for i in range(max(0, j - plen), j)]
        parts.append(f"""
            alt{j} AS ({' UNION ALL '.join(arms)}),
            al{j} AS MATERIALIZED (
              SELECT t.w,
                     (m.mn - CAST(floor(ln(sum(exp(-((t.t - m.mn) / {q}))))
                                        * 1000000 + 0.5) AS BIGINT)) AS al
              FROM alt{j} t
              JOIN (SELECT w, min(t) AS mn FROM alt{j} GROUP BY w) m
                USING (w)
              GROUP BY t.w, m.mn)""")
    parts.append(
        "aln AS MATERIALIZED ("
        + " UNION ALL ".join(f"SELECT w, al FROM al{j} WHERE len(w) = {j}"
                             for j in range(1, wmax + 1))
        + ")")
    parts.append("""
            bans AS MATERIALIZED (
              SELECT DISTINCT w, substr(w, i + 1, j - i) AS ban
              FROM pc WHERE c IS NOT NULL AND j - i > 1),
            alb0 AS MATERIALIZED (SELECT w, ban, 0::BIGINT AS al
                                  FROM bans)""")
    for j in range(1, wmax + 1):
        arms = [f"""
                SELECT a.w, a.ban, a.al + p.c AS t
                FROM alb{i} a JOIN pc p
                  ON p.w = a.w AND p.i = {i} AND p.j = {j}
                     AND p.c IS NOT NULL
                     AND substr(p.w, p.i + 1, p.j - p.i) <> a.ban"""
                for i in range(max(0, j - plen), j)]
        parts.append(f"""
            albt{j} AS ({' UNION ALL '.join(arms)}),
            alb{j} AS MATERIALIZED (
              SELECT t.w, t.ban,
                     (m.mn - CAST(floor(ln(sum(exp(-((t.t - m.mn) / {q}))))
                                        * 1000000 + 0.5) AS BIGINT)) AS al
              FROM albt{j} t
              JOIN (SELECT w, ban, min(t) AS mn FROM albt{j}
                    GROUP BY w, ban) m
                ON m.w = t.w AND m.ban = t.ban
              GROUP BY t.w, t.ban, m.mn)""")
    parts.append(
        "albn AS MATERIALIZED ("
        + " UNION ALL ".join(
            f"SELECT w, ban, al FROM alb{j} WHERE len(w) = {j}"
            for j in range(1, wmax + 1))
        + ")")
    parts.append(f"""
            lsum AS (
              SELECT b.ban AS piece, sum(wf.f * (b.al - n.al)) AS lo
              FROM albn b JOIN aln n ON n.w = b.w
                   JOIN wf ON wf.w = b.w
              GROUP BY b.ban),
            vc AS (SELECT voc.piece, coalesce(pcnt.cnt, 0) AS cnt,
                          coalesce(lsum.lo, 0) AS lo
                   FROM voc LEFT JOIN pcnt USING (piece)
                        LEFT JOIN lsum USING (piece)),
            multis AS (SELECT piece, cnt, lo FROM vc WHERE len(piece) > 1),
            nmul AS (SELECT count(*) AS n FROM multis),
            kept2 AS (
              SELECT piece, cnt FROM vc WHERE len(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM (
                SELECT piece, cnt,
                       row_number() OVER (ORDER BY lo DESC, piece) AS rn
                FROM multis) r CROSS JOIN nmul
              WHERE rn <= ceil({keep_ratio} * nmul.n)),
            vstat2 AS (SELECT count(*) AS V FROM kept2),
            tot2 AS (SELECT sum(cnt) AS T FROM kept2),
            voc2 AS MATERIALIZED (
              SELECT piece,
                     floor(-ln((cnt + 0.5) / (tot2.T + 0.5 * vstat2.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM kept2 CROSS JOIN tot2 CROSS JOIN vstat2),
            {_unigram_dp_sql("voc2", "_r1", wmax=wmax)},
            agg AS (SELECT doc_id, count(*) AS n_words, sum(ns) AS n_pieces,
                           sum(c) AS total_cost
                    FROM tk JOIN dpf_r1 USING (w) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_words, 0) END::BIGINT
                     AS n_words,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_pieces, 0) END::BIGINT
                     AS n_pieces,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.total_cost, 0) END::BIGINT
                     AS total_cost
            FROM documents d LEFT JOIN agg USING (doc_id)""")
    return "WITH " + ",".join(parts)


def _unigram_to_size_oracle(target: int = 40, shrink: float = 0.6,
                            rounds: int = 2, wmax: int = 16) -> str:
    """Shrink-to-target trainer replay (r13): `rounds` unrolled
    (EM refine -> to-size prune) cycles — each refine a backtrace ->
    Laplace recost over the CURRENT piece set (V tracks the shrinking
    vocabulary, unlike the fixed-set converge oracle), each prune
    keeping greatest(target, ceil(shrink·n_multi)) multis so the loop
    lands exactly on target and extra cycles are size-idempotent (the
    property that lets this unroll statically) — then the final DP
    re-segments the corpus."""
    parts = [_unigram_base_sql(wmax=wmax), "dws AS (SELECT w FROM dw)"]
    cur_voc, cur_sfx = "voc", ""
    for r in range(1, rounds + 1):
        esfx, psfx = f"_e{r}", f"_p{r}"
        parts.append(_unigram_backtrace_sql(
            dws="dws", dpall=f"dpall{cur_sfx}", sfx=cur_sfx, wmax=wmax))
        parts.append(f"""
            pocc{esfx} AS (
              SELECT unnest(string_split(seg{cur_sfx}.pieces, ' '))
                       AS piece, wf.f
              FROM seg{cur_sfx} JOIN wf USING (w)),
            pcnt{esfx} AS (SELECT piece, sum(f) AS cnt FROM pocc{esfx}
                           GROUP BY piece),
            vstat{esfx} AS (SELECT count(*) AS V FROM {cur_voc}),
            tot{esfx} AS (SELECT sum(coalesce(pcnt{esfx}.cnt, 0)) AS T
                          FROM {cur_voc}
                               LEFT JOIN pcnt{esfx} USING (piece)),
            voc{esfx} AS MATERIALIZED (
              SELECT {cur_voc}.piece,
                     floor(-ln((coalesce(pcnt{esfx}.cnt, 0) + 0.5)
                               / (tot{esfx}.T + 0.5 * vstat{esfx}.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM {cur_voc} LEFT JOIN pcnt{esfx} USING (piece)
                   CROSS JOIN tot{esfx} CROSS JOIN vstat{esfx})""")
        parts.append(_unigram_dp_sql(f"voc{esfx}", esfx, wmax=wmax))
        parts.append(_unigram_backtrace_sql(
            dws="dws", dpall=f"dpall{esfx}", sfx=esfx, wmax=wmax))
        parts.append(f"""
            pocc{psfx} AS (
              SELECT unnest(string_split(seg{esfx}.pieces, ' '))
                       AS piece, wf.f
              FROM seg{esfx} JOIN wf USING (w)),
            pcnt{psfx} AS (SELECT piece, sum(f) AS cnt FROM pocc{psfx}
                           GROUP BY piece),
            vc{psfx} AS (SELECT voc{esfx}.piece,
                                coalesce(pcnt{psfx}.cnt, 0) AS cnt
                         FROM voc{esfx}
                              LEFT JOIN pcnt{psfx} USING (piece)),
            multis{psfx} AS (SELECT piece, cnt FROM vc{psfx}
                             WHERE len(piece) > 1),
            nmul{psfx} AS (SELECT count(*) AS n FROM multis{psfx}),
            kept{psfx} AS (
              SELECT piece, cnt FROM vc{psfx} WHERE len(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM (
                SELECT piece, cnt,
                       row_number() OVER (ORDER BY cnt DESC, piece) AS rn
                FROM multis{psfx}) r CROSS JOIN nmul{psfx}
              WHERE rn <= greatest({int(target)},
                                   ceil({float(shrink)} * nmul{psfx}.n))),
            vstat{psfx} AS (SELECT count(*) AS V FROM kept{psfx}),
            tot{psfx} AS (SELECT sum(cnt) AS T FROM kept{psfx}),
            voc{psfx} AS MATERIALIZED (
              SELECT piece,
                     floor(-ln((cnt + 0.5)
                               / (tot{psfx}.T + 0.5 * vstat{psfx}.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM kept{psfx} CROSS JOIN tot{psfx}
                   CROSS JOIN vstat{psfx})""")
        parts.append(_unigram_dp_sql(f"voc{psfx}", psfx, wmax=wmax))
        cur_voc, cur_sfx = f"voc{psfx}", psfx
    parts.append(f"""
            agg AS (SELECT doc_id, count(*) AS n_words, sum(ns) AS n_pieces,
                           sum(c) AS total_cost
                    FROM tk JOIN dpf{cur_sfx} USING (w) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_words, 0) END::BIGINT
                     AS n_words,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_pieces, 0) END::BIGINT
                     AS n_pieces,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.total_cost, 0) END::BIGINT
                     AS total_cost
            FROM documents d LEFT JOIN agg USING (doc_id)""")
    return "WITH " + ",".join(parts)


def _unigram_train_chain_sql(keep_ratio: float = 0.6,
                             wmax: int = 16) -> str:
    """The full-trainer CTE chain (seed DP assumed already emitted by
    `_unigram_base_sql`): EM recost -> chain-2 DP -> usage-ranked prune
    -> chain-3 DP -> per-doc `agg`.  Shared by `_unigram_train_oracle`
    (over `documents`) and `_corpus_to_batches_oracle` (over its
    curated CTE)."""
    return f"""
            dws AS (SELECT w FROM dw),
            vstat AS (SELECT count(*) AS V FROM voc),
            {_unigram_backtrace_sql(wmax=wmax)},
            pocc AS (
              SELECT unnest(string_split(seg.pieces, ' ')) AS piece, wf.f
              FROM seg JOIN wf USING (w)),
            pcnt AS (SELECT piece, sum(f) AS cnt FROM pocc GROUP BY piece),
            tot_em AS (SELECT sum(coalesce(pcnt.cnt, 0)) AS T
                       FROM voc LEFT JOIN pcnt USING (piece)),
            voc2 AS MATERIALIZED (
              SELECT voc.piece,
                     floor(-ln((coalesce(pcnt.cnt, 0) + 0.5)
                               / (tot_em.T + 0.5 * vstat.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM voc LEFT JOIN pcnt USING (piece)
                   CROSS JOIN tot_em CROSS JOIN vstat),
            {_unigram_dp_sql("voc2", "_r1", wmax=wmax)},
            {_unigram_backtrace_sql(dws="dws", dpall="dpall_r1",
                                    sfx="_r1", wmax=wmax)},
            pocc_r1 AS (
              SELECT unnest(string_split(seg_r1.pieces, ' ')) AS piece, wf.f
              FROM seg_r1 JOIN wf USING (w)),
            pcnt_r1 AS (SELECT piece, sum(f) AS cnt FROM pocc_r1
                        GROUP BY piece),
            vc AS (SELECT voc.piece, coalesce(pcnt_r1.cnt, 0) AS cnt
                   FROM voc LEFT JOIN pcnt_r1 USING (piece)),
            multis AS (SELECT piece, cnt FROM vc WHERE len(piece) > 1),
            nmul AS (SELECT count(*) AS n FROM multis),
            kept2 AS (
              SELECT piece, cnt FROM vc WHERE len(piece) = 1
              UNION ALL
              SELECT piece, cnt FROM (
                SELECT piece, cnt,
                       row_number() OVER (ORDER BY cnt DESC, piece) AS rn
                FROM multis) r CROSS JOIN nmul
              WHERE rn <= ceil({keep_ratio} * nmul.n)),
            vstat2 AS (SELECT count(*) AS V FROM kept2),
            tot2 AS (SELECT sum(cnt) AS T FROM kept2),
            voc3 AS MATERIALIZED (
              SELECT piece,
                     floor(-ln((cnt + 0.5) / (tot2.T + 0.5 * vstat2.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM kept2 CROSS JOIN tot2 CROSS JOIN vstat2),
            {_unigram_dp_sql("voc3", "_r2", wmax=wmax)},
            agg AS (SELECT doc_id, count(*) AS n_words, sum(ns) AS n_pieces,
                           sum(c) AS total_cost
                    FROM tk JOIN dpf_r2 USING (w) GROUP BY doc_id)"""


def _unigram_train_oracle(keep_ratio: float = 0.6, wmax: int = 16) -> str:
    """Full-trainer replay (r11): seed chain -> EM recost (the
    _unigram_em_oracle step) -> chain 2 -> usage-ranked prune over the
    chain-2 counts (the _unigram_prune_oracle step) -> chain 3
    re-segments the corpus under the trained vocabulary."""
    return f"""
            WITH {_unigram_base_sql(wmax=wmax)},
            {_unigram_train_chain_sql(keep_ratio=keep_ratio, wmax=wmax)}
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_words, 0) END::BIGINT
                     AS n_words,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_pieces, 0) END::BIGINT
                     AS n_pieces,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.total_cost, 0) END::BIGINT
                     AS total_cost
            FROM documents d LEFT JOIN agg USING (doc_id)"""


def _corpus_to_batches_oracle(max_len: int = 256, keep_ratio: float = 0.6,
                              wmax: int = 16) -> str:
    """corpus -> batches replay (r12, VERDICT r11 task #3): the
    corpus_pipeline_full gate chain produces the curated (doc_id, text)
    relation; the full unigram-trainer chain (seed -> EM -> prune ->
    final DP) runs OVER IT via `_unigram_base_sql(src=...)`; the packed
    layout is the pack_sequences cumsum replay over the per-doc PIECE
    counts; the 1-row budget report cross-joins on."""
    gate = f"""
            gtoks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
            gpos AS (SELECT doc_id, t,
                            unnest(generate_series(1,
                              GREATEST(len(t) - 7, 1))) AS g
                     FROM gtoks),
            ggrams AS (SELECT doc_id,
                              array_to_string(t[g : g + 7], ' ') AS gram
                       FROM gpos),
            gbench AS (SELECT DISTINCT gram FROM ggrams
                       WHERE doc_id % 50 = 0),
            gcontaminated AS (SELECT DISTINCT g.doc_id FROM ggrams g
                              JOIN gbench b ON g.gram = b.gram),
            curated AS MATERIALIZED (
              SELECT d.doc_id, d.text
              FROM documents d
              JOIN ({_lang_id_oracle()}) l ON l.doc_id = d.doc_id
              JOIN ({_quality_oracle()}) q ON q.doc_id = d.doc_id
              JOIN ({_repetition_oracle()}) r ON r.doc_id = d.doc_id
                                                 AND r.keep
              WHERE l.predicted_lang = 'en' AND q.quality_score >= 0.5
                AND d.doc_id IN (SELECT min(doc_id) FROM documents
                                 GROUP BY md5(text))
                AND d.doc_id NOT IN (SELECT doc_id FROM gcontaminated)
                AND {_md5i("'split:' || d.doc_id::VARCHAR")} % 100 >= 10)"""
    return f"""
            WITH {gate},
            {_unigram_base_sql(wmax=wmax, src="curated")},
            {_unigram_train_chain_sql(keep_ratio=keep_ratio, wmax=wmax)},
            counted AS (
              SELECT c.doc_id,
                     CASE WHEN c.text IS NULL THEN 0
                          ELSE coalesce(agg.n_pieces, 0) END::BIGINT AS n
              FROM curated c LEFT JOIN agg USING (doc_id)),
            p AS (SELECT doc_id, n,
                         SUM(n) OVER (ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)::BIGINT
                           AS cum
                  FROM counted),
            rep AS (SELECT SUM(n)::BIGINT AS total_tokens,
                           CEIL(SUM(n) / {max_len}.0)::BIGINT AS n_windows,
                           COUNT(*)::BIGINT AS n_docs,
                           SUM(CASE WHEN (cum - 1) // {max_len}
                                         > (cum - n) // {max_len}
                                    THEN 1 ELSE 0 END)::BIGINT
                             AS n_straddling
                    FROM p)
            SELECT doc_id, n AS n_pieces, (cum - n) AS start_tok,
                   ((cum - n) // {max_len})::BIGINT AS first_chunk,
                   ((cum - 1) // {max_len})::BIGINT AS last_chunk,
                   ((cum - 1) // {max_len} - (cum - n) // {max_len}
                    + 1)::BIGINT AS n_chunks,
                   ((cum - n) % {max_len})::BIGINT AS offset_in_first_chunk,
                   rep.total_tokens, rep.n_windows, rep.n_docs,
                   rep.n_straddling
            FROM p CROSS JOIN rep ORDER BY doc_id"""


def _unigram_tokenize_oracle() -> str:
    return f"""
            WITH {_unigram_base_sql()},
            agg AS (SELECT doc_id, count(*) AS n_words, sum(ns) AS n_pieces,
                           sum(c) AS total_cost
                    FROM tk JOIN dpf USING (w) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_words, 0) END::BIGINT
                     AS n_words,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_pieces, 0) END::BIGINT
                     AS n_pieces,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.total_cost, 0) END::BIGINT
                     AS total_cost
            FROM documents d LEFT JOIN agg USING (doc_id)"""


def _unigram_segment_oracle(wmax: int = 16) -> str:
    return f"""
            WITH {_unigram_base_sql()},
            topw AS (SELECT w, f FROM wf ORDER BY f DESC, w LIMIT 12),
            dws AS (SELECT w FROM topw WHERE len(w) <= {wmax}),
            {_unigram_backtrace_sql()}
            SELECT t.w, coalesce(seg.pieces, '<unk>') AS pieces,
                   dpf.ns::BIGINT AS n_pieces, dpf.c::BIGINT AS total_cost
            FROM topw t LEFT JOIN seg ON seg.w = t.w
                 JOIN dpf ON dpf.w = t.w"""


def _unigram_em_oracle(wmax: int = 16) -> str:
    """Hard-EM replay: chain-1 DP + full backtrace give per-word USED
    pieces; usage counts (word-frequency weighted, vocab pieces only)
    re-derive Laplace costs (voc2); chain-2 DP re-segments the corpus
    under voc2 and aggregates per document."""
    return f"""
            WITH {_unigram_base_sql(wmax=wmax)},
            dws AS (SELECT w FROM dw),
            {_unigram_backtrace_sql(wmax=wmax)},
            pocc AS (
              SELECT unnest(string_split(seg.pieces, ' ')) AS piece, wf.f
              FROM seg JOIN wf USING (w)),
            pcnt AS (SELECT piece, sum(f) AS cnt FROM pocc GROUP BY piece),
            vstat AS (SELECT count(*) AS V FROM voc),
            tot2 AS (SELECT sum(coalesce(pcnt.cnt, 0)) AS T
                     FROM voc LEFT JOIN pcnt USING (piece)),
            voc2 AS MATERIALIZED (
              SELECT voc.piece,
                     floor(-ln((coalesce(pcnt.cnt, 0) + 0.5)
                               / (tot2.T + 0.5 * vstat.V))
                           * 1000000 + 0.5)::BIGINT AS c
              FROM voc LEFT JOIN pcnt USING (piece)
                   CROSS JOIN tot2 CROSS JOIN vstat),
            {_unigram_dp_sql("voc2", "_r", wmax=wmax)},
            agg AS (SELECT doc_id, count(*) AS n_words, sum(ns) AS n_pieces,
                           sum(c) AS total_cost
                    FROM tk JOIN dpf_r USING (w) GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_words, 0) END::BIGINT
                     AS n_words,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.n_pieces, 0) END::BIGINT
                     AS n_pieces,
                   CASE WHEN d.text IS NULL THEN NULL
                        ELSE coalesce(agg.total_cost, 0) END::BIGINT
                     AS total_cost
            FROM documents d LEFT JOIN agg USING (doc_id)"""


def _source_reweight_converge_oracle(rounds: int = 2, eta: float = 1.0,
                                     smoothing: float = 0.2,
                                     token_frac: float = 0.5,
                                     salt: str = "doremi") -> str:
    """Generated CTE chain replaying source_reweight_converge: the
    bigram-LM per-doc scores once, then per round a salted-hash
    token-budget sample at the previous round's weights, per-source
    means over the sample, and the quantize-before-exp multiplicative
    weight update — the unigram_em_converge oracle discipline applied
    to data mixing."""
    c = float(smoothing)
    blocks = [f"""
            toks AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                                t -> t <> '') AS t
                     FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2),
            bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM pos),
            cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
            cw AS (SELECT w1, sum(cb) AS cw FROM cb GROUP BY 1),
            v AS (SELECT count(DISTINCT tt) AS V
                  FROM (SELECT unnest(t) AS tt FROM toks)),
            lsc AS (SELECT b.doc_id,
                           log2((coalesce(cb.cb, 0) + 1)
                                / (coalesce(cw.cw, 0) + v.V)) AS logp
                    FROM bi b
                    LEFT JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
                    LEFT JOIN cw ON cw.w1 = b.w1
                    CROSS JOIN v),
            pdoc AS (SELECT doc_id,
                            floor(-avg(logp) * 10000 + 0.5) / 10000
                              AS lm_score
                     FROM lsc GROUP BY 1),
            dtok AS (SELECT d.doc_id, d.source,
                            len(string_split(d.text, ' '))::BIGINT
                              AS n_tokens,
                            p.lm_score
                     FROM documents d LEFT JOIN pdoc p USING (doc_id)),
            w0 AS (SELECT source,
                          floor(1.0 / kk.k * 1000000 + 0.5) / 1000000
                            AS weight
                   FROM (SELECT DISTINCT source FROM dtok
                         WHERE source IS NOT NULL)
                        CROSS JOIN (SELECT count(DISTINCT source) AS k
                                    FROM dtok) kk)"""]
    outs = []
    for r in range(1, int(rounds) + 1):
        rk = _md5i(f"'{salt}:{r}:' || t.doc_id::VARCHAR")
        blocks.append(f"""
            base{r} AS (SELECT t.doc_id, t.source, t.n_tokens, t.lm_score,
                               {rk} AS rk, w.weight AS w
                        FROM dtok t JOIN w{r - 1} w USING (source)),
            s{r} AS (SELECT source, sum(n_tokens) AS st, any_value(w) AS sw
                     FROM base{r} GROUP BY source),
            g{r} AS (SELECT sum(st) AS total, sum(sw) AS wsum FROM s{r}),
            c{r} AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
                       ORDER BY rk, doc_id ROWS UNBOUNDED PRECEDING)
                         AS cum
                     FROM base{r}),
            samp{r} AS (SELECT c{r}.* FROM c{r}, g{r}
                        WHERE (cum - n_tokens)
                              < {token_frac}::DOUBLE * g{r}.total
                                * c{r}.w::DOUBLE / g{r}.wsum::DOUBLE),
            ps{r} AS (SELECT source, count(*) AS n_sampled,
                             count(lm_score) AS n_scored,
                             floor(avg(lm_score) * 1000000 + 0.5)
                               / 1000000 AS mean_lm_score,
                             any_value(w) AS weight_prev
                      FROM samp{r} GROUP BY source),
            ref{r} AS (SELECT floor(avg(lm_score) * 1000000 + 0.5)
                                / 1000000 AS rr FROM samp{r}),
            ex{r} AS (SELECT source, n_sampled, n_scored, mean_lm_score,
                             weight_prev,
                             floor(greatest(coalesce(mean_lm_score, rr)
                                            - rr, 0.0)
                                   * 1000000 + 0.5) / 1000000 AS excess
                      FROM ps{r} CROSS JOIN ref{r}),
            raw{r} AS (SELECT *, weight_prev
                                 * exp({float(eta)}::DOUBLE * excess)
                                   AS rw
                       FROM ex{r}),
            z{r} AS (SELECT sum(rw) AS Z, count(*) AS k FROM raw{r}),
            wf{r} AS (SELECT source, n_sampled, n_scored, mean_lm_score,
                             excess, weight_prev,
                             floor(({1.0 - c}::DOUBLE * rw / z{r}.Z
                                    + {c}::DOUBLE / z{r}.k)
                                   * 1000000 + 0.5) / 1000000 AS weight
                      FROM raw{r} CROSS JOIN z{r}),
            w{r} AS (SELECT source, weight FROM wf{r})""")
        outs.append(f"""
            SELECT {r}::INT AS round, source, n_sampled::BIGINT AS n_sampled,
                   n_scored::BIGINT AS n_scored, mean_lm_score, excess,
                   weight_prev, weight
            FROM wf{r}""")
    return ("WITH " + ",".join(blocks) + "\n"
            + "\nUNION ALL".join(outs)
            + "\nORDER BY round, source")


def oracle_sql() -> dict[str, str]:
    md5i_doc = _md5i("doc_id")
    md5i_cname = _md5i("c_name")
    return {
        "s1_thrift_roundtrip": "SELECT doc_id, text FROM documents",
        "s3_text_framing": """
            SELECT doc_id,
                   (1 + len(list_filter(string_split(text, ' ')[2:], x -> x = 'the')))::BIGINT AS n_messages
            FROM documents""",
        "t1_filter_regex": r"SELECT doc_id, lang FROM documents WHERE regexp_matches(text, '\bspark\b')",
        "t2_regex_modifier": r"""
            SELECT event_id,
                   CASE WHEN regexp_matches(props, '\{"k": (\d*[02468])\}')
                        THEN regexp_replace(props, '\{"k": (\d*[02468])\}', 'k=\1')
                        ELSE props END AS modified
            FROM events""",
        "t3_prepend": """
            SELECT event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') || '|' || 'host-01' || '|' || event_type AS value
            FROM events""",
        "t4_trim_newline": r"""
            SELECT doc_id, length(regexp_replace(text || chr(10), '\n$', ''))::BIGINT AS len_after
            FROM documents""",
        "t5_headers": """
            SELECT event_id, 'host-01' AS h_hostname, 'us-east-1a' AS h_az,
                   'events.parquet' AS h_file
            FROM events""",
        "t6_audit_headers": """
            -- TBinaryProtocol LoggingAuditHeaders wire size: per field 3B
            -- header (type+id), strings +4B len + payload, i32 +4, i64 +8,
            -- bool +1, stop 1 → 2·7 + 2·7 + 2·11 + 4 + 1 = 55 fixed bytes
            -- + the two string payloads.  CRC header is the 8-byte
            -- big-endian long (Longs.toByteArray).
            SELECT doc_id,
                   'host-' || (doc_id % 10) AS host,
                   source AS log_name,
                   (doc_id % 32768)::INT AS pid,
                   (1700000000000 + doc_id % 100)::BIGINT AS session,
                   doc_id::INT AS log_seq,
                   (doc_id % 2 = 0) AS tracked,
                   (55 + length('host-' || (doc_id % 10)) + length(source))::INT AS audit_hdr_len,
                   8::INT AS crc_hdr_len
            FROM documents""",
        "w9_audit_events": """
            SELECT 'host-audit' AS host, 'SINGER' AS stage,
                   'host-' || (doc_id % 10) AS origin_host,
                   source AS log_name,
                   (doc_id % 32768)::INT AS pid,
                   (1700000000000 + doc_id % 100)::BIGINT AS session,
                   doc_id::INT AS log_seq,
                   true AS message_valid,
                   (-1)::BIGINT AS message_acknowledged_ts
            FROM documents WHERE doc_id % 2 = 0""",
        "t7_message_id": """
            SELECT doc_id,
                   upper(substr(md5(source), 1, 16) || printf('%016x', doc_id)) AS mid_hex
            FROM documents""",
        # Self-verifying invariant queries (VERDICT r6 task #1): the Spark
        # side computes the engine hash AND an independent implementation
        # and emits agreement booleans; the oracle states the invariant in
        # plain SQL the driver's DuckDB can run.  A single disagreeing row
        # (or a row dropped by verify_checksum) breaks the value hash.
        "t8_crc32": "SELECT doc_id, true AS crc_agree FROM documents",
        "t9_sampling": f"SELECT doc_id FROM documents WHERE {md5i_doc} % 100 < 25",
        "t11_oversize": "SELECT doc_id, n_chars FROM documents WHERE length(text) <= 300",
        "p2_crc32_partitioner": (
            "SELECT c_custkey, true AS agree, true AS in_range FROM customer"),
        "p3_murmur_partitioner": (
            "SELECT c_custkey, true AS agree, true AS in_range FROM customer"),
        "p4_md5_partitioner": f"""
            SELECT c_custkey, ({md5i_cname} % 32)::INT AS partition FROM customer""",
        "p5_round_robin": """
            SELECT o_orderkey,
                   ((row_number() OVER (ORDER BY o_orderkey) - 1) % 16)::INT AS partition
            FROM orders""",
        "p6_single_partition": "SELECT c_custkey, 3::INT AS partition FROM customer",
        "p7_fixed_partitions": f"""
            SELECT c_custkey,
                   ([2, 5, 11][({md5i_cname} % 3 + 1)::INT])::INT AS partition
            FROM customer""",
        "b5_audit_count": "SELECT source AS topic, count(*) AS numMessages FROM documents GROUP BY source",
        "logstream_order": """
            SELECT doc_id, pos FROM (
              SELECT doc_id,
                     row_number() OVER (ORDER BY n_chars ASC, source DESC, doc_id ASC)::BIGINT AS pos
              FROM documents) WHERE pos <= 50""",
        "w5_s3_key_template": """
            SELECT event_id,
                   'raw/' || event_type || '/' || strftime(ts, '%Y/%m/%d') || '/part-' || event_id::VARCHAR AS s3_key
            FROM events""",
        "events_json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events""",
        "asof_join_events_orders": """
            WITH r AS (
              SELECT o_custkey % 20 AS user_id, o_orderdate,
                     max(o_orderkey) AS o_orderkey,
                     arg_max(o_totalprice, o_orderkey) AS o_totalprice
              FROM orders GROUP BY 1, 2)
            SELECT e.event_id, r.o_orderkey,
                   floor(r.o_totalprice * 100 + 0.5) / 100 AS o_totalprice
            FROM events e
            ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.o_orderdate""",
        "asof_join_tolerance": """
            WITH r AS (
              SELECT o_custkey % 20 AS user_id, o_orderdate,
                     max(o_orderkey) AS o_orderkey,
                     arg_max(o_totalprice, o_orderkey) AS o_totalprice
              FROM orders GROUP BY 1, 2),
            j AS (
              SELECT e.event_id, e.ts, r.o_orderdate, r.o_orderkey, r.o_totalprice
              FROM events e
              ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts >= r.o_orderdate)
            SELECT event_id,
                   CASE WHEN ts - o_orderdate::TIMESTAMP <= INTERVAL '90 days'
                        THEN o_orderkey END AS o_orderkey,
                   CASE WHEN ts - o_orderdate::TIMESTAMP <= INTERVAL '90 days'
                        THEN floor(o_totalprice * 100 + 0.5) / 100
                        END AS o_totalprice
            FROM j""",
        "range_join_value_tiers": """
            SELECT t.tier, count(*) AS n,
                   floor(sum(e.value) * 100 + 0.5) / 100 AS sum_value
            FROM events e
            JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'), (150.0, 1e9, 'high'))
                 t(lo, hi, tier)
              ON e.value >= t.lo AND e.value < t.hi
            GROUP BY t.tier""",
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
        "cube_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
        "grouping_sets_revenue": """
            SELECT o_orderpriority, o_orderstatus,
                   count(*) AS n, floor(sum(o_totalprice) * 100 + 0.5) / 100 AS total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderpriority))""",
        "salted_join_priority": """
            SELECT o_orderpriority, count(*) AS n_lines,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        "pivot_event_counts": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'error') AS error,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'view') AS view
            FROM events GROUP BY user_id""",
        "semi_anti_customers": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
              AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderstatus = 'F')""",
        "set_ops_segments": """
            SELECT DISTINCT c_custkey FROM (
              (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
               INTERSECT
               SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
              UNION ALL
              (SELECT c_custkey FROM customer WHERE c_nationkey = 1
               EXCEPT ALL
               SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'))""",
        "text_ngram_topk": """
            WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
            sh AS (SELECT unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                          for i in range(1, greatest(len(t)-2, 1)+1)])) AS ngram FROM toks)
            SELECT ngram, count(*) AS n FROM sh GROUP BY ngram
            ORDER BY n DESC, ngram LIMIT 20""",
        "distinct_users_daily": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(DISTINCT user_id) AS n_users, count(*) AS n_events
            FROM events GROUP BY 1""",
        "moving_avg_daily_value": """
            WITH daily AS (
              SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                     sum(value) AS day_value
              FROM events GROUP BY 1)
            SELECT day,
                   floor(day_value * 100 + 0.5) AS day_value_c,
                   floor(avg(day_value) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 100 + 0.5) AS ma7_c,
                   floor(sum(day_value) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) * 100 + 0.5) AS running_c
            FROM daily ORDER BY day""",
        "percentiles_by_type": """
            SELECT event_type,
                   floor(quantile_cont(value, 0.5) * 10000 + 0.5)::BIGINT AS p50_q,
                   floor(quantile_cont(value, 0.9) * 10000 + 0.5)::BIGINT AS p90_q,
                   floor(quantile_cont(value, 0.99) * 10000 + 0.5)::BIGINT AS p99_q
            FROM events GROUP BY event_type ORDER BY event_type""",
        "array_functions_profile": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            SELECT doc_id,
                   len(toks)::INT AS n_tokens,
                   len(list_filter(toks, x -> length(x) > 6))::INT AS n_long,
                   list_sum(list_transform(toks, x -> length(x)))::INT AS char_sum,
                   list_sort(toks)[1] AS first_token,
                   array_to_string(list_slice(list_sort(list_distinct(toks)), 1, 3), ',') AS top3_sorted
            FROM t""",
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "q3_shipping_priority": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10""",
        "q2_min_cost_supplier": """
            WITH costs AS (
              SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
              FROM lineitem GROUP BY 1, 2),
            sn AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'),
            ranked AS (
              SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
                     l_partkey AS p_partkey, p_brand,
                     floor(unit_cost * 10000 + 0.5) / 10000 AS unit_cost,
                     row_number() OVER (PARTITION BY l_partkey
                                        ORDER BY unit_cost ASC, s_suppkey ASC) AS rk
              FROM costs
              JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
              JOIN sn ON l_suppkey = s_suppkey)
            SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
            FROM ranked WHERE rk = 1
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
        "q11_important_stock": """
            WITH scoped AS (
              SELECT l_partkey, l_extendedprice FROM lineitem
              WHERE l_suppkey IN (
                SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_1')),
            per_part AS (
              SELECT l_partkey, sum(l_extendedprice) AS value FROM scoped GROUP BY 1)
            SELECT l_partkey AS p_partkey, round(value, 2) AS value
            FROM per_part
            WHERE value > (SELECT sum(value) FROM per_part) * 0.001
            ORDER BY round(value, 2) DESC, p_partkey""",
        "q16_supplier_relationship": """
            WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
            FROM pairs
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#13' AND p_size <= 25
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
        "q20_excess_suppliers": """
            WITH scoped AS (
              SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
                AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')),
            per_ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
                       FROM scoped GROUP BY 1, 2),
            per_part AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM per_ps GROUP BY 1),
            dominant AS (SELECT DISTINCT l_suppkey
                         FROM per_ps JOIN per_part USING (l_partkey)
                         WHERE supp_qty > part_qty * 0.5)
            SELECT s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
            ORDER BY s_name""",
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        "q6_forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",
        "q7_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     EXTRACT(YEAR FROM l_shipdate)::BIGINT AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')))
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year""",
        "q8_market_share": """
            SELECT o_year,
                   round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                         / sum(volume), 6) AS mkt_share
            FROM (
              SELECT EXTRACT(YEAR FROM o_orderdate)::BIGINT AS o_year,
                     l_extendedprice * (1 - l_discount) AS volume,
                     n1.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              JOIN region ON n2.n_regionkey = r_regionkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              WHERE r_name = 'ASIA' AND p_type = 'PROMO'
                AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
            GROUP BY o_year ORDER BY o_year""",
        "q9_product_profit": """
            SELECT nation, o_year, round(sum(amount), 2) AS sum_profit FROM (
              SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate)::BIGINT AS o_year,
                     l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity AS amount
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE p_name LIKE '%red%')
            GROUP BY nation, o_year ORDER BY nation, o_year DESC""",
        "q10_returned_items": """
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20""",
        "q12_late_shipments": """
            SELECT o_orderpriority, count(*) AS n_lines,
                   sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                            THEN 1 ELSE 0 END)::BIGINT AS n_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY o_orderpriority ORDER BY o_orderpriority""",
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
              GROUP BY c_custkey)
            GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
        "q14_promo_revenue": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'""",
        "q15_top_supplier": """
            WITH revenue AS (
              SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
            ORDER BY s_suppkey""",
        "q17_small_quantity_revenue": """
            WITH brand AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
            agg AS (SELECT l_partkey AS a_partkey, 0.2 * avg(l_quantity) AS qty_limit
                    FROM lineitem JOIN brand ON l_partkey = p_partkey
                    GROUP BY l_partkey)
            SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l
            JOIN brand b ON l.l_partkey = b.p_partkey
            JOIN agg a ON l.l_partkey = a.a_partkey
            WHERE l.l_quantity < a.qty_limit""",
        "q18_large_volume_customers": """
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 2) > 250)
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice, sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY round(o_totalprice, 2) DESC, o_orderkey LIMIT 100""",
        "q19_discounted_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""",
        "q21_waiting_suppliers": """
            WITH li AS (
              SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
            per_order AS (
              SELECT l_orderkey, max(l_shipdate) AS max_ship,
                     count(DISTINCT l_suppkey) AS n_supps
              FROM li GROUP BY l_orderkey),
            latest AS (
              SELECT li.l_orderkey, li.l_suppkey
              FROM li JOIN per_order p ON li.l_orderkey = p.l_orderkey
              WHERE li.l_shipdate = p.max_ship AND p.n_supps > 1),
            sole AS (
              SELECT l_orderkey, min(l_suppkey) AS suppkey FROM latest
              GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) = 1)
            SELECT s_name, count(*) AS numwait
            FROM sole JOIN supplier ON suppkey = s_suppkey
            GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""",
        "q22_idle_customers": """
            SELECT c_mktsegment, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_mktsegment ORDER BY c_mktsegment""",
        "q5_region_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey AND n_nationkey = s_nationkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name""",
        "window_top_orders": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rnk FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)::INT AS rnk
              FROM orders) WHERE rnk <= 3""",
        "sessionize_events": """
            WITH w AS (
              SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
                     WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000 THEN 1
                     ELSE 0 END AS new_session
              FROM events),
            s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq FROM w)
            SELECT user_id, session_seq::BIGINT AS session_seq, count(*) AS n_events,
                   round(sum(value), 2) AS session_value,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
            FROM s GROUP BY user_id, session_seq""",
        "session_window_agg": """
            WITH w AS (
              SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1
                     WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000 THEN 1
                     ELSE 0 END AS new_session
              FROM events),
            s AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq FROM w)
            SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                   count(*) AS n_events, round(sum(value), 2) AS session_value
            FROM s GROUP BY user_id, session_seq""",
        "hourly_event_rollup": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
            FROM events GROUP BY date_trunc('hour', ts), event_type""",
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, md5(text) AS sig, count(*) AS n_copies
            FROM documents GROUP BY md5(text)""",
        "dedup_ngram_jaccard": f"""
            WITH {_SH_CTE},
            {_NGRAM_BLOCKED},
            {_jaccard_verify_sql('ncand', 0.5)}""",
        "dedup_jaccard_budget": f"""
            WITH {_SH_CTE},
            {_PAIR_BUDGET_THR},
            blockedb AS (SELECT doc_id, s FROM sh
                         QUALIFY count(*) OVER (PARTITION BY s)
                                 <= (SELECT t FROM thr)),
            ncandb AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                       FROM blockedb a JOIN blockedb b
                       ON a.s = b.s AND a.doc_id < b.doc_id),
            {_jaccard_verify_sql('ncandb', 0.5)}""",
        "corpus_snapshot_diff": """
            WITH old_s AS (SELECT doc_id, max(md5(text)) AS dg,
                                  true AS present
                           FROM documents WHERE doc_id % 7 <> 0
                           GROUP BY doc_id),
            new_s AS (SELECT doc_id,
                             max(md5(CASE WHEN doc_id % 11 = 0
                                     THEN text || ' v2' ELSE text END)) AS dg,
                             true AS present
                      FROM documents WHERE doc_id % 5 <> 0
                      GROUP BY doc_id)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.present IS NULL THEN 'added'
                        WHEN n.present IS NULL THEN 'removed'
                        ELSE 'changed' END AS change_type
            FROM old_s o FULL OUTER JOIN new_s n ON o.doc_id = n.doc_id
            WHERE o.present IS NULL OR n.present IS NULL
                  OR o.dg IS DISTINCT FROM n.dg
            ORDER BY doc_id""",
        "cross_source_overlap": f"""
            WITH {_SH_CTE},
            d AS (SELECT DISTINCT doc.source, sh.s AS dg
                  FROM sh JOIN documents doc USING (doc_id)),
            tot AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
            p AS (SELECT a.source AS source_a, b.source AS source_b,
                         count(*) AS shared
                  FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
                  GROUP BY 1, 2)
            SELECT source_a, source_b, shared, ta.n AS n_a, tb.n AS n_b,
                   floor(shared / (ta.n + tb.n - shared) * 1000000 + 0.5)
                     / 1000000 AS jaccard
            FROM p JOIN tot ta ON ta.source = source_a
                   JOIN tot tb ON tb.source = source_b
            ORDER BY source_a, source_b""",
        "debounce_events": """
            SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
            FROM (SELECT event_id, user_id, event_type, ts,
                         lag(ts) OVER (PARTITION BY user_id, event_type
                                       ORDER BY ts NULLS FIRST,
                                                event_id NULLS FIRST) AS pts
                  FROM events) t
            WHERE pts IS NULL OR epoch_us(ts) - epoch_us(pts) > 300000000
            ORDER BY event_id""",
        "label_centroid_sim": """
            WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
            ex AS (SELECT label, i, v[i] AS x
                   FROM e, (SELECT unnest(generate_series(1, 64)) AS i) s),
            cent AS (SELECT label, i,
                            floor(avg(x) * 1000000 + 0.5) / 1000000 AS c
                     FROM ex GROUP BY 1, 2),
            dots AS (SELECT a.label AS label_a, b.label AS label_b,
                            sum(a.c * b.c) AS dot
                     FROM cent a JOIN cent b
                     ON a.i = b.i AND a.label < b.label GROUP BY 1, 2),
            norms AS (SELECT label, sqrt(sum(c * c)) AS n FROM cent GROUP BY 1)
            SELECT label_a, label_b,
                   floor((CASE WHEN na.n * nb.n > 0
                               THEN dot / (na.n * nb.n) ELSE 0 END)
                         * 1000000 + 0.5) / 1000000 AS cos
            FROM dots JOIN norms na ON na.label = label_a
                      JOIN norms nb ON nb.label = label_b
            ORDER BY label_a, label_b""",
        "pair_budget_report": f"""
            WITH {_SH_CTE},
            {_PAIR_BUDGET_THR}
            SELECT (SELECT t FROM thr)::INT AS df_threshold,
                   coalesce(sum(CASE WHEN df <= (SELECT t FROM thr)
                                     THEN n_lists END), 0)::BIGINT AS kept_lists,
                   coalesce(sum(CASE WHEN df > (SELECT t FROM thr)
                                     THEN n_lists END), 0)::BIGINT AS demoted_lists,
                   coalesce(sum(CASE WHEN df <= (SELECT t FROM thr)
                                     THEN n_lists * df * (df - 1) / 2 END),
                            0)::BIGINT AS kept_pairs,
                   coalesce(sum(CASE WHEN df > (SELECT t FROM thr)
                                     THEN n_lists * df * (df - 1) / 2 END),
                            0)::BIGINT AS dropped_pairs
            FROM hist""",
        "dedup_overlap": f"""
            WITH {_SH_CTE},
            {_NGRAM_BLOCKED},
            v AS (SELECT id_a, id_b,
                         len(list_intersect(ba.sh, bb.sh)) AS shared,
                         len(ba.sh) AS n_a, len(bb.sh) AS n_b
                  FROM ncand c JOIN sbase ba ON ba.doc_id = c.id_a
                               JOIN sbase bb ON bb.doc_id = c.id_b)
            SELECT id_a, id_b,
                   floor(shared / least(n_a, n_b) * 10000 + 0.5) / 10000 AS overlap,
                   floor(shared / (n_a + n_b - shared) * 10000 + 0.5) / 10000 AS jaccard
            FROM v WHERE shared / least(n_a, n_b) >= 0.6""",
        "dedup_clusters": f"""
            WITH RECURSIVE {_SH_CTE},
            {_NGRAM_BLOCKED},
            vp AS (SELECT id_a, id_b,
                          len(list_intersect(ba.sh, bb.sh)) AS shared,
                          len(ba.sh) AS n_a, len(bb.sh) AS n_b
                   FROM ncand c JOIN sbase ba ON ba.doc_id = c.id_a
                                JOIN sbase bb ON bb.doc_id = c.id_b),
            pairs AS (SELECT id_a, id_b FROM vp
                      WHERE shared / (n_a + n_b - shared) >= 0.5),
            e AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            r(s, d) AS (SELECT s, d FROM e
                        UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
            comp AS (SELECT s AS id, least(s, min(d)) AS cluster FROM r GROUP BY s)
            SELECT doc_id, coalesce(c.cluster, doc_id) AS cluster
            FROM documents LEFT JOIN comp c ON c.id = doc_id
            ORDER BY doc_id""",
        "leakage_safe_split": f"""
            WITH RECURSIVE {_SH_CTE},
            {_NGRAM_BLOCKED},
            vp AS (SELECT id_a, id_b,
                          len(list_intersect(ba.sh, bb.sh)) AS shared,
                          len(ba.sh) AS n_a, len(bb.sh) AS n_b
                   FROM ncand c JOIN sbase ba ON ba.doc_id = c.id_a
                                JOIN sbase bb ON bb.doc_id = c.id_b),
            pairs AS (SELECT id_a, id_b FROM vp
                      WHERE shared / (n_a + n_b - shared) >= 0.5),
            e AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            r(s, d) AS (SELECT s, d FROM e
                        UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
            comp AS (SELECT s AS id, least(s, min(d)) AS cluster FROM r GROUP BY s),
            cl AS (SELECT doc_id, coalesce(c.cluster, doc_id) AS cluster
                   FROM documents LEFT JOIN comp c ON c.id = doc_id),
            b AS (SELECT doc_id, cluster,
                         ({MD5I.format(x="'split:' || CAST(cluster AS VARCHAR)")}
                          % 100)::INT AS bucket
                  FROM cl)
            SELECT doc_id, cluster, bucket,
                   CASE WHEN bucket < 5 THEN 'val'
                        WHEN bucket < 10 THEN 'test'
                        ELSE 'train' END AS split
            FROM b ORDER BY doc_id""",
        "dup_cluster_stats": f"""
            WITH RECURSIVE {_SH_CTE},
            {_NGRAM_BLOCKED},
            vp AS (SELECT id_a, id_b,
                          len(list_intersect(ba.sh, bb.sh)) AS shared,
                          len(ba.sh) AS n_a, len(bb.sh) AS n_b
                   FROM ncand c JOIN sbase ba ON ba.doc_id = c.id_a
                                JOIN sbase bb ON bb.doc_id = c.id_b),
            pairs AS (SELECT id_a, id_b FROM vp
                      WHERE shared / (n_a + n_b - shared) >= 0.5),
            e AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            r(s, d) AS (SELECT s, d FROM e
                        UNION SELECT r.s, e.d FROM r JOIN e ON r.d = e.s),
            comp AS (SELECT s AS id, least(s, min(d)) AS cluster FROM r GROUP BY s),
            cl AS (SELECT doc_id, coalesce(c.cluster, doc_id) AS cluster
                   FROM documents LEFT JOIN comp c ON c.id = doc_id),
            sz AS (SELECT cluster, count(*) AS cluster_size FROM cl GROUP BY 1)
            SELECT cluster_size, count(*) AS n_clusters,
                   cluster_size * count(*) AS n_docs
            FROM sz GROUP BY cluster_size ORDER BY cluster_size""",
        "embedding_outliers": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            cos_all AS (
              SELECT e.vec_id, cid,
                     list_dot_product(e.v, cv)
                     / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))) AS cos
              FROM e CROSS JOIN cent),
            assign AS (SELECT vec_id, cid AS cluster,
                              floor(cos * 1000000 + 0.5) / 1000000 AS cos_centroid
                       FROM (SELECT vec_id, cid, cos,
                                    row_number() OVER (PARTITION BY vec_id
                                                       ORDER BY cos DESC, cid) AS rn
                             FROM cos_all) WHERE rn = 1),
            stats AS (SELECT vec_id, cluster, cos_centroid,
                             avg(cos_centroid) OVER (PARTITION BY cluster) AS mu,
                             stddev_pop(cos_centroid) OVER (PARTITION BY cluster) AS sd
                      FROM assign)
            SELECT vec_id, cluster, cos_centroid,
                   CASE WHEN sd > 0
                        THEN floor((cos_centroid - mu) / sd * 10000 + 0.5) / 10000
                        ELSE 0.0 END AS zscore,
                   (CASE WHEN sd > 0
                         THEN floor((cos_centroid - mu) / sd * 10000 + 0.5) / 10000
                         ELSE 0.0 END) <= -2.0 AS is_outlier
            FROM stats ORDER BY vec_id""",
        "corpus_curation": f"""
            SELECT d.doc_id, d.source, q.quality_score
            FROM documents d
            JOIN ({_lang_id_oracle()}) l ON l.doc_id = d.doc_id
            JOIN ({_quality_oracle()}) q ON q.doc_id = d.doc_id
            WHERE l.predicted_lang = 'en' AND q.quality_score >= 0.5
              AND d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
            ORDER BY d.doc_id""",
        "funnel_counts": """
            WITH v AS (SELECT user_id, min(ts) AS t FROM events
                       WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN v ON e.user_id = v.user_id
                  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN c ON e.user_id = c.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
            SELECT * FROM (VALUES
              ('view', 1, (SELECT count(*) FROM v)),
              ('click', 2, (SELECT count(*) FROM c)),
              ('purchase', 3, (SELECT count(*) FROM p))) t(stage, stage_idx, n_users)""",
        "funnel_counts_capped": """
            WITH v AS (SELECT user_id, min(ts) AS t FROM events
                       WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN v ON e.user_id = v.user_id
                  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN c ON e.user_id = c.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
            SELECT * FROM (VALUES
              ('view', 1, (SELECT count(*) FROM v)),
              ('click', 2, (SELECT count(*) FROM c)),
              ('purchase', 3, (SELECT count(*) FROM p))) t(stage, stage_idx, n_users)""",
        "new_vs_returning": """
            WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                        FROM events),
            f AS (SELECT user_id, min(d) AS first_d FROM ud GROUP BY user_id)
            SELECT strftime(ud.d, '%Y-%m-%d') AS day,
                   sum(CASE WHEN ud.d = f.first_d THEN 1 ELSE 0 END) AS n_new,
                   sum(CASE WHEN ud.d <> f.first_d THEN 1 ELSE 0 END)
                       AS n_returning
            FROM ud JOIN f USING (user_id)
            GROUP BY ud.d ORDER BY day""",
        "stickiness": """
            WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                        FROM events),
            u2 AS (SELECT user_id, d, date_trunc('month', d) AS m FROM ud),
            dau AS (SELECT m, avg(c) AS avg_dau_raw FROM (
                      SELECT m, d, count(*) AS c FROM u2 GROUP BY m, d)
                    GROUP BY m),
            mau AS (SELECT m, count(DISTINCT user_id) AS mau FROM u2 GROUP BY m)
            SELECT strftime(dau.m, '%Y-%m') AS month,
                   floor(avg_dau_raw * 10000 + 0.5) / 10000 AS avg_dau,
                   mau.mau,
                   floor(avg_dau_raw / mau.mau * 1000000 + 0.5) / 1000000
                       AS stickiness
            FROM dau JOIN mau ON dau.m = mau.m ORDER BY month""",
        "revenue_concentration": """
            WITH pc AS (SELECT o_custkey, sum(o_totalprice) AS rev
                        FROM orders GROUP BY o_custkey),
            r AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i
                  FROM pc)
            SELECT count(*) AS n_customers,
                   floor(sum(rev) * 100 + 0.5) / 100 AS total_revenue,
                   floor((2 * sum(i * rev) - (count(*) + 1) * sum(rev))
                         / (count(*) * sum(rev)) * 1000000 + 0.5) / 1000000
                       AS gini
            FROM r""",
        "revenue_pareto": """
            WITH pc AS (SELECT o_custkey, sum(o_totalprice) AS rev
                        FROM orders GROUP BY o_custkey),
            d AS (SELECT rev, ntile(10) OVER (ORDER BY rev DESC, o_custkey)
                             AS decile FROM pc),
            g AS (SELECT decile, count(*) AS n_customers,
                         sum(rev) AS rev_raw
                  FROM d GROUP BY decile),
            t AS (SELECT sum(rev_raw) AS tt FROM g)
            SELECT decile::INT AS decile, n_customers,
                   floor(rev_raw * 100 + 0.5) / 100 AS revenue,
                   floor(rev_raw / tt * 1000000 + 0.5) / 1000000 AS share,
                   floor(sum(rev_raw / tt) OVER (ORDER BY decile
                         ROWS UNBOUNDED PRECEDING) * 1000000 + 0.5) / 1000000
                       AS cum_share
            FROM g, t ORDER BY decile""",
        "robust_spread": """
            WITH med AS (SELECT event_type,
                                quantile_cont(value, 0.5) AS m,
                                count(*) AS n
                         FROM events GROUP BY event_type)
            SELECT e.event_type, first(med.n) AS n,
                   floor(first(med.m) * 10000 + 0.5) / 10000 AS median_value,
                   floor(quantile_cont(abs(e.value - med.m), 0.5) * 10000 + 0.5)
                       / 10000 AS mad_value
            FROM events e JOIN med ON e.event_type = med.event_type
            GROUP BY e.event_type ORDER BY e.event_type""",
        "correlation_report": """
            WITH b AS (
              SELECT event_type, value AS y,
                     (epoch_us(ts) % 86400000000) / 1000000.0 AS x
              FROM events)
            SELECT event_type, count(*) AS n,
                   floor(corr(y, x) * 10000 + 0.5) / 10000 AS corr_value_tod,
                   floor(covar_samp(y, x) * 10000 + 0.5) / 10000 AS covar_value_tod,
                   floor(covar_samp(y, x) / var_samp(x) * 1000000 + 0.5)
                       / 1000000 AS slope
            FROM b GROUP BY event_type ORDER BY event_type""",
        "token_drift": r"""
            WITH a AS (
              SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM documents
              WHERE regexp_extract(source, 'src(\d+)', 1)::INT < 10),
            b AS (
              SELECT unnest(regexp_split_to_array(text, '\s+')) AS token
              FROM documents
              WHERE regexp_extract(source, 'src(\d+)', 1)::INT >= 10),
            ca AS (SELECT token, count(*) AS n_a FROM a WHERE token <> ''
                   GROUP BY token),
            cb AS (SELECT token, count(*) AS n_b FROM b WHERE token <> ''
                   GROUP BY token),
            j AS (SELECT coalesce(ca.token, cb.token) AS token,
                         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
                  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
            t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
            s AS (SELECT token, n_a, n_b,
                         n_a::DOUBLE / ta AS fa, n_b::DOUBLE / tb AS fb
                  FROM j, t)
            SELECT token, n_a, n_b,
                   floor(fa * 1000000 + 0.5) / 1000000 AS freq_a,
                   floor(fb * 1000000 + 0.5) / 1000000 AS freq_b,
                   floor((fa - fb) * 1000000 + 0.5) / 1000000 AS freq_diff,
                   floor((fa - fb) * (fa - fb) / (fa + fb) * 100000000 + 0.5)
                       / 100000000 AS chi2_term
            FROM s ORDER BY abs(fa - fb) DESC, token LIMIT 50""",
        "dedup_exact_priority": """
            WITH d AS (
              SELECT doc_id, source, md5(text) AS sig,
                     CASE source WHEN 'src3' THEN 0 WHEN 'src7' THEN 1
                          ELSE 2147483647 END AS r
              FROM documents),
            g AS (SELECT sig, count(*) AS n_copies FROM d GROUP BY sig),
            w AS (SELECT *, row_number() OVER (
                      PARTITION BY sig ORDER BY r, doc_id, source) AS rn
                  FROM d)
            SELECT w.doc_id, w.source, w.sig, g.n_copies
            FROM w JOIN g USING (sig) WHERE rn = 1 ORDER BY w.doc_id""",
        "dedup_normalized": r"""
            WITH n AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                         '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS sig
              FROM documents)
            SELECT min(doc_id) AS doc_id, sig, count(*) AS n_copies
            FROM n GROUP BY sig ORDER BY doc_id""",
        "frequent_sequences": """
            WITH ordered AS (
              SELECT user_id, event_type, row_number() OVER (
                  PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events),
            trig AS (
              SELECT a.user_id,
                     a.event_type || '>' || b.event_type || '>' || c.event_type
                         AS pattern
              FROM ordered a
              JOIN ordered b ON b.user_id = a.user_id AND b.rn = a.rn + 1
              JOIN ordered c ON c.user_id = a.user_id AND c.rn = a.rn + 2),
            d AS (SELECT DISTINCT user_id, pattern FROM trig)
            SELECT pattern, count(*) AS n_users FROM d GROUP BY pattern
            HAVING count(*) >= 20 ORDER BY n_users DESC, pattern""",
        "scd2_snapshot_diff": """
            WITH ch AS (
              SELECT user_id, floor(value * 1000000 + 0.5) / 1000000 AS attr, ts
              FROM events WHERE event_type = 'purchase'),
            old AS (SELECT user_id, attr AS old_attr FROM (
                SELECT user_id, attr, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, attr DESC) AS rn
                FROM ch WHERE ts < '2024-01-16') WHERE rn = 1),
            new AS (SELECT user_id, attr AS new_attr FROM (
                SELECT user_id, attr, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts DESC, attr DESC) AS rn
                FROM ch) WHERE rn = 1)
            SELECT coalesce(old.user_id, new.user_id) AS key,
                   old_attr, new_attr,
                   CASE WHEN old_attr IS NULL THEN 'added'
                        WHEN new_attr IS NULL THEN 'removed'
                        ELSE 'changed' END AS change_type
            FROM old FULL OUTER JOIN new ON old.user_id = new.user_id
            WHERE old_attr IS NULL OR new_attr IS NULL OR old_attr <> new_attr
            ORDER BY key""",
        "data_quality_events": """
            WITH t AS (SELECT count(*) AS n FROM events),
            v AS (
              SELECT 'event_type_known' AS rule,
                     sum(CASE WHEN event_type IS NULL OR event_type NOT IN
                         ('view','click','purchase','signup','error')
                         THEN 1 ELSE 0 END) AS viol FROM events
              UNION ALL
              SELECT 'ts_in_range',
                     sum(CASE WHEN ts IS NULL OR ts < '2024-01-01'
                         OR ts >= '2024-03-01' THEN 1 ELSE 0 END) FROM events
              UNION ALL
              SELECT 'user_id_not_null',
                     sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) FROM events
              UNION ALL
              SELECT 'value_positive',
                     sum(CASE WHEN value IS NULL OR value <= 0
                         THEN 1 ELSE 0 END) FROM events
              UNION ALL
              SELECT 'unique_event_id',
                     count(event_id) - count(DISTINCT event_id) FROM events)
            SELECT rule, t.n AS n_rows, viol AS n_violations,
                   floor((t.n - viol)::DOUBLE / t.n * 1000000 + 0.5) / 1000000
                       AS pass_rate,
                   ((t.n - viol)::DOUBLE / t.n) >= 1.0 AS passed
            FROM v, t ORDER BY rule""",
        "funnel_windowed": """
            WITH v AS (SELECT user_id, min(ts) AS t FROM events
                       WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN v ON e.user_id = v.user_id
                  WHERE e.event_type = 'click' AND e.ts > v.t
                    AND e.ts <= v.t + INTERVAL 24 HOUR GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN c ON e.user_id = c.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.t
                    AND e.ts <= c.t + INTERVAL 24 HOUR GROUP BY 1)
            SELECT * FROM (VALUES
              ('view', 1, (SELECT count(*) FROM v)),
              ('click', 2, (SELECT count(*) FROM c)),
              ('purchase', 3, (SELECT count(*) FROM p))) t(stage, stage_idx, n_users)""",
        "event_transitions": """
            WITH pairs AS (
              SELECT lag(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS from_type,
                     event_type AS to_type
              FROM events),
            c AS (SELECT from_type, to_type, count(*) AS n FROM pairs
                  WHERE from_type IS NOT NULL GROUP BY 1, 2)
            SELECT from_type, to_type, n,
                   floor(n::DOUBLE / sum(n) OVER (PARTITION BY from_type)
                         * 1000000 + 0.5) / 1000000 AS share_from
            FROM c ORDER BY from_type, to_type""",
        "event_pattern_match": """
            WITH sym AS (
              SELECT user_id, ts, event_id,
                     CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                          WHEN 'error' THEN 'e' ELSE 'x' END AS s
              FROM events),
            agg AS (
              SELECT user_id, count(*) AS n_events,
                     string_agg(s, '' ORDER BY ts, event_id) AS symstr
              FROM sym GROUP BY user_id)
            SELECT user_id, n_events,
                   len(regexp_extract_all(symstr, 'vc+p'))::INT AS n_matches,
                   strpos(symstr, regexp_extract(symstr, 'vc+p'))::INT AS first_match_pos
            FROM agg
            WHERE len(regexp_extract_all(symstr, 'vc+p')) > 0
            ORDER BY user_id""",
        "rank_profile_orders": """
            WITH r AS (
              SELECT o_orderpriority,
                     ntile(4) OVER w AS tile,
                     percent_rank() OVER w AS pr,
                     cume_dist() OVER w AS cd
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey))
            SELECT o_orderpriority, tile::INT AS tile, count(*) AS n,
                   floor(min(pr) * 1000000 + 0.5) / 1000000 AS pr_lo,
                   floor(max(pr) * 1000000 + 0.5) / 1000000 AS pr_hi,
                   floor(max(cd) * 1000000 + 0.5) / 1000000 AS cd_hi
            FROM r GROUP BY o_orderpriority, tile
            ORDER BY o_orderpriority, tile""",
        "time_weighted_avg": """
            WITH d AS (
              SELECT user_id, value,
                     (epoch_us(lead(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))
                      - epoch_us(ts)) / 1000000.0 AS dur
              FROM events)
            SELECT user_id, count(*) AS n_events,
                   floor(sum(value * dur) / sum(dur) * 10000 + 0.5) / 10000 AS twap
            FROM d GROUP BY user_id ORDER BY user_id""",
        "integrity_audit": """
            SELECT * FROM (
              SELECT 'lineitem.l_orderkey->orders' AS relationship,
                     (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
              UNION ALL
              SELECT 'orders.o_custkey->customer',
                     (SELECT count(*) FROM orders o WHERE NOT EXISTS
                       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
              UNION ALL
              SELECT 'customer.c_nationkey->nation',
                     (SELECT count(*) FROM customer c WHERE NOT EXISTS
                       (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
              UNION ALL
              SELECT 'supplier.s_nationkey->nation',
                     (SELECT count(*) FROM supplier s WHERE NOT EXISTS
                       (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
              UNION ALL
              SELECT 'lineitem.l_suppkey->supplier',
                     (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                       (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)))
            ORDER BY relationship""",
        "value_histogram": """
            WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
            binned AS (
              SELECT least(floor((value - lo) / (hi - lo) * 20) + 1, 20) AS bin,
                     lo, hi
              FROM events, b)
            SELECT bin::INT AS bin,
                   floor((lo + (bin - 1) * (hi - lo) / 20) * 1000000 + 0.5) / 1000000 AS lo,
                   floor((lo + bin * (hi - lo) / 20) * 1000000 + 0.5) / 1000000 AS hi,
                   count(*) AS n
            FROM binned GROUP BY bin, lo, hi ORDER BY bin""",
        "fuzzy_part_names": """
            WITH p AS (SELECT p_partkey AS id, p_name AS n FROM part),
            toks AS (SELECT DISTINCT id, unnest(string_split(n, ' ')) AS tok
                     FROM p),
            pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                      FROM toks a JOIN toks b
                        ON a.tok = b.tok AND a.id < b.id),
            lv AS (SELECT id_a, id_b, pa.n AS name_a, pb.n AS name_b,
                          levenshtein(pa.n, pb.n)::INT AS dist
                   FROM pairs JOIN p pa ON pa.id = id_a
                              JOIN p pb ON pb.id = id_b)
            SELECT * FROM lv WHERE dist <= 2 ORDER BY id_a, id_b""",
        "fuzzy_part_names_qgram": """
            -- the FULL quadratic join: the Spark side must find every pair
            -- (prefix-filter completeness), so no blocking appears here
            WITH p AS (SELECT p_partkey AS id, p_name AS n FROM part)
            SELECT a.id AS id_a, b.id AS id_b, a.n AS name_a, b.n AS name_b,
                   levenshtein(a.n, b.n)::INT AS dist
            FROM p a JOIN p b ON a.id < b.id
            WHERE levenshtein(a.n, b.n) <= 2
            ORDER BY id_a, id_b""",
        "profile_orders": """
            WITH s AS (SELECT * FROM (VALUES
                ('o_orderkey', TRUE), ('o_custkey', TRUE),
                ('o_orderstatus', FALSE), ('o_totalprice', TRUE),
                ('o_orderpriority', FALSE)) v(col, is_num)),
            q AS (
              SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                     sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
                     count(DISTINCT o_orderkey) AS n_distinct,
                     floor(min(o_orderkey)::DOUBLE * 10000 + 0.5) / 10000 AS min_value,
                     floor(max(o_orderkey)::DOUBLE * 10000 + 0.5) / 10000 AS max_value,
                     floor(avg(o_orderkey::DOUBLE) * 10000 + 0.5) / 10000 AS mean_value,
                     floor(stddev_samp(o_orderkey::DOUBLE) * 10000 + 0.5) / 10000 AS stddev_value
              FROM orders
              UNION ALL
              SELECT 'o_custkey', count(*),
                     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                     count(DISTINCT o_custkey),
                     floor(min(o_custkey)::DOUBLE * 10000 + 0.5) / 10000,
                     floor(max(o_custkey)::DOUBLE * 10000 + 0.5) / 10000,
                     floor(avg(o_custkey::DOUBLE) * 10000 + 0.5) / 10000,
                     floor(stddev_samp(o_custkey::DOUBLE) * 10000 + 0.5) / 10000
              FROM orders
              UNION ALL
              SELECT 'o_orderstatus', count(*),
                     sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
                     count(DISTINCT o_orderstatus), NULL, NULL, NULL, NULL
              FROM orders
              UNION ALL
              SELECT 'o_totalprice', count(*),
                     sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
                     count(DISTINCT o_totalprice),
                     floor(min(o_totalprice)::DOUBLE * 10000 + 0.5) / 10000,
                     floor(max(o_totalprice)::DOUBLE * 10000 + 0.5) / 10000,
                     floor(avg(o_totalprice::DOUBLE) * 10000 + 0.5) / 10000,
                     floor(stddev_samp(o_totalprice::DOUBLE) * 10000 + 0.5) / 10000
              FROM orders
              UNION ALL
              SELECT 'o_orderpriority', count(*),
                     sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
                     count(DISTINCT o_orderpriority), NULL, NULL, NULL, NULL
              FROM orders)
            SELECT * FROM q ORDER BY col_name""",
        "rolling_active_users": """
            WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
            ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS ed FROM events)
            SELECT strftime(d, '%Y-%m-%d') AS day,
                   count(DISTINCT user_id) AS n_active
            FROM days JOIN ud ON ed BETWEEN d - INTERVAL 6 DAY AND d
            GROUP BY d ORDER BY day""",
        "multi_touch_attribution": """
            WITH p AS (SELECT user_id, event_id AS pid, ts AS pts, value
                       FROM events WHERE event_type = 'purchase'),
            c AS (SELECT user_id AS cuser, ts AS cts FROM events
                  WHERE event_type = 'click'),
            j AS (SELECT p.pid, p.value, c.cts
                  FROM p LEFT JOIN c ON c.cuser = p.user_id
                         AND c.cts <= p.pts
                         AND c.cts >= p.pts - INTERVAL 24 HOURS),
            t AS (SELECT pid, value, cts,
                         count(cts) OVER (PARTITION BY pid) AS nt FROM j),
            s AS (SELECT coalesce(strftime(date_trunc('day', cts), '%Y-%m-%d'),
                                  'organic') AS attrib_day,
                         CASE WHEN nt > 0 THEN value / nt ELSE value END AS share
                  FROM t)
            SELECT attrib_day, count(*) AS n_touches,
                   floor(sum(share) * 10000 + 0.5) / 10000 AS revenue_share
            FROM s GROUP BY 1 ORDER BY attrib_day""",
        "purchase_attribution": """
            WITH p AS (SELECT user_id, ts AS pt, value FROM events
                       WHERE event_type = 'purchase'),
            c AS (SELECT user_id, ts AS ct FROM events WHERE event_type = 'click'),
            m AS (SELECT p.user_id, pt, value,
                         (SELECT max(ct) FROM c
                          WHERE c.user_id = p.user_id AND ct <= pt) AS mct
                  FROM p)
            SELECT coalesce(strftime(date_trunc('day', mct), '%Y-%m-%d'),
                            'organic') AS attrib_day,
                   count(*) AS n_purchases,
                   floor(sum(value) * 10000 + 0.5) / 10000 AS revenue
            FROM m GROUP BY 1 ORDER BY attrib_day""",
        "scd2_user_value": """
            WITH ch AS (
              SELECT user_id, floor(value * 1000000 + 0.5) / 1000000 AS attr_val, ts
              FROM events WHERE event_type = 'purchase')
            SELECT user_id, attr_val,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
                   strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, attr_val),
                            '%Y-%m-%d %H:%M:%S') AS valid_to
            FROM ch ORDER BY user_id, valid_from, attr_val""",
        "heavy_hitters_tokens": r"""
            WITH toks AS (
              SELECT unnest(regexp_split_to_array(text, '\s+')) AS item
              FROM documents),
            t2 AS (SELECT item FROM toks WHERE item <> ''),
            tot AS (SELECT count(*) AS t FROM t2)
            SELECT item, count(*) AS n,
                   floor(count(*)::DOUBLE / tot.t * 1000000 + 0.5) / 1000000 AS share
            FROM t2, tot GROUP BY item, tot.t
            HAVING count(*) >= tot.t * 0.02
            ORDER BY n DESC, item""",
        "cohort_retention": """
            WITH first AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
                           FROM events GROUP BY 1),
            act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events)
            SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
                   ((epoch(aw) - epoch(cw)) / 604800)::INT AS week_offset,
                   count(DISTINCT a.user_id) AS n_users
            FROM act a JOIN first f USING (user_id)
            GROUP BY cw, week_offset
            ORDER BY cohort_week, week_offset""",
        "dedup_incremental": _INCREMENTAL_EXACT_ORACLE,
        # The Bloom path must return EXACTLY the exact path's rows (false
        # positives are rejected by the residual anti-join) — same oracle.
        "dedup_incremental_bloom": _INCREMENTAL_EXACT_ORACLE,
        "segment_dedup": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(0, greatest(ceil(len(t) / 20.0)::BIGINT, 1) - 1)) AS i
                    -- NULL text -> zero segments on both engines (r8)
                    FROM toks WHERE t IS NOT NULL),
            segs AS (SELECT doc_id, i AS seg_idx,
                            array_to_string(t[i*20+1 : i*20+20], ' ') AS segment
                     FROM pos),
            keepd AS (SELECT doc_id, seg_idx,
                             row_number() OVER (PARTITION BY md5(segment)
                                                ORDER BY doc_id, seg_idx) AS rn
                      FROM segs),
            kept AS (SELECT s.doc_id,
                            string_agg(s.segment, ' ' ORDER BY s.seg_idx) AS text,
                            count(*) AS n_kept
                     FROM segs s JOIN keepd k ON k.doc_id = s.doc_id AND k.seg_idx = s.seg_idx
                     WHERE k.rn = 1 GROUP BY s.doc_id)
            SELECT t.doc_id, coalesce(k.text, '') AS text,
                   CASE WHEN t.t IS NULL THEN 0 ELSE
                     greatest(ceil(len(t.t) / 20.0)::BIGINT, 1) END::INT
                     AS n_segments,
                   coalesce(k.n_kept, 0)::INT AS n_kept
            FROM toks t LEFT JOIN kept k USING (doc_id)""",
        "semantic_dedup": _semdedup_oracle(
            "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
            0.9, "vec_id"),
        "user_event_sequences": """
            WITH ordered AS (
              SELECT user_id, ts, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events)
            SELECT user_id, count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
                   string_agg(CASE WHEN rn <= 50 THEN event_type END, ','
                              ORDER BY ts, event_id) AS seq_types
            FROM ordered GROUP BY user_id ORDER BY user_id""",
        "dedup_minhash_lsh": _minhash_oracle(),
        "minhash_recall": _minhash_recall_oracle(),
        "dedup_incremental_minhash": _minhash_incremental_oracle(),
        "dedup_simhash": _simhash_oracle(),
        "sim_bruteforce_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                floor(list_dot_product(q.v, c.v) /
                      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) * 1000000 + 0.5) / 1000000 AS cosine
              FROM q, e c WHERE c.vec_id <> q.vec_id),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored)
            SELECT query_id, neighbor_id, rank::INT AS rank, cosine FROM r WHERE rank <= 5""",
        "sim_lsh_ann": _lsh_ann_oracle(),
        # PQ replay: codebooks are the vec_id<16 subvectors, subspace
        # distances are list_dot_product over the elementwise diff (the
        # same left-to-right float64 accumulation as the Arrow kernel),
        # fixed to integer micro-units BEFORE argmin/sum — integer sums
        # are order-independent, so codes, ADC totals, and ranks match
        # the engine bit-for-bit.
        "sim_pq_ann": """
            WITH dims AS (SELECT unnest(generate_series(0, 7)) AS s),
            sub AS (
              SELECT vec_id, s,
                     (embedding::DOUBLE[])[8*s + 1 : 8*s + 8] AS v
              FROM embeddings CROSS JOIN dims),
            seedsub AS (SELECT vec_id AS code, s, v AS cv FROM sub WHERE vec_id < 16),
            dists AS (
              SELECT a.vec_id, a.s, c.code,
                     floor(list_dot_product(
                       list_transform(range(1, 9), i -> a.v[i] - c.cv[i]),
                       list_transform(range(1, 9), i -> a.v[i] - c.cv[i])
                     ) * 1000000 + 0.5)::BIGINT AS dm
              FROM sub a JOIN seedsub c USING (s)),
            codes AS (
              SELECT vec_id AS neighbor_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY dm, code) AS rn
                FROM dists) WHERE rn = 1),
            lut AS (SELECT vec_id AS query_id, s, code, dm
                    FROM dists WHERE vec_id < 10),
            adc AS (
              SELECT l.query_id, c.neighbor_id, sum(l.dm)::BIGINT AS adc_micro
              FROM codes c JOIN lut l USING (s, code)
              WHERE c.neighbor_id <> l.query_id
              GROUP BY 1, 2)
            SELECT query_id, neighbor_id, rank::INT AS rank, adc_micro FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc_micro, neighbor_id) AS rank
              FROM adc) WHERE rank <= 5""",
        # IVF-PQ replay: four deterministic stages — (1) every vector's
        # coarse cell by full-dim micro-unit L2 argmin; (2) residual
        # codebooks from the vec_id 16-31 residuals; (3) each query's 4
        # probed cells + per-cell residual LUT; (4) ADC = sum of LUT
        # entries at the neighbor's codes, ranked per query.  Integer
        # micro-units before every argmin/sum keep all four stages
        # order-independent and bit-identical to the engine.
        "sim_ivfpq_ann": """
            WITH dims AS (SELECT unnest(generate_series(0, 7)) AS s),
            e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            cd AS (
              SELECT e.vec_id, c.cid,
                     floor(list_dot_product(
                       list_transform(range(1, 65), i -> e.v[i] - c.cv[i]),
                       list_transform(range(1, 65), i -> e.v[i] - c.cv[i])
                     ) * 1000000 + 0.5)::BIGINT AS dm
              FROM e CROSS JOIN cent c),
            assign AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dm, cid) AS rn
                FROM cd) WHERE rn = 1),
            resid AS (
              SELECT e.vec_id, a.cell,
                     list_transform(range(1, 65), i -> e.v[i] - c.cv[i]) AS rv
              FROM e JOIN assign a USING (vec_id)
                   JOIN cent c ON c.cid = a.cell),
            cb AS (
              SELECT vec_id - 16 AS code, s, rv[8*s + 1 : 8*s + 8] AS cv
              FROM resid CROSS JOIN dims
              WHERE vec_id >= 16 AND vec_id < 32),
            rsub AS (
              SELECT vec_id, cell, s, rv[8*s + 1 : 8*s + 8] AS v
              FROM resid CROSS JOIN dims),
            rd AS (
              SELECT r.vec_id, r.s, b.code,
                     floor(list_dot_product(
                       list_transform(range(1, 9), i -> r.v[i] - b.cv[i]),
                       list_transform(range(1, 9), i -> r.v[i] - b.cv[i])
                     ) * 1000000 + 0.5)::BIGINT AS dm
              FROM rsub r JOIN cb b USING (s)),
            codes AS (
              SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY dm, code) AS rn
                FROM rd) WHERE rn = 1),
            probes AS (
              SELECT vec_id AS query_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dm, cid) AS rn
                FROM cd WHERE vec_id < 10) WHERE rn <= 4),
            qrs AS (
              SELECT p.query_id, p.cell, d.s,
                     list_transform(range(8*d.s + 1, 8*d.s + 9),
                                    i -> e.v[i] - c.cv[i]) AS v
              FROM probes p JOIN e ON e.vec_id = p.query_id
                   JOIN cent c ON c.cid = p.cell
                   CROSS JOIN dims d),
            lut AS (
              SELECT q.query_id, q.cell, q.s, b.code,
                     floor(list_dot_product(
                       list_transform(range(1, 9), i -> q.v[i] - b.cv[i]),
                       list_transform(range(1, 9), i -> q.v[i] - b.cv[i])
                     ) * 1000000 + 0.5)::BIGINT AS dm
              FROM qrs q JOIN cb b USING (s)),
            adc AS (
              SELECT l.query_id, a.vec_id AS neighbor_id,
                     sum(l.dm)::BIGINT AS adc_micro
              FROM assign a
                JOIN codes k ON k.vec_id = a.vec_id
                JOIN lut l ON l.cell = a.cell AND l.s = k.s AND l.code = k.code
              WHERE a.vec_id <> l.query_id
              GROUP BY 1, 2)
            SELECT query_id, neighbor_id, rank::INT AS rank, adc_micro FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc_micro, neighbor_id) AS rank
              FROM adc) WHERE rank <= 5""",
        "sim_pq_trained": _pq_trained_oracle(iters=3, m=8, kc=16,
                                             topk=5, n_queries=10),
        "sim_pq_trained_kc256": _pq_trained_oracle(iters=2, m=8, kc=256,
                                                   topk=5, n_queries=10),
        "sim_ivfpq_trained": _ivfpq_trained_oracle(iters_c=2, iters_pq=2),
        "ann_recall": _ann_recall_oracle(),
        "ann_recall_trained": _ann_recall_trained_oracle(),
        "embedding_pca": _pca_oracle(iters=8, dim=64),
        # grid-free replay of the analytic-tail decomposition (r8): the
        # absent-token smoothing mass per source is
        # p0 * ((V - V_s) * ln p0 - (lnq_all - lnq_present)) — identical
        # parenthesization to the engine, so qround'd doubles twin
        "source_unigram_kl": _source_kl_oracle(),
        # same exact-KL replay + the streaming estimator's contract
        # booleans pinned true (self-verifying-oracle discipline)
        "source_kl_state_bound": _source_kl_oracle(bounds=True),
        "text_repetition_chars": _repetition_chars_oracle(),
        "bpe_learn": _bpe_oracle(n_merges=12),
        "bpe_encode": _bpe_encode_oracle(n_merges=12),
        # the ranked encoder is value-identical to the chain by
        # construction (pytest-pinned), so it replays the same SQL
        "bpe_encode_ranked": _bpe_encode_oracle(n_merges=12),
        "cluster_balanced_sample": _cluster_balanced_oracle(),
        "dsir_sample": """
            WITH tk AS (
              SELECT doc_id, source,
                     string_split(text, ' ') AS t0,
                     list_filter(string_split(text, ' '), x -> x <> '') AS t
              FROM documents WHERE text IS NOT NULL),
            gr AS (
              SELECT doc_id, source, unnest(t) AS g FROM tk
              UNION ALL
              SELECT doc_id, source,
                     unnest(CASE WHEN len(t0) >= 2
                       THEN [array_to_string(t0[i:i+1], ' ')
                             for i in range(1, len(t0))]
                       ELSE [array_to_string(t0, ' ')] END) AS g
              FROM tk),
            bk AS (SELECT doc_id, source,
                          (('0x' || substr(md5(g), 1, 15))::BIGINT % 1024)
                            AS b
                   FROM gr),
            raw AS (SELECT b, count(*) AS rc FROM bk GROUP BY b),
            tgt AS (SELECT b, count(*) AS tc FROM bk
                    WHERE source = 'src0' GROUP BY b),
            rt AS (SELECT sum(rc) AS rT FROM raw),
            tt AS (SELECT coalesce(sum(tc), 0) AS tT FROM tgt),
            dc AS (SELECT doc_id, b, count(*) AS cnt
                   FROM bk GROUP BY doc_id, b),
            sc AS (SELECT dc.doc_id,
                          sum(dc.cnt
                              * (ln((coalesce(tgt.tc, 0) + 0.5)
                                    / (tt.tT + 0.5 * 1024))
                                 - ln((raw.rc + 0.5)
                                      / (rt.rT + 0.5 * 1024)))) AS lw
                   FROM dc JOIN raw USING (b) LEFT JOIN tgt USING (b)
                        CROSS JOIN rt CROSS JOIN tt
                   GROUP BY dc.doc_id),
            w AS (SELECT d.doc_id, coalesce(sc.lw, 0.0) AS lw
                  FROM documents d LEFT JOIN sc USING (doc_id)),
            key AS (SELECT doc_id,
                           floor(lw * 1000000 + 0.5) / 1000000
                             AS log_weight,
                           floor((lw - ln(-ln(
                               ((('0x' || substr(md5(doc_id::VARCHAR
                                   || '|dsir'), 1, 15))::BIGINT % 1000000)
                                + 0.5) / 1000000.0)))
                             * 1000000 + 0.5) / 1000000 AS gumbel_key
                    FROM w)
            SELECT doc_id, log_weight, gumbel_key FROM key
            ORDER BY gumbel_key DESC, doc_id LIMIT 50""",
        # Naive-Bayes replay: tokenize -> per-token class counts ->
        # TakeOrdered vocab cap -> Laplace cell log-ratios (+ one OOV
        # bucket) -> per-doc sum + smoothed doc-count prior
        "quality_classifier": """
            WITH tk AS (
              SELECT doc_id, (source = 'src0') AS s,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS t
              FROM documents WHERE text IS NOT NULL),
            pt AS (SELECT t, sum(CASE WHEN s THEN 1 ELSE 0 END) AS cp,
                          count(*) AS ca
                   FROM tk GROUP BY t),
            model AS (SELECT * FROM pt ORDER BY ca DESC, t LIMIT 1000),
            vs AS (SELECT count(*) AS V, coalesce(sum(cp), 0) AS vp,
                          coalesce(sum(ca), 0) AS va FROM model),
            tt AS (SELECT coalesce(sum(CASE WHEN s THEN 1 ELSE 0 END), 0)
                            AS Tp,
                          count(*) AS Ta FROM tk),
            pr AS (SELECT sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                            AS np,
                          count(*) AS nd FROM documents),
            dc AS (SELECT doc_id, t, count(*) AS cnt
                   FROM tk GROUP BY doc_id, t),
            sc AS (SELECT dc.doc_id,
                          sum(dc.cnt * (CASE WHEN m.ca IS NOT NULL
                            THEN ln((m.cp + 0.5)
                                    / (tt.Tp + 0.5 * (vs.V + 1)))
                               - ln(((m.ca - m.cp) + 0.5)
                                    / ((tt.Ta - tt.Tp)
                                       + 0.5 * (vs.V + 1)))
                            ELSE ln(((tt.Tp - vs.vp) + 0.5)
                                    / (tt.Tp + 0.5 * (vs.V + 1)))
                               - ln((((tt.Ta - vs.va) - (tt.Tp - vs.vp))
                                     + 0.5)
                                    / ((tt.Ta - tt.Tp)
                                       + 0.5 * (vs.V + 1))) END)) AS s,
                          sum(dc.cnt) AS n_tokens
                   FROM dc LEFT JOIN model m USING (t)
                        CROSS JOIN vs CROSS JOIN tt
                   GROUP BY dc.doc_id)
            SELECT d.doc_id,
                   coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
                   floor((ln((pr.np + 0.5) / ((pr.nd - pr.np) + 0.5))
                          + coalesce(sc.s, 0.0)) * 1000000 + 0.5)
                     / 1000000 AS llr,
                   (floor((ln((pr.np + 0.5) / ((pr.nd - pr.np) + 0.5))
                           + coalesce(sc.s, 0.0)) * 1000000 + 0.5)
                      / 1000000 > 0.0)::INT AS keep
            FROM documents d LEFT JOIN sc USING (doc_id) CROSS JOIN pr""",
        # same NB scoring replay, then the threshold sweep closed in SQL
        "quality_calibration": """
            WITH tk AS (
              SELECT doc_id, (source = 'src0') AS s,
                     unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS t
              FROM documents WHERE text IS NOT NULL),
            pt AS (SELECT t, sum(CASE WHEN s THEN 1 ELSE 0 END) AS cp,
                          count(*) AS ca
                   FROM tk GROUP BY t),
            model AS (SELECT * FROM pt ORDER BY ca DESC, t LIMIT 1000),
            vs AS (SELECT count(*) AS V, coalesce(sum(cp), 0) AS vp,
                          coalesce(sum(ca), 0) AS va FROM model),
            tt AS (SELECT coalesce(sum(CASE WHEN s THEN 1 ELSE 0 END), 0)
                            AS Tp,
                          count(*) AS Ta FROM tk),
            pr AS (SELECT sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                            AS np,
                          count(*) AS nd FROM documents),
            dc AS (SELECT doc_id, t, count(*) AS cnt
                   FROM tk GROUP BY doc_id, t),
            sc AS (SELECT dc.doc_id,
                          sum(dc.cnt * (CASE WHEN m.ca IS NOT NULL
                            THEN ln((m.cp + 0.5)
                                    / (tt.Tp + 0.5 * (vs.V + 1)))
                               - ln(((m.ca - m.cp) + 0.5)
                                    / ((tt.Ta - tt.Tp)
                                       + 0.5 * (vs.V + 1)))
                            ELSE ln(((tt.Tp - vs.vp) + 0.5)
                                    / (tt.Tp + 0.5 * (vs.V + 1)))
                               - ln((((tt.Ta - vs.va) - (tt.Tp - vs.vp))
                                     + 0.5)
                                    / ((tt.Ta - tt.Tp)
                                       + 0.5 * (vs.V + 1))) END)) AS s
                   FROM dc LEFT JOIN model m USING (t)
                        CROSS JOIN vs CROSS JOIN tt
                   GROUP BY dc.doc_id),
            llrs AS (
              SELECT d.doc_id,
                     floor((ln((pr.np + 0.5) / ((pr.nd - pr.np) + 0.5))
                            + coalesce(sc.s, 0.0)) * 1000000 + 0.5)
                       / 1000000 AS llr,
                     CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END
                       AS label
              FROM documents d LEFT JOIN sc USING (doc_id) CROSS JOIN pr),
            ths AS (SELECT unnest([-2.0, -1.0, 0.0, 1.0, 2.0]) AS t),
            agg AS (
              SELECT t, count(*) AS n_docs,
                     sum(CASE WHEN llr > t THEN 1 ELSE 0 END) AS n_kept,
                     sum(CASE WHEN llr > t AND label = 1 THEN 1 ELSE 0 END)
                       AS tp,
                     sum(label) AS n_seed
              FROM llrs CROSS JOIN ths GROUP BY t)
            SELECT floor(t * 1000000 + 0.5) / 1000000 AS threshold,
                   n_docs::BIGINT AS n_docs, n_kept::BIGINT AS n_kept,
                   tp::BIGINT AS tp, n_seed::BIGINT AS n_seed,
                   floor(n_kept / n_docs::DOUBLE * 1000000 + 0.5)
                     / 1000000 AS kept_frac,
                   CASE WHEN n_kept > 0
                        THEN floor(tp / n_kept::DOUBLE * 1000000 + 0.5)
                               / 1000000 END AS "precision",
                   CASE WHEN n_seed > 0
                        THEN floor(tp / n_seed::DOUBLE * 1000000 + 0.5)
                               / 1000000 END AS recall,
                   CASE WHEN n_kept + n_seed > 0
                        THEN floor(2.0 * tp / (n_kept + n_seed)::DOUBLE
                                   * 1000000 + 0.5) / 1000000 END AS f1
            FROM agg ORDER BY threshold""",
        # deterministic 5-epoch funnel re-derived + trailing-window
        # stats replayed (epoch = doc_id%5; chained even -> %6 gates)
        "funnel_trend_report": """
            WITH per AS (
              SELECT doc_id % 5 AS epoch, count(*) AS n,
                     sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c2,
                     sum(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END) AS c6
              FROM documents GROUP BY 1),
            m AS (
              SELECT epoch AS epoch_id, 0 AS stage_idx, 'input' AS stage,
                     n AS n_in, n AS n_kept FROM per
              UNION ALL
              SELECT epoch, 1, 'even', n, c2 FROM per
              UNION ALL
              SELECT epoch, 2, 'six', c2, c6 FROM per),
            r AS (SELECT *, CASE WHEN n_in > 0
                                 THEN n_kept::DOUBLE / n_in END AS rate
                  FROM m),
            w AS (SELECT *,
                         avg(rate) OVER win AS tm,
                         stddev_samp(rate) OVER win AS ts,
                         count(rate) OVER win AS np
                  FROM r
                  WINDOW win AS (PARTITION BY stage_idx, stage
                                 ORDER BY epoch_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING))
            SELECT epoch_id::BIGINT AS epoch_id, stage_idx::INT AS stage_idx,
                   stage, n_in::BIGINT AS n_in, n_kept::BIGINT AS n_kept,
                   floor(rate * 1000000 + 0.5) / 1000000 AS rate,
                   floor(tm * 1000000 + 0.5) / 1000000 AS trailing_mean,
                   floor(ts * 1000000 + 0.5) / 1000000 AS trailing_std,
                   np::INT AS n_prior,
                   (np >= 2 AND rate IS NOT NULL AND tm IS NOT NULL
                    AND abs(rate - tm) > 1.0::DOUBLE * coalesce(ts, 0.0))
                     AS drift
            FROM w ORDER BY epoch_id, stage_idx""",
        # model-lifecycle roundtrip: booleans pinned, count re-derived
        "quality_model_roundtrip": """
            SELECT count(*)::BIGINT AS n_docs,
                   true AS tokens_match, true AS llr_match,
                   true AS keep_match
            FROM documents""",
        # unigram-LM tokenizer replays: vocab derivation in set SQL +
        # UNROLLED 16-position Viterbi DP (generated CTEs; argmin by the
        # operator's exact integer tie tuple), segment key adds the
        # backtrace walk
        "unigram_tokenize": _unigram_tokenize_oracle(),
        "unigram_segment": _unigram_segment_oracle(),
        "unigram_em_tokenize": _unigram_em_oracle(),
        "unigram_em_converge": _unigram_em_converge_oracle(rounds=2),
        "unigram_em_soft": _unigram_soft_oracle(alpha=0.5),
        "unigram_prune_tokenize": _unigram_prune_oracle(keep_ratio=0.6),
        "unigram_prune_loss": _unigram_prune_loss_oracle(keep_ratio=0.6),
        "unigram_to_size_tokenize": _unigram_to_size_oracle(
            target=40, shrink=0.6, rounds=2),
        "unigram_train_tokenize": _unigram_train_oracle(keep_ratio=0.6),
        # C4 bad-words gate: same lowercased list, list_contains filter
        "text_blocklist": """
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE len(list_filter(string_split(text, ' '),
                                             x -> x <> '')) END::BIGINT
                     AS n_tokens,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE len(list_filter(string_split(text, ' '),
                               x -> x <> '' AND list_contains(
                                 ['slow', 'drop', 'stale'], lower(x))))
                        END::BIGINT AS n_blocked,
                   CASE WHEN text IS NULL THEN NULL
                        WHEN len(list_filter(string_split(text, ' '),
                                             x -> x <> '')) = 0 THEN 0.0
                        ELSE floor(len(list_filter(string_split(text, ' '),
                               x -> x <> '' AND list_contains(
                                 ['slow', 'drop', 'stale'], lower(x))))
                             / len(list_filter(string_split(text, ' '),
                                               x -> x <> ''))
                             * 1000000 + 0.5) / 1000000 END
                     AS blocked_frac,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE (len(list_filter(string_split(text, ' '),
                               x -> x <> '' AND list_contains(
                                 ['slow', 'drop', 'stale'], lower(x))))
                              = 0)::INT END AS keep
            FROM documents""",
        # Lloyd replay + cosine-grid top-2 pivot for the silhouette
        "cluster_silhouette": _silhouette_oracle(),
        # FFD bin packing is sequential -> self-verifying booleans +
        # independently-derived aggregates (token counts are RAW
        # string_split sizes, the packing-family convention)
        "pack_bins": """
            SELECT sum(CASE WHEN len(string_split(text, ' ')) >= 1
                            THEN 1 ELSE 0 END)::BIGINT AS n_docs,
                   coalesce(sum(CASE WHEN text IS NOT NULL
                                THEN len(string_split(text, ' '))
                                ELSE 0 END), 0)::BIGINT AS total_tokens,
                   sum(CASE WHEN len(string_split(text, ' ')) > 256
                            THEN 1 ELSE 0 END)::BIGINT AS n_oversize,
                   true AS docs_conserved, true AS all_bins_fit,
                   true AS anyfit_bound_ok
            FROM documents""",
        # distinct-n + entropy via the one-pass ln T - sum(c ln c)/T
        # identity, gram families by list slicing
        "corpus_diversity": f"""
            {_diversity_gram_sql()},
            c AS (SELECT source, k, g, count(*) AS c
                  FROM g GROUP BY source, k, g)
            SELECT source, k::INT AS k, sum(c)::BIGINT AS n_grams,
                   count(*)::BIGINT AS n_distinct,
                   floor(count(*) / sum(c) * 1000000 + 0.5) / 1000000
                     AS distinct_ratio,
                   floor((ln(sum(c)) - sum(c * ln(c)) / sum(c))
                         * 1000000 + 0.5) / 1000000 AS entropy
            FROM c GROUP BY source, k""",
        # HLL++ sketch mode: exact columns re-derived, accuracy boolean
        # pinned (the rolling_active_users_hll discipline)
        "corpus_diversity_approx": f"""
            {_diversity_gram_sql()}
            SELECT source, k::INT AS k, count(*)::BIGINT AS n_grams,
                   count(DISTINCT g)::BIGINT AS n_distinct_exact,
                   true AS est_ok
            FROM g GROUP BY source, k""",
        # gate oracles composed into cumulative funnel counts
        "curation_funnel": f"""
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1,
                             GREATEST(len(t) - 7, 1))) AS g
                    FROM toks),
            grams AS (SELECT doc_id,
                             array_to_string(t[g : g + 7], ' ') AS gram
                      FROM pos),
            bench AS (SELECT DISTINCT gram FROM grams
                      WHERE doc_id % 50 = 0),
            contaminated AS (SELECT DISTINCT g.doc_id FROM grams g
                             JOIN bench b ON g.gram = b.gram),
            canon AS (SELECT min(doc_id) AS doc_id FROM documents
                      GROUP BY md5(text)),
            base AS (
              SELECT d.doc_id,
                     coalesce(l.predicted_lang = 'en', false) AS g1,
                     coalesce(q.quality_score >= 0.5, false) AS g2,
                     coalesce(r.keep, false) AS g3,
                     (d.doc_id NOT IN (SELECT doc_id FROM contaminated))
                       AS g4,
                     (d.doc_id IN (SELECT doc_id FROM canon)) AS g5,
                     ({_md5i("'split:' || d.doc_id::VARCHAR")} % 100 >= 10)
                       AS g6
              FROM documents d
              LEFT JOIN ({_lang_id_oracle()}) l ON l.doc_id = d.doc_id
              LEFT JOIN ({_quality_oracle()}) q ON q.doc_id = d.doc_id
              LEFT JOIN ({_repetition_oracle()}) r ON r.doc_id = d.doc_id),
            c AS (SELECT count(*) AS n0,
                         sum((g1)::INT) AS n1,
                         sum((g1 AND g2)::INT) AS n2,
                         sum((g1 AND g2 AND g3)::INT) AS n3,
                         sum((g1 AND g2 AND g3 AND g4)::INT) AS n4,
                         sum((g1 AND g2 AND g3 AND g4 AND g5)::INT) AS n5,
                         sum((g1 AND g2 AND g3 AND g4 AND g5 AND g6)::INT)
                           AS n6
                  FROM base)
            SELECT 0::INT AS stage_idx, 'input' AS stage,
                   n0::BIGINT AS n_in, n0::BIGINT AS n_kept,
                   0::BIGINT AS n_dropped FROM c
            UNION ALL SELECT 1, 'lang', n0, n1, n0 - n1 FROM c
            UNION ALL SELECT 2, 'quality', n1, n2, n1 - n2 FROM c
            UNION ALL SELECT 3, 'repetition', n2, n3, n2 - n3 FROM c
            UNION ALL SELECT 4, 'decontaminate', n3, n4, n3 - n4 FROM c
            UNION ALL SELECT 5, 'dedup_exact', n4, n5, n4 - n5 FROM c
            UNION ALL SELECT 6, 'split_train', n5, n6, n5 - n6 FROM c""",
        # quality + lang-id replays nested as subqueries, exact-dup
        # canonicals via a global digest window, aggregated by source
        "source_dataset_card": f"""
            WITH q AS (SELECT doc_id, n_tokens, quality_score
                       FROM ({_quality_oracle()})),
            l AS (SELECT doc_id, predicted_lang FROM ({_lang_id_oracle()})),
            d AS (SELECT doc_id,
                         (doc_id <> min(doc_id) OVER (
                             PARTITION BY md5(text)))::INT AS is_dup
                  FROM documents),
            j AS (SELECT s.doc_id, s.source, q.n_tokens, q.quality_score,
                         l.predicted_lang, d.is_dup
                  FROM documents s JOIN q USING (doc_id)
                       JOIN l USING (doc_id) JOIN d USING (doc_id))
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   floor(avg(quality_score) * 10000 + 0.5) / 10000
                     AS mean_quality,
                   floor(sum(CASE WHEN predicted_lang = 'en' THEN 1
                                  ELSE 0 END) / count(*) * 10000 + 0.5)
                     / 10000 AS lang_frac,
                   floor(sum(is_dup) / count(*) * 10000 + 0.5) / 10000
                     AS exact_dup_frac
            FROM j GROUP BY source ORDER BY source""",
        # learn-then-encode replay nested as a subquery, aggregated by
        # source with the same word counts the encode tokenized
        "bpe_fertility_by_source": f"""
            WITH enc AS (SELECT doc_id, n_tokens
                         FROM ({_bpe_encode_oracle(n_merges=12)})),
            w AS (SELECT doc_id, source,
                         len(list_filter(string_split(lower(text), ' '),
                                         t -> t <> '')) AS nw
                  FROM documents)
            SELECT source, sum(nw)::BIGINT AS n_words,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   floor(sum(n_tokens) / sum(nw) * 10000 + 0.5) / 10000
                     AS fertility
            FROM w JOIN enc USING (doc_id)
            GROUP BY source ORDER BY source""",
        "sim_ivf_ann": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            cos_all AS (
              SELECT e.vec_id, cid,
                     list_dot_product(e.v, cv)
                     / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))) AS cos
              FROM e CROSS JOIN cent),
            assign AS (SELECT vec_id, cid AS cluster FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM cos_all) WHERE rn = 1),
            probes AS (SELECT vec_id AS query_id, cid AS cluster FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
                FROM cos_all WHERE vec_id < 10) WHERE rn <= 4),
            cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                     FROM probes p JOIN assign a ON a.cluster = p.cluster
                     WHERE a.vec_id <> p.query_id),
            scored AS (
              SELECT query_id, neighbor_id,
                     floor(list_dot_product(q.v, c.v)
                           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                           * 1000000 + 0.5) / 1000000 AS cosine
              FROM cand JOIN e q ON q.vec_id = query_id JOIN e c ON c.vec_id = neighbor_id),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored)
            SELECT query_id, neighbor_id, rank::INT AS rank, cosine FROM r WHERE rank <= 5""",
        "sim_ivf_trained": _ivf_trained_oracle(iters=3, k=16, nprobe=4,
                                               topk=5, n_queries=10),
        "embedding_near_dup": _near_dup_oracle(),
        "text_lang_id": _lang_id_oracle(),
        "text_quality": _quality_oracle(),
        "text_token_count": r"""
            SELECT doc_id,
              len(regexp_split_to_array(text, '\s+'))::INT AS ws_tokens,
              len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::INT AS subword_pieces,
              (len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
               + list_sum(list_transform(string_split(text, ' '), x -> (length(x) // 6)::BIGINT)))::INT AS bpe_estimate
            FROM documents""",
        # NULL pin: list_prepend(0, NULL) is [0] in DuckDB, which would
        # hash NULL text to 0 while Spark's aggregate(NULL) stays NULL —
        # the NULL-corpus conformance tests cover this
        "text_fingerprint": f"""
            WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents)
            SELECT doc_id, md5(norm) AS fp_md5,
              CASE WHEN norm IS NULL THEN NULL ELSE
                list_reduce(
                  list_prepend(0::BIGINT,
                    list_transform(string_split(norm, ' '), x -> {_md5i('x')} % 1099511627776)),
                  (a, b) -> (a * 31 + b) % 1099511627776) END AS fp_rolling
            FROM n""",
        "text_repetition": _repetition_oracle(),
        "hash_embed": f"""
            WITH {_HASH_EMBED_CTE}
            SELECT doc_id,
                   array_to_string(list_transform(embedding,
                       x -> (floor(x * 1000000 + 0.5))::BIGINT::VARCHAR), ',') AS embedding_u
            FROM emb16""",
        "semantic_dedup_docs": _semdedup_oracle(
            f"{_HASH_EMBED_CTE},\n"
            "            e AS (SELECT doc_id AS vec_id, embedding AS v FROM emb16)",
            0.995, "doc_id"),
        "chunk_documents": """
            WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
                          FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(0,
                               greatest(ceil((len(t) - 8) / 24.0)::BIGINT, 1) - 1)) AS i
                    FROM toks WHERE t IS NOT NULL)
            SELECT doc_id, i::INT AS chunk_idx, (i * 24)::BIGINT AS start_token,
                   least(len(t) - i * 24, 32)::INT AS n_tokens,
                   coalesce(array_to_string(t[i*24+1 : i*24+32], ' '), '') AS chunk
            FROM pos""",
        "hard_negatives": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
                     c.label AS negative_label,
                     floor(list_dot_product(q.v, c.v) /
                           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                           * 1000000 + 0.5) / 1000000 AS cosine
              FROM q, e c WHERE c.vec_id <> q.vec_id AND c.label <> q.label),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY cosine DESC, negative_id) AS rank
                  FROM scored)
            SELECT query_id, negative_id, rank::INT AS rank, cosine, negative_label
            FROM r WHERE rank <= 5""",
        "ngram_novelty": f"""
            WITH toksn AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
                           FROM documents),
            gr AS (SELECT doc_id, list_distinct(list_transform(
                       [array_to_string(t[i:i+5], ' ')
                        for i in range(1, greatest(len(t) - 5, 1) + 1)],
                       x -> {_md5i('x')})) AS gs FROM toksn),
            train AS (SELECT DISTINCT unnest(gs) AS g FROM gr WHERE doc_id % 2 = 0),
            ev AS (SELECT doc_id, unnest(gs) AS g FROM gr WHERE doc_id % 2 = 1),
            seen AS (SELECT doc_id, count(*) AS n_seen FROM ev
                     WHERE g IN (SELECT g FROM train) GROUP BY 1),
            tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1)
            SELECT t.doc_id, t.n_grams, coalesce(s.n_seen, 0) AS n_seen,
                   floor((1 - coalesce(s.n_seen, 0) / t.n_grams) * 10000 + 0.5) / 10000 AS novelty
            FROM tot t LEFT JOIN seen s USING (doc_id)""",
        "text_readability": """
            WITH w AS (SELECT doc_id, text,
                              list_filter(string_split(lower(text), ' '), t -> t <> '') AS words
                       FROM documents),
            s AS (SELECT doc_id, len(words)::INT AS n_words,
                         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::INT AS n_sentences,
                         -- list_sum([]) is NULL in DuckDB while Spark's
                         -- aggregate over an empty array is 0; NULL text
                         -- (words IS NULL) must stay NULL on both
                         CASE WHEN words IS NULL THEN NULL ELSE
                           coalesce(list_sum(list_transform(words,
                             x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0)
                         END::BIGINT AS n_syllables
                  FROM w)
            SELECT doc_id, n_words, n_sentences, n_syllables,
                   CASE WHEN n_words > 0 THEN
                     floor((206.835 - 1.015 * (n_words / n_sentences)
                            - 84.6 * (n_syllables / greatest(n_words, 1))) * 10000 + 0.5) / 10000
                   END AS flesch
            FROM s""",
        "image_near_dup": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
            s AS (SELECT doc_id,
                         ((('0x' || substr(md5(text), 1, 16))::UBIGINT)
                          % 1152921504606846976)::BIGINT AS sig
                  FROM corpus)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sig, b.sig))::INT AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 6""",
        # the merge of (state, delta) partials must equal the from-scratch
        # rollup — the merge algebra's own correctness condition is the oracle
        "incremental_rollup_merge": """
            WITH g AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                              event_type, count(*) AS n,
                              floor(sum(value) * 100 + 0.5) / 100 AS sum_value
                       FROM events GROUP BY 1, 2)
            SELECT hour, event_type, n, sum_value,
                   floor(sum_value / n * 10000 + 0.5) / 10000 AS avg_value
            FROM g""",
        "event_anomalies": """
            WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
                            FROM events GROUP BY 1, 2),
            st AS (SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd
                   FROM hourly GROUP BY 1),
            z AS (SELECT h.event_type, h.h, h.n,
                         CASE WHEN sd > 0
                              THEN floor((h.n - mu) / sd * 10000 + 0.5) / 10000
                              ELSE 0.0 END AS zscore
                  FROM hourly h JOIN st USING (event_type))
            SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n, zscore,
                   abs(zscore) >= 3.0 AS is_anomaly
            FROM z ORDER BY event_type, hour""",
        "ngram_lm_score": """
            WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
                          FROM documents),
            pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2),
            bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM pos),
            cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
            cw AS (SELECT w1, sum(cb) AS cw FROM cb GROUP BY 1),
            v AS (SELECT count(DISTINCT tt) AS V FROM (SELECT unnest(t) AS tt FROM toks)),
            scored AS (SELECT b.doc_id,
                              log2((coalesce(cb.cb, 0) + 1)
                                   / (coalesce(cw.cw, 0) + v.V)) AS logp
                       FROM bi b
                       LEFT JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
                       LEFT JOIN cw ON cw.w1 = b.w1
                       CROSS JOIN v),
            agg AS (SELECT doc_id, count(*) AS n_bigrams,
                           floor(-avg(logp) * 10000 + 0.5) / 10000 AS lm_score
                    FROM scored GROUP BY 1)
            SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, a.lm_score
            FROM documents d LEFT JOIN agg a USING (doc_id)""",
        "source_reweight": """
            WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
                          FROM documents),
            pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2),
            bi AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM pos),
            cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
            cw AS (SELECT w1, sum(cb) AS cw FROM cb GROUP BY 1),
            v AS (SELECT count(DISTINCT tt) AS V FROM (SELECT unnest(t) AS tt FROM toks)),
            sc AS (SELECT b.doc_id,
                          log2((coalesce(cb.cb, 0) + 1)
                               / (coalesce(cw.cw, 0) + v.V)) AS logp
                   FROM bi b
                   LEFT JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
                   LEFT JOIN cw ON cw.w1 = b.w1
                   CROSS JOIN v),
            per_doc AS (SELECT doc_id,
                               floor(-avg(logp) * 10000 + 0.5) / 10000
                                 AS lm_score
                        FROM sc GROUP BY 1),
            joined AS (SELECT d.doc_id, d.source, p.lm_score
                       FROM documents d LEFT JOIN per_doc p USING (doc_id)),
            per_src AS (SELECT source, count(*) AS n_docs,
                               count(lm_score) AS n_scored,
                               floor(avg(lm_score) * 1000000 + 0.5)
                                 / 1000000 AS mean_lm_score
                        FROM joined GROUP BY source),
            ref AS (SELECT floor(avg(lm_score) * 1000000 + 0.5) / 1000000
                      AS r FROM joined),
            ex AS (SELECT source, n_docs, n_scored, mean_lm_score,
                          floor(greatest(mean_lm_score - ref.r, 0.0)
                                * 1000000 + 0.5) / 1000000 AS excess
                   FROM per_src CROSS JOIN ref),
            raw AS (SELECT *, exp(1.0 * excess) AS rw FROM ex),
            z AS (SELECT sum(rw) AS Z, count(*) AS k FROM raw)
            SELECT source, n_docs, n_scored, mean_lm_score, excess,
                   floor((0.8 * rw / z.Z + 0.2 / z.k) * 1000000 + 0.5)
                     / 1000000 AS weight
            FROM raw CROSS JOIN z ORDER BY source""",
        "source_reweight_converge": _source_reweight_converge_oracle(
            rounds=2, eta=1.0, smoothing=0.2, token_frac=0.5),
        "weighted_sample": """
            WITH r AS (SELECT doc_id, n_chars::DOUBLE AS weight,
                floor((-ln(((('0x' || substr(md5(CAST('wsample:' || doc_id::VARCHAR AS VARCHAR)), 1, 15))::BIGINT) + 1.0)
                           / 1152921504606846976.0)
                       / n_chars::DOUBLE) * 1e10 + 0.5) / 1e10 AS rank
                FROM documents WHERE n_chars > 0)
            SELECT doc_id, weight, rank FROM r
            ORDER BY rank ASC, doc_id ASC LIMIT 50""",
        "hybrid_search_rrf": _hybrid_rrf_oracle(),
        "bm25_search": """
            WITH toks AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
                          FROM documents),
            base AS (SELECT doc_id, len(t)::DOUBLE AS dl,
                            len(list_filter(t, x -> x = 'join'))::DOUBLE AS tf_0,
                            len(list_filter(t, x -> x = 'spark'))::DOUBLE AS tf_1,
                            len(list_filter(t, x -> x = 'window'))::DOUBLE AS tf_2
                     FROM toks),
            m AS (SELECT * FROM base WHERE tf_0 + tf_1 + tf_2 > 0),
            g AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS N,
                         (SELECT avg(len(t)) FROM toks) AS avgdl,
                         sum((tf_0 > 0)::INT)::DOUBLE AS df_0,
                         sum((tf_1 > 0)::INT)::DOUBLE AS df_1,
                         sum((tf_2 > 0)::INT)::DOUBLE AS df_2
                  FROM m),
            scored AS (SELECT doc_id,
                floor((  ln(1 + (N - df_0 + 0.5) / (df_0 + 0.5)) * tf_0 * 2.2 / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                       + ln(1 + (N - df_1 + 0.5) / (df_1 + 0.5)) * tf_1 * 2.2 / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                       + ln(1 + (N - df_2 + 0.5) / (df_2 + 0.5)) * tf_2 * 2.2 / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                      ) * 10000 + 0.5) / 10000 AS score,
                ((tf_0 > 0)::INT + (tf_1 > 0)::INT + (tf_2 > 0)::INT) AS matched_terms
                FROM m CROSS JOIN g)
            SELECT doc_id, score, matched_terms FROM scored
            ORDER BY score DESC, doc_id ASC LIMIT 20""",
        "corpus_pipeline_full": f"""
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, GREATEST(len(t) - 7, 1))) AS g
                    FROM toks),
            grams AS (SELECT doc_id, array_to_string(t[g : g + 7], ' ') AS gram
                      FROM pos),
            bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
            contaminated AS (SELECT DISTINCT g.doc_id FROM grams g
                             JOIN bench b ON g.gram = b.gram)
            SELECT d.doc_id, d.source, q.quality_score
            FROM documents d
            JOIN ({_lang_id_oracle()}) l ON l.doc_id = d.doc_id
            JOIN ({_quality_oracle()}) q ON q.doc_id = d.doc_id
            JOIN ({_repetition_oracle()}) r ON r.doc_id = d.doc_id AND r.keep
            WHERE l.predicted_lang = 'en' AND q.quality_score >= 0.5
              AND d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
              AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
              AND {_md5i("'split:' || d.doc_id::VARCHAR")} % 100 >= 10
            ORDER BY d.doc_id""",
        "corpus_to_batches": _corpus_to_batches_oracle(
            max_len=256, keep_ratio=0.6, wmax=16),
        "text_pii_redaction": r"""
            WITH pii AS (
              SELECT doc_id,
                     text || ' ' || source || '@example.com'
                          || ' ' || '10.0.' || (doc_id % 200)::VARCHAR || '.7'
                          || ' ' || '+1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS v
              FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(v, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_email,
                   len(regexp_extract_all(v, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INT AS n_ipv4,
                   len(regexp_extract_all(v, '\+\d[\d-]{7,}\d'))::INT AS n_phone,
                   regexp_replace(regexp_replace(regexp_replace(v,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                       '\+\d[\d-]{7,}\d', '<PHONE>', 'g') AS redacted
            FROM pii""",
        "train_val_split": f"""
            SELECT doc_id,
                   ({_md5i("'split:' || doc_id::VARCHAR")} % 100)::INT AS bucket,
                   CASE WHEN {_md5i("'split:' || doc_id::VARCHAR")} % 100 < 5 THEN 'val'
                        WHEN {_md5i("'split:' || doc_id::VARCHAR")} % 100 < 10 THEN 'test'
                        ELSE 'train' END AS split
            FROM documents""",
        "stratified_sample": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY {_md5i("'strat:' || doc_id::VARCHAR")}, doc_id) AS rn
              FROM documents)
            WHERE rn <= 10""",
        "corpus_mix": f"""
            WITH t AS (
              SELECT doc_id, source,
                     len(string_split(text, ' '))::BIGINT AS n_tokens,
                     CASE WHEN regexp_extract(source, '(\\d+)$', 1)::INT < 5
                          THEN 2.0 ELSE 1.0 END AS w,
                     {_md5i("'mix:' || doc_id::VARCHAR")} AS rk
              FROM documents),
            s AS (SELECT source, sum(n_tokens) AS src_tokens, any_value(w) AS w
                  FROM t GROUP BY source),
            g AS (SELECT sum(src_tokens) AS total, sum(w) AS wsum FROM s),
            c AS (SELECT doc_id, source, n_tokens, w,
                         sum(n_tokens) OVER (PARTITION BY source
                           ORDER BY rk, doc_id ROWS UNBOUNDED PRECEDING) AS cum
                  FROM t)
            -- 0.3/w/wsum forced to DOUBLE: DuckDB parses bare decimal
            -- literals as DECIMAL, whose arithmetic would diverge from
            -- Spark's IEEE-double chain
            SELECT doc_id, source, n_tokens FROM c, g
            WHERE (cum - n_tokens)
                  < 0.3::DOUBLE * g.total * c.w::DOUBLE / g.wsum::DOUBLE""",
        "tfidf_top_terms": """
            WITH tok AS (
              SELECT source,
                     unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS term
              FROM documents),
            tf AS (SELECT source, term, count(*)::BIGINT AS tf
                   FROM tok GROUP BY source, term),
            dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
            g AS (SELECT count(DISTINCT source)::BIGINT AS n_sources FROM tf),
            s AS (SELECT source, term, tf,
                         floor(tf * ln((n_sources + 1)::DOUBLE / (df + 1)::DOUBLE)
                               * 10000 + 0.5) / 10000 AS score
                  FROM tf JOIN dfq USING (term), g)
            SELECT source, term, tf, score FROM (
              SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY score DESC, term ASC) AS rn
              FROM s)
            WHERE rn <= 10""",
        "global_ids": """
            SELECT doc_id,
                   (row_number() OVER (ORDER BY doc_id) - 1)::BIGINT AS global_id
            FROM documents""",
        "corpus_shuffle": """
            WITH k AS (SELECT doc_id,
                              md5('shuffle:' || CAST(doc_id AS VARCHAR))
                                || '-' || lpad(CAST(doc_id AS VARCHAR), 20, '0')
                                AS key
                       FROM documents)
            SELECT doc_id,
                   (row_number() OVER (ORDER BY key) - 1)::BIGINT AS position,
                   ((row_number() OVER (ORDER BY key) - 1) % 8)::INT AS shard
            FROM k""",
        # Self-verifying sketch queries (VERDICT r6 task #1): the Spark side
        # emits the exact answer (SQL-checkable) plus booleans asserting the
        # sketch met its published accuracy guarantee; the oracle re-derives
        # the exact values and pins the booleans true.
        "approx_distinct_users": """
            SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
                   true AS within_tol
            FROM events GROUP BY event_type""",
        "approx_percentiles_value": """
            SELECT event_type, count(value)::BIGINT AS n_events,
                   true AS p50_ok, true AS p90_ok, true AS p99_ok
            FROM events GROUP BY event_type ORDER BY event_type""",
        # r7: the last five tolerance/UDF-only rows converted to the same
        # self-verifying shape — exact values in plain SQL, sketch/dual-
        # implementation guarantees as pinned-true booleans.
        "audience_overlap_kmv": """
            WITH f AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
              FROM events WHERE event_type IN ('view', 'purchase')
              GROUP BY user_id)
            SELECT 'view' AS group_a, 'purchase' AS group_b,
                   sum(v)::BIGINT AS exact_a, sum(p)::BIGINT AS exact_b,
                   count(*)::BIGINT AS exact_union,
                   sum(CASE WHEN v = 1 AND p = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS exact_intersection,
                   true AS est_a_ok, true AS est_b_ok, true AS union_ok,
                   true AS intersection_ok, true AS jaccard_ok
            FROM f""",
        "join_size_estimate": """
            SELECT (SELECT count(*) FROM events)::BIGINT AS n_a,
                   (SELECT count(*) FROM customer)::BIGINT AS n_b,
                   (SELECT count(DISTINCT user_id) FROM events)::BIGINT
                       AS exact_distinct_a,
                   (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT
                       AS exact_distinct_b,
                   (SELECT count(*) FROM (SELECT DISTINCT user_id FROM events) a
                      JOIN (SELECT DISTINCT c_custkey FROM customer) b
                        ON a.user_id = b.c_custkey)::BIGINT AS exact_shared_keys,
                   (SELECT count(*) FROM events e JOIN customer c
                      ON e.user_id = c.c_custkey)::BIGINT AS exact_join_rows,
                   true AS est_distinct_a_ok, true AS est_distinct_b_ok,
                   true AS est_shared_keys_ok, true AS est_join_rows_ok""",
        "rolling_active_users_hll": """
            WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS d FROM events),
            ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS ed FROM events)
            SELECT strftime(d, '%Y-%m-%d') AS day,
                   count(DISTINCT user_id)::BIGINT AS n_active_exact,
                   true AS within_tol
            FROM days JOIN ud ON ed BETWEEN d - INTERVAL 6 DAY AND d
            GROUP BY d ORDER BY day""",
        "wordpiece_tokenize": """
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE len(regexp_extract_all(text,
                                 '[^ \\t\\n\\x0b\\f\\r]+')) END::BIGINT
                       AS n_words,
                   true AS impls_agree
            FROM documents""",
        "text_compression_ratio": """
            SELECT doc_id, strlen(text)::BIGINT AS raw_bytes,
                   true AS bound_ok, true AS roundtrip_ok
            FROM documents""",
        "skew_report": """
            WITH counts AS (
              SELECT event_type || '|' || user_id AS key, count(*)::BIGINT AS n
              FROM events GROUP BY 1),
            g AS (SELECT sum(n) AS total, avg(n) AS a FROM counts)
            SELECT key, n,
                   floor(n / total * 1000000 + 0.5) / 1000000 AS share,
                   floor(n / a * 10000 + 0.5) / 10000 AS ratio_to_avg
            FROM counts, g
            ORDER BY n DESC, key ASC LIMIT 20""",
        "pack_sequences": """
            -- concat-and-chunk layout: global running token offset in
            -- doc_id order, windows cut every 512 tokens
            WITH t AS (
              SELECT doc_id,
                     coalesce(length(string_split(text, ' ')), 0)::BIGINT AS n,
                     SUM(coalesce(length(string_split(text, ' ')), 0))
                       OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
              FROM documents)
            SELECT doc_id, n AS n_tokens, (cum - n) AS start_tok,
                   ((cum - n) // 512)::BIGINT AS first_chunk,
                   ((cum - 1) // 512)::BIGINT AS last_chunk,
                   ((cum - 1) // 512 - (cum - n) // 512 + 1)::BIGINT AS n_chunks,
                   ((cum - n) % 512)::BIGINT AS offset_in_first_chunk
            FROM t""",
        "pack_manifest": """
            -- the pack replay + a window explode: slice = doc ∩ window
            WITH t AS (
              SELECT doc_id,
                     coalesce(length(string_split(text, ' ')), 0)::BIGINT
                       AS n,
                     SUM(coalesce(length(string_split(text, ' ')), 0))
                       OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
              FROM documents),
            p AS (SELECT doc_id, n, (cum - n) AS start_tok,
                         ((cum - n) // 512) AS fc, ((cum - 1) // 512) AS lc
                  FROM t WHERE n > 0),
            e AS (SELECT doc_id, n, start_tok,
                         unnest(generate_series(fc, lc)) AS chunk_id
                  FROM p)
            SELECT chunk_id::BIGINT AS chunk_id, doc_id,
                   (greatest(start_tok, chunk_id * 512)
                    - start_tok)::BIGINT AS doc_off,
                   (greatest(start_tok, chunk_id * 512)
                    - chunk_id * 512)::BIGINT AS win_off,
                   (least(start_tok + n, (chunk_id + 1) * 512)
                    - greatest(start_tok, chunk_id * 512))::BIGINT AS len
            FROM e ORDER BY chunk_id, doc_id""",
        "window_boundaries": """
            -- the pack_manifest replay pivoted per window: ordered-list
            -- aggregates for the slice arrays, a list comprehension for
            -- the position->segment attention-reset mask
            WITH t AS (
              SELECT doc_id,
                     coalesce(length(string_split(text, ' ')), 0)::BIGINT
                       AS n,
                     SUM(coalesce(length(string_split(text, ' ')), 0))
                       OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
              FROM documents),
            p AS (SELECT doc_id, n, (cum - n) AS start_tok,
                         ((cum - n) // 512) AS fc, ((cum - 1) // 512) AS lc
                  FROM t WHERE n > 0),
            e AS (SELECT doc_id, n, start_tok,
                         unnest(generate_series(fc, lc)) AS chunk_id
                  FROM p),
            man AS (
              SELECT chunk_id::BIGINT AS chunk_id, doc_id,
                     (greatest(start_tok, chunk_id * 512)
                      - chunk_id * 512)::BIGINT AS win_off,
                     (least(start_tok + n, (chunk_id + 1) * 512)
                      - greatest(start_tok, chunk_id * 512))::BIGINT AS len
              FROM e),
            agg AS (
              SELECT chunk_id,
                     count(*)::INT AS n_docs,
                     sum(len)::BIGINT AS window_len,
                     list(doc_id ORDER BY win_off) AS doc_ids,
                     list(win_off ORDER BY win_off) AS doc_starts,
                     list(len ORDER BY win_off) AS seg_lens
              FROM man GROUP BY chunk_id)
            SELECT chunk_id, n_docs, window_len, doc_ids, doc_starts,
                   seg_lens,
                   [(len(list_filter(doc_starts, s -> s <= p)) - 1)::INT
                    for p in range(0, window_len)] AS segment_ids
            FROM agg ORDER BY chunk_id""",
        "bin_boundaries_audit": """
            -- conservation aggregates derived INDEPENDENTLY from the
            -- documents table; the array invariants are in-plan
            -- booleans pinned true (FFD itself is not SQL-expressible)
            WITH t AS (
              SELECT coalesce(length(string_split(text, ' ')), 0)::BIGINT
                       AS n
              FROM documents WHERE text IS NOT NULL)
            SELECT (SELECT count(*) FROM t WHERE n >= 1)::BIGINT
                     AS total_docs,
                   (SELECT coalesce(sum(n), 0) FROM t WHERE n >= 1)::BIGINT
                     AS total_tokens,
                   true AS all_fit, true AS tiling_ok, true AS order_ok,
                   true AS pad_ok, true AS bins_bound_ok""",
        "pack_stats": """
            WITH t AS (SELECT doc_id,
                              coalesce(length(string_split(text, ' ')), 0)::BIGINT AS n
                       FROM documents),
            p AS (SELECT doc_id, n,
                         SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
                  FROM t)
            SELECT SUM(n)::BIGINT AS total_tokens,
                   CEIL(SUM(n) / 512.0)::BIGINT AS n_windows,
                   COUNT(*)::BIGINT AS n_docs,
                   SUM(CASE WHEN (cum - 1) // 512 > (cum - n) // 512
                            THEN 1 ELSE 0 END)::BIGINT AS n_straddling
            FROM p""",
        "length_matched_sample": f"""
            -- importance resampling to the reference (doc_id%7=0) length
            -- distribution over floor(log2(n_tokens+1)) bins
            WITH lens AS (SELECT doc_id AS id,
                                 len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens
                          FROM documents),
            binned AS (SELECT id, n_tokens,
                              floor(log2(n_tokens + 1))::INT AS len_bin FROM lens),
            cs AS (SELECT len_bin, count(*)::DOUBLE AS c_n FROM binned GROUP BY 1),
            rs AS (SELECT len_bin, count(*)::DOUBLE AS r_n FROM binned
                   WHERE id % 7 = 0 GROUP BY 1),
            tot AS (SELECT (SELECT sum(c_n) FROM cs) AS C, (SELECT sum(r_n) FROM rs) AS R),
            ratios AS (SELECT cs.len_bin,
                              (coalesce(rs.r_n, 0) / tot.R) / (cs.c_n / tot.C) AS ratio
                       FROM cs LEFT JOIN rs USING (len_bin) CROSS JOIN tot),
            rates AS (SELECT len_bin,
                             floor(ratio / (SELECT max(ratio) FROM ratios) * 1000000 + 0.5) / 1000000 AS keep_rate
                      FROM ratios)
            SELECT b.id, b.n_tokens, b.len_bin, r.keep_rate,
                   (floor({_md5i("'lenmatch:' || b.id::VARCHAR")} / 1152921504606846976.0 * 1000000 + 0.5) / 1000000
                    < r.keep_rate) AS kept
            FROM binned b JOIN rates r USING (len_bin)
            ORDER BY b.id""",
        "contamination_report": """
            -- per-benchmark-item leaks: corpus docs / distinct grams shared
            -- with each benchmark doc (bench slice = doc_id%50=0, self-pairs
            -- excluded); docs shorter than 8 tokens contribute their whole
            -- text as the single gram
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, GREATEST(len(t) - 7, 1))) AS g
                    FROM toks),
            grams AS (SELECT DISTINCT doc_id, md5(array_to_string(t[g : g + 7], ' ')) AS gram
                      FROM pos),
            bench AS (SELECT doc_id AS bench_id, gram FROM grams WHERE doc_id % 50 = 0),
            leaks AS (SELECT b.bench_id,
                             count(DISTINCT g.doc_id) AS n_leaked_docs,
                             count(DISTINCT b.gram) AS n_leaked_grams
                      FROM bench b JOIN grams g ON g.gram = b.gram
                                   AND g.doc_id <> b.bench_id
                      GROUP BY b.bench_id)
            SELECT d.doc_id AS bench_id,
                   coalesce(l.n_leaked_docs, 0) AS n_leaked_docs,
                   coalesce(l.n_leaked_grams, 0) AS n_leaked_grams
            FROM documents d LEFT JOIN leaks l ON l.bench_id = d.doc_id
            WHERE d.doc_id % 50 = 0 ORDER BY bench_id""",
        # both sides share the hash-embed CTE; cosine zero-guarded then
        # qround'd BEFORE the argmax (ties -> lowest bench id), exactly
        # the engine's map-side max-struct rule
        "semantic_decontaminate": f"""
            WITH {_HASH_EMBED_CTE},
            bench AS (SELECT doc_id AS bid, embedding AS bv FROM emb16
                      WHERE doc_id % 50 = 0),
            sc AS (
              SELECT e.doc_id AS id, b.bid,
                     CASE WHEN sqrt(list_dot_product(e.embedding, e.embedding))
                               * sqrt(list_dot_product(b.bv, b.bv)) > 0
                          THEN floor(list_dot_product(e.embedding, b.bv)
                               / (sqrt(list_dot_product(e.embedding, e.embedding))
                                  * sqrt(list_dot_product(b.bv, b.bv)))
                               * 1000000 + 0.5) / 1000000
                          ELSE 0.0 END AS cos
              FROM emb16 e CROSS JOIN bench b),
            best AS (SELECT id, bid, cos FROM (
                SELECT *, row_number() OVER (PARTITION BY id
                                             ORDER BY cos DESC, bid ASC) AS rn
                FROM sc) WHERE rn = 1)
            SELECT id, bid::BIGINT AS nearest_bench_id,
                   cos AS max_bench_cosine,
                   cos >= 0.8 AS contaminated
            FROM best ORDER BY id""",
        "decontaminate": """
            -- docs sharing any 8-gram with the benchmark slice (doc_id%50=0);
            -- docs shorter than 8 tokens contribute their whole text as the
            -- single 'gram' (the Spark shingle semantics)
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, GREATEST(len(t) - 7, 1))) AS g
                    FROM toks),
            grams AS (SELECT doc_id, array_to_string(t[g : g + 7], ' ') AS gram
                      FROM pos),
            bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0),
            hits AS (SELECT DISTINCT g.doc_id FROM grams g
                     JOIN bench b ON g.gram = b.gram)
            SELECT d.doc_id AS id,
                   (h.doc_id IS NOT NULL) AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",
        "dedup_spans_incremental": """
            -- increment (doc_id % 7 <> 0) cut against history digests
            -- (doc_id % 7 = 0) plus increment-internal owner rule
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents WHERE doc_id % 7 <> 0),
            htoks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE doc_id % 7 = 0),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 7)) AS s
                    FROM toks),
            grams AS (SELECT doc_id, s,
                             md5(array_to_string(t[s : s + 7], ' ')) AS g
                      FROM pos),
            hgrams AS (SELECT DISTINCT
                              md5(array_to_string(t[s : s + 7], ' ')) AS g
                       FROM (SELECT t, unnest(generate_series(1, len(t) - 7))
                               AS s FROM htoks)),
            hhit AS (SELECT doc_id, s FROM grams
                     WHERE g IN (SELECT g FROM hgrams)),
            shared AS (SELECT g, min(doc_id) AS owner FROM grams
                       GROUP BY g HAVING max(doc_id) > min(doc_id)),
            ihit AS (SELECT doc_id, s FROM grams JOIN shared USING (g)
                     WHERE doc_id > owner),
            hit AS (SELECT DISTINCT doc_id, s FROM
                    (SELECT * FROM hhit UNION ALL SELECT * FROM ihit)),
            hits AS (SELECT doc_id, list(DISTINCT s ORDER BY s) AS hs
                     FROM hit GROUP BY doc_id),
            base AS (SELECT tk.doc_id, tk.t,
                            coalesce(h.hs, []::BIGINT[]) AS hs
                     FROM toks tk LEFT JOIN hits h USING (doc_id)),
            keptpos AS (SELECT doc_id, t,
                               list_filter(range(1, len(t) + 1),
                                 j -> len(list_filter(hs,
                                        h -> h <= j AND j < h + 8)) = 0) AS kp
                        FROM base)
            SELECT doc_id AS id,
                   CASE WHEN t IS NULL THEN NULL ELSE
                     coalesce(array_to_string(list_transform(kp, j -> t[j]), ' '), '')
                   END AS clean_text,
                   len(t)::INT AS n_tokens,
                   (len(t) - len(kp))::INT AS n_removed
            FROM keptpos ORDER BY id""",
        "dedup_spans_report": """
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 7)) AS s
                    FROM toks),
            grams AS (SELECT doc_id, s,
                             md5(array_to_string(t[s : s + 7], ' ')) AS g
                      FROM pos),
            shared AS (SELECT g, min(doc_id) AS owner FROM grams
                       GROUP BY g HAVING max(doc_id) > min(doc_id)),
            hit AS (SELECT DISTINCT doc_id, s FROM grams JOIN shared USING (g)
                    WHERE doc_id > owner),
            isl AS (SELECT doc_id, s,
                           sum(CASE WHEN prev_hi IS NULL OR s > prev_hi + 1
                                    THEN 1 ELSE 0 END)
                             OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island
                    FROM (SELECT doc_id, s,
                                 max(s + 7) OVER (PARTITION BY doc_id
                                   ORDER BY s ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND 1 PRECEDING) AS prev_hi
                          FROM hit)),
            runs AS (SELECT doc_id, island,
                            max(s) + 7 - min(s) + 1 AS run_len
                     FROM isl GROUP BY doc_id, island),
            hist AS (SELECT run_len, count(*) AS n_runs,
                            sum(run_len) AS tokens_covered
                     FROM runs GROUP BY run_len)
            SELECT run_len, n_runs,
                   tokens_covered::BIGINT AS tokens_covered,
                   (sum(tokens_covered) OVER (ORDER BY run_len DESC
                      ROWS UNBOUNDED PRECEDING))::BIGINT
                     AS cut_tokens_at_min_run
            FROM hist ORDER BY run_len""",
        "lsh_tuning": """
            WITH splits AS (
              SELECT b, 64 // b AS r FROM generate_series(1, 64) t(b)
              WHERE 64 % b = 0),
            grid AS (SELECT i / 100.0 AS s FROM generate_series(1, 99) g(i)),
            per AS (SELECT b, r, s,
                           1 - pow(1 - pow(s, r), b) AS p
                    FROM splits CROSS JOIN grid),
            agg AS (SELECT b, r,
                           sum(CASE WHEN s < 0.5 THEN p * 0.01 ELSE 0 END) AS fp,
                           sum(CASE WHEN s >= 0.5 THEN (1 - p) * 0.01 ELSE 0 END) AS fn
                    FROM per GROUP BY b, r)
            SELECT b, r,
                   floor(pow(1.0 / b, 1.0 / r) * 1000000 + 0.5) / 1000000 AS s50,
                   floor((1 - pow(1 - pow(0.5, r), b)) * 1000000 + 0.5) / 1000000
                     AS p_at_threshold,
                   floor(fp * 1000000 + 0.5) / 1000000 AS fp_area,
                   floor(fn * 1000000 + 0.5) / 1000000 AS fn_area,
                   floor((fp + fn) * 1000000 + 0.5) / 1000000 AS total_err
            FROM agg ORDER BY b""",
        "lsh_autoband": """
            -- the tuning table's total_err argmin row; the Spark query
            -- embeds the local optimal_bands twin's pick as literals, so
            -- local_b/local_r/twin_agrees pin twin == SQL argmin
            WITH splits AS (
              SELECT b, 64 // b AS r FROM generate_series(1, 64) t(b)
              WHERE 64 % b = 0),
            grid AS (SELECT i / 100.0 AS s FROM generate_series(1, 99) g(i)),
            per AS (SELECT b, r, s,
                           1 - pow(1 - pow(s, r), b) AS p
                    FROM splits CROSS JOIN grid),
            agg AS (SELECT b, r,
                           sum(CASE WHEN s < 0.5 THEN p * 0.01 ELSE 0 END) AS fp,
                           sum(CASE WHEN s >= 0.5 THEN (1 - p) * 0.01 ELSE 0 END) AS fn
                    FROM per GROUP BY b, r)
            SELECT b, r,
                   floor((fp + fn) * 1000000 + 0.5) / 1000000 AS total_err,
                   b AS local_b, r AS local_r, true AS twin_agrees
            FROM agg
            ORDER BY floor((fp + fn) * 1000000 + 0.5) / 1000000, b
            LIMIT 1""",
        "ann_model_roundtrip": """
            -- self-verifying: the Spark query persists + reloads the
            -- trained IVFADC model and compares the probe-only path with
            -- train-in-place in-plan; the oracle pins the booleans true
            SELECT vec_id AS query_id,
                   true AS probe_matches_train,
                   true AS arrays_roundtrip
            FROM embeddings WHERE vec_id < 8 ORDER BY query_id""",
        "ann_incremental_probe": """
            -- self-verifying: the Spark query probes the appended codes
            -- table against a full re-encode in-plan; the oracle pins
            -- the agreement booleans true and re-derives the increment
            -- size exactly from the split predicate
            SELECT vec_id AS query_id,
                   true AS incremental_matches_full,
                   true AS codes_cover_corpus,
                   (SELECT CAST(count(*) AS BIGINT) FROM embeddings
                    WHERE vec_id % 10 = 7 AND vec_id >= 32) AS n_increment
            FROM embeddings WHERE vec_id < 8 ORDER BY query_id""",
        "ann_delete_probe": """
            -- self-verifying: the Spark query probes the tombstoned and
            -- the compacted codes tables against a re-encode of the
            -- corpus minus the deleted rows in-plan; the oracle pins
            -- the agreement booleans true and re-derives the deleted
            -- count exactly from the predicate
            SELECT vec_id AS query_id,
                   true AS tombstone_matches_reencode,
                   true AS compacted_matches_reencode,
                   true AS counts_reconcile,
                   (SELECT CAST(count(*) AS BIGINT) FROM embeddings
                    WHERE vec_id % 7 = 3) AS n_deleted
            FROM embeddings WHERE vec_id < 8 ORDER BY query_id""",
        "ann_rerank_probe": """
            -- self-verifying: the Spark query computes recall@5 of the
            -- raw ADC list and the reranked list against the exact L2
            -- top-5 in-plan (monotone by theorem: exact-top-k members
            -- inside the candidate pool survive an exact re-rank) and
            -- compares the full-pool rerank to l2_topk row for row;
            -- the oracle pins both booleans true
            SELECT vec_id AS query_id,
                   true AS rerank_recall_monotone,
                   true AS full_pool_equals_exact
            FROM embeddings WHERE vec_id < 8 ORDER BY query_id""",
        "dedup_spans_minrun": """
            -- islands of overlapping shared 8-gram windows; cut only
            -- runs >= 12 tokens (Lee et al. minimum-length discipline)
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 7)) AS s
                    FROM toks),
            grams AS (SELECT doc_id, s,
                             md5(array_to_string(t[s : s + 7], ' ')) AS g
                      FROM pos),
            shared AS (SELECT g, min(doc_id) AS owner FROM grams
                       GROUP BY g HAVING max(doc_id) > min(doc_id)),
            hit AS (SELECT DISTINCT doc_id, s FROM grams JOIN shared USING (g)
                    WHERE doc_id > owner),
            isl AS (SELECT doc_id, s,
                           sum(CASE WHEN prev_hi IS NULL OR s > prev_hi + 1
                                    THEN 1 ELSE 0 END)
                             OVER (PARTITION BY doc_id ORDER BY s
                                   ROWS UNBOUNDED PRECEDING) AS island
                    FROM (SELECT doc_id, s,
                                 max(s + 7) OVER (PARTITION BY doc_id
                                   ORDER BY s ROWS BETWEEN UNBOUNDED
                                   PRECEDING AND 1 PRECEDING) AS prev_hi
                          FROM hit)),
            iv AS (SELECT doc_id, min(s) AS lo, max(s) + 7 AS hi
                   FROM isl GROUP BY doc_id, island
                   HAVING max(s) + 7 - min(s) + 1 >= 12),
            ivs AS (SELECT doc_id, list({'lo': lo, 'hi': hi}) AS hs
                    FROM iv GROUP BY doc_id),
            base AS (SELECT tk.doc_id, tk.t, coalesce(v.hs, []) AS hs
                     FROM toks tk LEFT JOIN ivs v USING (doc_id)),
            keptpos AS (SELECT doc_id, t,
                               list_filter(range(1, len(t) + 1),
                                 j -> len(list_filter(hs,
                                        h -> h.lo <= j AND j <= h.hi)) = 0)
                                 AS kp
                        FROM base)
            SELECT doc_id AS id,
                   CASE WHEN t IS NULL THEN NULL ELSE
                     coalesce(array_to_string(list_transform(kp, j -> t[j]), ' '), '')
                   END AS clean_text,
                   len(t)::INT AS n_tokens,
                   (len(t) - len(kp))::INT AS n_removed
            FROM keptpos ORDER BY id""",
        "dedup_spans": """
            -- shared 8-gram windows keep their lowest-id copy; every
            -- other doc cuts the covered tokens (Lee et al. 2022 style)
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 7)) AS s
                    FROM toks),
            grams AS (SELECT doc_id, s,
                             md5(array_to_string(t[s : s + 7], ' ')) AS g
                      FROM pos),
            shared AS (SELECT g, min(doc_id) AS owner FROM grams
                       GROUP BY g HAVING max(doc_id) > min(doc_id)),
            hits AS (SELECT doc_id, list(DISTINCT s ORDER BY s) AS hs
                     FROM grams JOIN shared USING (g)
                     WHERE doc_id > owner GROUP BY doc_id),
            base AS (SELECT tk.doc_id, tk.t,
                            coalesce(h.hs, []::BIGINT[]) AS hs
                     FROM toks tk LEFT JOIN hits h USING (doc_id)),
            keptpos AS (SELECT doc_id, t,
                               list_filter(range(1, len(t) + 1),
                                 j -> len(list_filter(hs,
                                        h -> h <= j AND j < h + 8)) = 0) AS kp
                        FROM base)
            SELECT doc_id AS id,
                   CASE WHEN t IS NULL THEN NULL ELSE
                     coalesce(array_to_string(list_transform(kp, j -> t[j]), ' '), '')
                   END AS clean_text,
                   len(t)::INT AS n_tokens,
                   (len(t) - len(kp))::INT AS n_removed
            FROM keptpos ORDER BY id""",
        "decontaminate_spans": """
            -- cut ONLY the contaminated 8-gram windows (benchmark slice =
            -- doc_id%50=0); docs shorter than 8 tokens have no windows and
            -- pass through untouched
            WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 7)) AS s
                    FROM toks),
            grams AS (SELECT doc_id, s,
                             md5(array_to_string(t[s : s + 7], ' ')) AS g
                      FROM pos),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
            hits AS (SELECT doc_id, list(DISTINCT s ORDER BY s) AS hs
                     FROM grams JOIN bench USING (g) GROUP BY doc_id),
            base AS (SELECT tk.doc_id, tk.t,
                            coalesce(h.hs, []::BIGINT[]) AS hs
                     FROM toks tk LEFT JOIN hits h USING (doc_id)),
            keptpos AS (SELECT doc_id, t,
                               list_filter(range(1, len(t) + 1),
                                 j -> len(list_filter(hs,
                                        h -> h <= j AND j < h + 8)) = 0) AS kp
                        FROM base)
            SELECT doc_id AS id,
                   -- DuckDB's array_to_string([]) is NULL; Spark's
                   -- array_join is '' — but NULL text stays NULL
                   CASE WHEN t IS NULL THEN NULL ELSE
                     coalesce(array_to_string(list_transform(kp, j -> t[j]), ' '), '')
                   END AS clean_text,
                   len(t)::INT AS n_tokens,
                   (len(t) - len(kp))::INT AS n_removed
            FROM keptpos ORDER BY id""",
        "multimodal_meta": """
            SELECT doc_id AS media_id, 'image' AS media_type,
                   octet_length(encode(text))::INT AS byte_len, md5(text) AS content_md5
            FROM documents""",
        "multimodal_features": """
            SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS byte_len,
                   substr(sha256(text), 1, 16) AS sha_prefix
            FROM documents""",
        "multimodal_resize": """
            -- nearest-neighbor 8x8 -> 4x4 keeps source pixels (2x, 2y);
            -- each pixel repeats across 3 channels.  PPM byte length =
            -- len('P6\\n4 4\\n255\\n') + 4*4*3 = 59.
            SELECT d.doc_id AS media_id, 4 AS width, 4 AS height,
                   59 AS byte_len,
                   (SELECT SUM(3 * ((d.doc_id + 2*x.g + 2*y.g) % 256))
                    FROM generate_series(0, 3) x(g),
                         generate_series(0, 3) y(g))::BIGINT AS pixel_sum
            FROM documents d""",
        "multimodal_audio_stats": """
            -- square wave at amplitude (doc_id % 8) * 4096: RMS = peak =
            -- amp / 32768 = (doc_id % 8) / 8 exactly
            SELECT doc_id AS media_id, 8000 AS sample_rate,
                   (400 + (doc_id % 10) * 80)::BIGINT AS n_samples,
                   ((400 + (doc_id % 10) * 80) / 8)::INT AS duration_ms,
                   ((doc_id % 8) * 125)::BIGINT AS rms_milli,
                   ((doc_id % 8) * 125)::BIGINT AS peak_milli
            FROM documents d""",
    }
