"""Delivery-audit protocol — reference parity for SURVEY.md §2.4 B5 / §2.6 W9.

The reference emits one AuditMessage(timestamp, hostname, topic, numMessages)
per written batch to a side Kafka topic (singer_if.thrift:32-41,
writer/KafkaWriter.java:641-693); the e2e correctness oracle is
"audit-topic count == messages written" (e2e/SingerEndToEndTest.java:67-117).

Here the audit row is produced inside foreachBatch AFTER the sink write
succeeds — the same at-least-once accounting window as the reference.  Its
count is the sum of the successful tasks' delivery counts, collected after
the delivery job succeeds: a failed task attempt is never counted, and a
crash between sink-write and commit re-sends and re-audits, never
under-counts.
"""

from __future__ import annotations

import socket
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

AUDIT_SCHEMA = StructType([
    StructField("timestamp", LongType(), False),   # nanos, like the reference
    StructField("hostname", StringType(), False),
    StructField("topic", StringType(), False),
    StructField("numMessages", LongType(), False),
    StructField("batchId", LongType(), False),
])


def audit_row(topic: str, num_messages: int, batch_id: int,
              hostname: str | None = None) -> tuple:
    return (
        time.time_ns(),
        hostname or socket.gethostname(),
        topic,
        int(num_messages),
        int(batch_id),
    )


def make_audit_df(spark: SparkSession, topic: str, num_messages: int,
                  batch_id: int, hostname: str | None = None) -> DataFrame:
    return spark.createDataFrame([audit_row(topic, num_messages, batch_id, hostname)],
                                 AUDIT_SCHEMA)


def audit_events_for_tracked(df: DataFrame, log_name: str | None = None,
                             stage: str = "SINGER",
                             start_at_current_stage: bool = False,
                             hostname: str | None = None,
                             audit_col: str = "auditHeaders",
                             value_col: str = "value",
                             checksum_col: str = "checksum") -> DataFrame:
    """Per-MESSAGE audit events for tracked messages (W9 completion):
    one LoggingAuditEvent-shaped row per message whose decoded
    LoggingAuditHeaders has tracked=true, with `message_valid` recomputed
    from the CRC — the audit client's generateAuditEvent at stage SINGER
    (loggingaudit.thrift:85-140, loggingaudit/client/
    LoggingAuditEventGenerator.java:39-46, writer/KafkaWriter.java:438-465
    validity check).  Pure column expressions — the event stream is a
    filtered projection riding the delivery plan, no extra scan."""
    from pyspark.sql import functions as F

    from singer_spark.functions import crc32_bytes

    a = F.col(audit_col)
    crc = F.col(checksum_col)
    valid = F.when(crc.isNull(), F.lit(True)).otherwise(
        crc32_bytes(value_col) == crc)
    host = F.lit(hostname) if hostname else F.lit(socket.gethostname())
    return (
        df.filter(a.isNotNull() & (a["tracked"] == F.lit(True)))
        .select(
            host.alias("host"),
            F.lit(stage).alias("stage"),
            F.lit(start_at_current_stage).alias("start_at_current_stage"),
            F.lit(False).alias("stop_at_current_stage"),
            a["host"].alias("origin_host"),
            (F.lit(log_name) if log_name else a["logName"]).alias("log_name"),
            a["pid"].alias("pid"),
            a["session"].alias("session"),
            a["logSeqNumInSession"].alias("log_seq"),
            valid.alias("message_valid"),
            F.lit(-1).cast("bigint").alias("message_acknowledged_ts"),
        )
    )


class AuditCollector:
    """In-process audit sink for tests / local runs (stands in for the audit
    Kafka topic).  In production the same rows go to any callable audit
    sink through the writer's audit hook (sinks.auditor)."""

    def __init__(self) -> None:
        self.rows: list[tuple] = []

    def append(self, audit: tuple | DataFrame) -> None:
        """Take one :func:`audit_row` tuple, or collect an audit DataFrame."""
        if isinstance(audit, tuple):
            self.rows.append(audit)
        else:
            self.rows.extend(tuple(r) for r in audit.collect())

    def total(self, topic: str | None = None) -> int:
        return sum(r[3] for r in self.rows if topic is None or r[2] == topic)
