"""Per-record transforms — reference parity for SURVEY.md §2.3 (T1-T11).

Each transform is a composable ``DataFrame -> DataFrame`` (or column
expression) built from JVM-side functions only, so the whole chain stays
inside one WholeStageCodegen span and scales linearly with input bytes —
no shuffle, no Python boundary.

Reference citations are to /root/reference (pinterest/singer).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from singer_spark.functions import crc32_bytes, md5_int


# ---------------------------------------------------------------------------
# T1 — regex message filter
# Reference: reader/TextLogFileReader.java:167-171 (inject skipMessage header
# on non-match), processor/DefaultLogStreamProcessor.java:320-324 (drop).
# ---------------------------------------------------------------------------
def filter_message_regex(df: DataFrame, column: str, pattern: str) -> DataFrame:
    """Keep only messages whose text matches `pattern` (Java regex,
    unanchored `find()` semantics like the reference's Matcher.find())."""
    return df.filter(F.col(column).rlike(pattern))


# ---------------------------------------------------------------------------
# T2 — RegexBasedModifier: regex + "$1-$2" template rewrite; pass original
# through when the regex does not match.
# Reference: transforms/RegexBasedModifier.java:26-107 (no-match passthrough
# at :62-66), config.thrift:92-110.
# ---------------------------------------------------------------------------
def regex_based_modifier(col: Column | str, regex: str, template: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(regex), F.regexp_replace(c, regex, template)).otherwise(c)


# ---------------------------------------------------------------------------
# T3 — prepend timestamp / hostname with a delimiter.
# Reference: reader/TextLogFileReader.java:178-187; config.thrift:66-71.
# ---------------------------------------------------------------------------
def prepend_fields(col: Column | str, prefixes: list[Column], delimiter: str = " ") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    parts: list[Column] = []
    for p in prefixes:
        parts.extend([p, F.lit(delimiter)])
    parts.append(c)
    return F.concat(*parts)


# ---------------------------------------------------------------------------
# T4 — trim the trailing newline.
# Reference: reader/TextLogFileReader.java:201-203.
# ---------------------------------------------------------------------------
def trim_trailing_newline(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "\n$", "")


# ---------------------------------------------------------------------------
# T5/T6 — header / environment injection.  The reference injects
# hostname / file / availabilityZone / accountId (+ pod metadata, env vars)
# as a map<string,binary> carried to the Kafka record headers.
# Reference: reader/TextLogFileReader.java:102-112,
#            reader/ThriftLogFileReader.java:110-120, config.thrift:43-44.
# ---------------------------------------------------------------------------
def inject_headers(df: DataFrame, headers: dict[str, Column], out_col: str = "headers") -> DataFrame:
    """Attach a map<string,binary> `headers` column (Kafka-sink compatible)."""
    kv: list[Column] = []
    for k, v in headers.items():
        kv.extend([F.lit(k), v.cast("binary")])
    return df.withColumn(out_col, F.create_map(*kv))


def standard_headers(file_col: Column | None = None, hostname: str = "localhost",
                     availability_zone: str = "us-east-1a") -> dict[str, Column]:
    """The reference's standard header set."""
    h = {
        "hostname": F.lit(hostname),
        "availabilityZone": F.lit(availability_zone),
    }
    if file_col is not None:
        h["file"] = file_col
    return h


# ---------------------------------------------------------------------------
# T7 — standard message id headers `_mid` (16-byte inode+offset identity) and
# `_ots` (original timestamp).
# Reference: writer/kafka/CommittableKafkaWriter.java:69-70,223-236.
# ---------------------------------------------------------------------------
def message_id(file_col: Column, offset_col: Column) -> Column:
    """Deterministic 16-byte message identity: 8 bytes of file-identity hash
    (stands in for the inode) + 8-byte big-endian offset."""
    return F.concat(
        F.unhex(F.substring(F.md5(file_col.cast("string")), 1, 16)),
        F.unhex(F.lpad(F.hex(offset_col.cast("bigint")), 16, "0")),
    )


# ---------------------------------------------------------------------------
# T8 — CRC-32 checksum compute / verify, count + optionally skip corrupt.
# Reference: writer/KafkaWriter.java:438-465 (verify), :473-507 (set).
# ---------------------------------------------------------------------------
def with_checksum(df: DataFrame, payload_col: str = "value", out_col: str = "checksum") -> DataFrame:
    return df.withColumn(out_col, crc32_bytes(payload_col))


def verify_checksum(df: DataFrame, payload_col: str = "value", checksum_col: str = "checksum",
                    skip_corrupted: bool = True) -> DataFrame:
    """Parity with KafkaWriter.checkMessageValid: null checksum passes;
    mismatch is corrupt (dropped when skip_corrupted, like
    `audit.enableDeleteCorruptedMessages`)."""
    ok = F.col(checksum_col).isNull() | (crc32_bytes(payload_col) == F.col(checksum_col))
    flagged = df.withColumn("_corrupt", ~ok)
    return flagged.filter(~F.col("_corrupt")).drop("_corrupt") if skip_corrupted else flagged


# ---------------------------------------------------------------------------
# T9 — message-level sampling by decider percentage.
# Reference: processor/MemoryEfficientLogStreamProcessor.java:114-120;
# config/Decider.java:50-148.  The reference uses ThreadLocalRandom; this
# engine uses a deterministic keyed hash so a sample is reproducible across
# retries / speculative re-execution — at-least-once redelivery must not
# change which messages are kept.
# ---------------------------------------------------------------------------
def sample_messages(df: DataFrame, key_col: str, percent: int) -> DataFrame:
    if percent >= 100:
        return df
    if percent <= 0:
        return df.limit(0)
    return df.filter(md5_int(key_col) % 100 < percent)


# ---------------------------------------------------------------------------
# T11 — oversize-message drop.
# Reference: reader/ThriftLogFileReader.java:152-157 (drop > maxMessageSize),
# reader/TextMessageReader.java:164-177 (skip over-long lines).
# ---------------------------------------------------------------------------
def drop_oversize(df: DataFrame, column: str, max_bytes: int) -> DataFrame:
    return df.filter(F.length(F.col(column)) <= max_bytes)


# ---------------------------------------------------------------------------
# Config-driven transform chain (mirrors how a SingerLogConfig's
# reader+transformer settings compose; utils/LogConfigUtils.java parses the
# reference's equivalents).
# ---------------------------------------------------------------------------
@dataclass
class TransformConfig:
    filter_regex: str | None = None
    modifier_regex: str | None = None
    modifier_template: str | None = None
    prepend_hostname: bool = False
    prepend_timestamp_format: str | None = None
    hostname: str = "localhost"
    delimiter: str = " "
    trim_newline: bool = True
    sample_percent: int = 100
    max_message_bytes: int | None = None
    headers: dict[str, str] = field(default_factory=dict)


def apply_transforms(df: DataFrame, cfg: TransformConfig, text_col: str = "value",
                     key_col: str | None = None) -> DataFrame:
    """Compose the full T1-T11 chain in reference order:
    filter → transform → prepend → trim → sample → oversize-drop → headers.
    The prepended timestamp is the read time: the micro-batch's
    current_timestamp."""
    out = df
    if cfg.filter_regex:
        out = filter_message_regex(out, text_col, cfg.filter_regex)
    if cfg.modifier_regex and cfg.modifier_template is not None:
        out = out.withColumn(text_col, regex_based_modifier(text_col, cfg.modifier_regex, cfg.modifier_template))
    prefixes: list[Column] = []
    if cfg.prepend_timestamp_format:
        prefixes.append(F.date_format(F.current_timestamp(), cfg.prepend_timestamp_format))
    if cfg.prepend_hostname:
        prefixes.append(F.lit(cfg.hostname))
    if prefixes:
        out = out.withColumn(text_col, prepend_fields(text_col, prefixes, cfg.delimiter))
    if cfg.trim_newline:
        out = out.withColumn(text_col, trim_trailing_newline(text_col))
    if cfg.sample_percent < 100:
        out = sample_messages(out, key_col or text_col, cfg.sample_percent)
    if cfg.max_message_bytes:
        out = drop_oversize(out, text_col, cfg.max_message_bytes)
    if cfg.headers:
        out = inject_headers(out, {k: F.lit(v) for k, v in cfg.headers.items()})
    return out
