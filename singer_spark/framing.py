"""Message framing codecs.

1. Thrift LogMessage codec — wire-compatible with the reference's
   TFramedTransport + TBinaryProtocol log files
   (reference: singer-commons/src/main/thrift/singer_if.thrift:11-21,
   reader/ThriftLogFileReader.java:91-175, thrift-logger's AppenderUtils).
   Implemented from the public Thrift binary-protocol spec with `struct` —
   no thrift runtime dependency.  Frame = 4-byte big-endian length +
   TBinaryProtocol-encoded LogMessage.

2. Text framer — multi-line message framing by `messageStartRegex`
   (reference: reader/TextMessageReader.java:88-138, TextLogFileReader.java).

The thrift codec runs inside Arrow-batched `mapInPandas` over whole files
(`decode_thrift_blobs`) and inside the tail reader over byte ranges; the
text framer runs inside the tail reader.  Both frame one file range at a
time, so messages never straddle Spark partition boundaries — the same
invariant the reference gets from per-file readers (SURVEY.md §7.3).
"""

from __future__ import annotations

import re
import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Thrift binary-protocol type codes (public spec).
_TTYPE_STOP = 0
_TTYPE_BOOL = 2
_TTYPE_BYTE = 3
_TTYPE_DOUBLE = 4
_TTYPE_I16 = 6
_TTYPE_I32 = 8
_TTYPE_I64 = 10
_TTYPE_STRING = 11  # binary and string share the code
_TTYPE_STRUCT = 12
_TTYPE_MAP = 13
_TTYPE_SET = 14
_TTYPE_LIST = 15

_TTYPE_FIXED_WIDTH = {
    _TTYPE_BOOL: 1, _TTYPE_BYTE: 1, _TTYPE_DOUBLE: 8,
    _TTYPE_I16: 2, _TTYPE_I32: 4, _TTYPE_I64: 8,
}

# LogMessage field ids (singer_if.thrift:11-21).
_FIELD_KEY = 1
_FIELD_MESSAGE = 2
_FIELD_TIMESTAMP = 3
_FIELD_CHECKSUM = 4
_FIELD_AUDIT_HEADERS = 5

# precompiled unpackers for the per-field hot loop — struct.unpack_from
# re-resolves the format cache on every call, which measures ~5% of
# whole-file decode at 300-byte messages
_U_H = struct.Struct(">h").unpack_from   # field id
_U_I = struct.Struct(">I").unpack_from   # length prefix
_U_Q = struct.Struct(">q").unpack_from   # i64 value

# LoggingAuditHeaders fields (loggingaudit.thrift:28-65):
# (field id, name, thrift type).  Declaration order == wire order.
_AUDIT_FIELDS = (
    (1, "host", _TTYPE_STRING),
    (2, "logName", _TTYPE_STRING),
    (3, "pid", _TTYPE_I32),
    (4, "session", _TTYPE_I64),
    (5, "logSeqNumInSession", _TTYPE_I32),
    (6, "timestamp", _TTYPE_I64),
    (7, "tracked", _TTYPE_BOOL),
)

AUDIT_HEADERS_SCHEMA = StructType(
    [
        StructField("host", StringType(), True),
        StructField("logName", StringType(), True),
        StructField("pid", IntegerType(), True),
        StructField("session", LongType(), True),
        StructField("logSeqNumInSession", IntegerType(), True),
        StructField("timestamp", LongType(), True),
        StructField("tracked", BooleanType(), True),
    ]
)

LOG_MESSAGE_SCHEMA = StructType(
    [
        StructField("key", BinaryType(), True),
        StructField("value", BinaryType(), False),
        StructField("timestampInNanos", LongType(), True),
        StructField("checksum", LongType(), True),
        StructField("auditHeaders", AUDIT_HEADERS_SCHEMA, True),
        StructField("file", StringType(), True),
        StructField("offset", LongType(), True),
    ]
)


# ---------------------------------------------------------------------------
# Thrift LogMessage / LoggingAuditHeaders encode
# ---------------------------------------------------------------------------
def encode_audit_headers(headers: dict) -> bytes:
    """Serialize a LoggingAuditHeaders dict as an UNFRAMED TBinaryProtocol
    struct — byte-identical to the reference's TSerializer output that
    lands in the Kafka record header (loggingaudit.thrift:28-65,
    writer/KafkaWriter.java:421-427).  Fields are written in declaration
    order; unset (None / missing) fields are omitted, matching thrift's
    isSet semantics."""
    parts = []
    for fid, name, ttype in _AUDIT_FIELDS:
        v = headers.get(name)
        if v is None:
            continue
        if ttype == _TTYPE_STRING:
            b = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            parts.append(struct.pack(">bhI", ttype, fid, len(b)))
            parts.append(b)
        elif ttype == _TTYPE_I32:
            parts.append(struct.pack(">bhi", ttype, fid, int(v)))
        elif ttype == _TTYPE_I64:
            parts.append(struct.pack(">bhq", ttype, fid, int(v)))
        elif ttype == _TTYPE_BOOL:
            parts.append(struct.pack(">bhb", ttype, fid, 1 if v else 0))
    parts.append(b"\x00")
    return b"".join(parts)


def decode_audit_headers(body: bytes, pos: int = 0,
                         end: int | None = None) -> tuple[dict, int]:
    """Parse one TBinaryProtocol LoggingAuditHeaders struct starting at
    `pos`; returns (field dict, position past the stop byte).  Unknown
    fields are skipped for forward compatibility.  `end` bounds every read
    to the enclosing frame (see _need) — a struct truncated by a corrupt
    frame raises instead of decoding the next frame's bytes as fields."""
    if end is None:
        end = len(body)
    by_id = {fid: (name, ttype) for fid, name, ttype in _AUDIT_FIELDS}
    out: dict = {}
    while True:
        _need(pos, 1, end)
        ttype = body[pos]
        pos += 1
        if ttype == _TTYPE_STOP:
            return out, pos
        _need(pos, 2, end)
        (fid,) = struct.unpack_from(">h", body, pos)
        pos += 2
        name, want = by_id.get(fid, (None, None))
        if name is None or ttype != want:
            pos = _skip_field(body, pos, ttype, end)
            continue
        if ttype == _TTYPE_STRING:
            _need(pos, 4, end)
            (n,) = struct.unpack_from(">I", body, pos)
            _need(pos + 4, n, end)
            out[name] = body[pos + 4: pos + 4 + n].decode("utf-8")
            pos += 4 + n
        elif ttype == _TTYPE_I32:
            _need(pos, 4, end)
            (out[name],) = struct.unpack_from(">i", body, pos)
            pos += 4
        elif ttype == _TTYPE_I64:
            _need(pos, 8, end)
            (out[name],) = struct.unpack_from(">q", body, pos)
            pos += 8
        elif ttype == _TTYPE_BOOL:
            _need(pos, 1, end)
            out[name] = body[pos] != 0
            pos += 1


def encode_log_message(message: bytes, key: bytes | None = None,
                       timestamp_nanos: int | None = None,
                       checksum: int | None = None,
                       with_crc: bool = False,
                       audit_headers: dict | None = None) -> bytes:
    """One TFramedTransport frame holding one TBinaryProtocol LogMessage.

    Field order follows the reference logger (key, message, timestamp,
    checksum, loggingAuditHeaders).  `with_crc` computes crc32(message) like
    writer/KafkaWriter.java:473-507 does before shipping.
    """
    if checksum is None and with_crc:
        checksum = zlib.crc32(message) & 0xFFFFFFFF
    parts = []
    if key is not None:
        parts.append(struct.pack(">bhI", _TTYPE_STRING, _FIELD_KEY, len(key)))
        parts.append(key)
    parts.append(struct.pack(">bhI", _TTYPE_STRING, _FIELD_MESSAGE, len(message)))
    parts.append(message)
    if timestamp_nanos is not None:
        parts.append(struct.pack(">bhq", _TTYPE_I64, _FIELD_TIMESTAMP, timestamp_nanos))
    if checksum is not None:
        parts.append(struct.pack(">bhq", _TTYPE_I64, _FIELD_CHECKSUM, checksum))
    if audit_headers is not None:
        parts.append(struct.pack(">bh", _TTYPE_STRUCT, _FIELD_AUDIT_HEADERS))
        parts.append(encode_audit_headers(audit_headers))
    parts.append(b"\x00")
    body = b"".join(parts)
    return struct.pack(">I", len(body)) + body


def encode_log_messages(messages: list[tuple]) -> bytes:
    """Concatenate frames: (message, key, ts, checksum) tuples → one blob,
    the on-disk layout of a reference thrift log file."""
    return b"".join(encode_log_message(*m) for m in messages)


# ---------------------------------------------------------------------------
# Thrift LogMessage decode
# ---------------------------------------------------------------------------
def _need(pos: int, width: int, end: int) -> None:
    """Raise if a read of `width` bytes at `pos` would cross `end`.

    With the in-place (absolute-offset) frame decode, the buffer continues
    past the frame into the NEXT frame's bytes, so slicing no longer
    truncates naturally — every fixed-width read must be bounds-checked
    against the frame end or a corrupt/truncated frame silently decodes the
    next frame's header as field data.  ValueError routes through
    decode_file_tolerant's corrupt-frame skip, matching the bounded-slice
    behavior (struct.error on overrun) this decoder replaced."""
    if pos + width > end:
        raise ValueError(f"thrift field overruns frame end ({pos}+{width} > {end})")


_MAX_SKIP_DEPTH = 32  # thrift's own TProtocol default recursion limit


def _skip_field(body: bytes, pos: int, ttype: int, end: int | None = None,
                depth: int = 0) -> int:
    """Skip an unknown/unneeded field — full TBinaryProtocol type coverage,
    like thrift's TProtocolUtil.skip.  LogMessage's own fields are i64/
    string/struct, but nested structs carry more: LoggingAuditHeaders
    (field 5) contains i32 (pid, logSeqNumInSession) and bool (tracked), so
    wire compatibility requires every scalar and container type.  `end`
    bounds every read to the enclosing frame (see _need); `depth` bounds
    container nesting to thrift's own recursion limit — corrupt bytes
    that happen to spell deeply nested struct/map/list type codes would
    otherwise recurse past Python's frame limit, and RecursionError
    escapes decode_file_tolerant's corrupt-frame classification (review
    r10 #1: a ~15 KB frame of repeated 0x0c bytes poison-pills the
    stream)."""
    if depth > _MAX_SKIP_DEPTH:
        raise ValueError(f"thrift nesting deeper than {_MAX_SKIP_DEPTH} — corrupt frame")
    if end is None:
        end = len(body)
    w = _TTYPE_FIXED_WIDTH.get(ttype)
    if w is not None:
        _need(pos, w, end)
        return pos + w
    if ttype == _TTYPE_STRING:
        _need(pos, 4, end)
        (n,) = struct.unpack_from(">I", body, pos)
        _need(pos + 4, n, end)
        return pos + 4 + n
    if ttype == _TTYPE_STRUCT:
        while True:
            _need(pos, 1, end)
            t = body[pos]
            pos += 1
            if t == _TTYPE_STOP:
                return pos
            _need(pos, 2, end)
            pos = _skip_field(body, pos + 2, t, end, depth + 1)
    if ttype == _TTYPE_MAP:
        _need(pos, 6, end)
        ktype, vtype = body[pos], body[pos + 1]
        (n,) = struct.unpack_from(">I", body, pos + 2)
        pos += 6
        for _ in range(n):
            pos = _skip_field(body, pos, ktype, end, depth + 1)
            pos = _skip_field(body, pos, vtype, end, depth + 1)
        return pos
    if ttype in (_TTYPE_SET, _TTYPE_LIST):
        _need(pos, 5, end)
        etype = body[pos]
        (n,) = struct.unpack_from(">I", body, pos + 1)
        pos += 5
        for _ in range(n):
            pos = _skip_field(body, pos, etype, end, depth + 1)
        return pos
    raise ValueError(f"unsupported thrift type {ttype}")


def decode_frames(blob: bytes, max_message_size: int | None = None,
                  start_offset: int = 0) -> Iterator[tuple]:
    """Iterate (key, message, timestampInNanos, checksum, auditHeaders,
    offset) from a frame-concatenated blob — auditHeaders is the decoded
    field-5 LoggingAuditHeaders dict or None (T6: the reference surfaces it
    per message for header injection + at-least-once audit,
    writer/KafkaWriter.java:421-436).

    Oversize handling mirrors reader/ThriftLogFileReader.java:108,152-157:
    frames are read with a 10× internal tolerance, then messages larger than
    `max_message_size` are dropped (skipped, not fatal).  A truncated tail
    frame (writer still appending / crash mid-write) stops iteration cleanly
    — the at-least-once resume re-reads it later.
    """
    pos = start_offset
    end = len(blob)
    internal_max = max_message_size * 10 if max_message_size else None
    while pos + 4 <= end:
        (frame_len,) = _U_I(blob, pos)
        if internal_max and frame_len > internal_max:
            raise ValueError(f"frame of {frame_len} bytes exceeds 10x maxMessageSize")
        if pos + 4 + frame_len > end:
            return  # truncated tail frame
        frame_off = pos
        # parse the frame IN PLACE with absolute offsets — slicing a
        # per-frame `body` copied every frame, and key/message then paid
        # a second copy out of that slice; the hot loop now copies each
        # value exactly once (measured ~210 -> ~275 MB/s/core on
        # 400-byte messages).  Every fixed-width read is bounds-checked
        # against the frame end (the buffer continues into the NEXT
        # frame, so without the check a truncated/corrupt frame would
        # silently decode the next frame's bytes as field data); an
        # overrun raises ValueError, which decode_file_tolerant converts
        # to the reference's skip-file-remainder corrupt handling.  Only
        # the string VALUE clamps frame-locally — a corrupt length
        # prefix yields the same truncated value the old bounded body
        # slice produced, never bytes of the next frame.
        body_end = pos + 4 + frame_len
        pos += 4 + frame_len
        key = message = None
        ts = checksum = audit = None
        bpos = frame_off + 4
        while bpos < body_end:
            ttype = blob[bpos]
            bpos += 1
            if ttype == _TTYPE_STOP:
                break
            # bounds checks are INLINE compares here (not _need calls):
            # this loop runs per field of every message, and the call
            # overhead alone measured -15% decode throughput
            if bpos + 2 > body_end:
                raise ValueError("thrift field id overruns frame end")
            (fid,) = _U_H(blob, bpos)
            bpos += 2
            if ttype == _TTYPE_STRING and fid in (_FIELD_KEY, _FIELD_MESSAGE):
                if bpos + 4 > body_end:
                    raise ValueError("thrift string length overruns frame end")
                (n,) = _U_I(blob, bpos)
                bpos += 4
                val = blob[bpos : min(bpos + n, body_end)]
                bpos += n
                if fid == _FIELD_KEY:
                    key = val
                else:
                    message = val
            elif ttype == _TTYPE_I64 and fid in (_FIELD_TIMESTAMP, _FIELD_CHECKSUM):
                if bpos + 8 > body_end:
                    raise ValueError("thrift i64 overruns frame end")
                (v,) = _U_Q(blob, bpos)
                bpos += 8
                if fid == _FIELD_TIMESTAMP:
                    ts = v
                else:
                    checksum = v
            elif ttype == _TTYPE_STRUCT and fid == _FIELD_AUDIT_HEADERS:
                audit, bpos = decode_audit_headers(blob, bpos, body_end)
            else:
                bpos = _skip_field(blob, bpos, ttype, body_end)
        if message is None:
            continue  # not a LogMessage frame
        if max_message_size and len(message) > max_message_size:
            continue  # oversize drop (ThriftLogFileReader.java:152-157)
        yield key, message, ts, checksum, audit, frame_off


# ---------------------------------------------------------------------------
# DataFrame-level decoder: binary file blobs → LogMessage rows.
# ---------------------------------------------------------------------------
def decode_thrift_blobs(df: DataFrame, content_col: str = "content",
                        path_col: str = "path",
                        max_message_size: int | None = None) -> DataFrame:
    """`binaryFile`-shaped DataFrame → LogMessage rows via Arrow-batched
    mapInPandas (one Python pass per file blob; decoded rows stream out in
    pandas batches).  The `sources.thrift_stream` path's Python hop; the
    tail reader and the kafka/pulsar mapInArrow delivery pass are others."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for path, blob in zip(pdf[path_col], pdf[content_col]):
                rows.extend(decode_file_tolerant(bytes(blob), path, max_message_size))
            yield pd.DataFrame(rows, columns=["key", "value", "timestampInNanos",
                                              "checksum", "auditHeaders",
                                              "file", "offset"])

    return df.mapInPandas(gen, LOG_MESSAGE_SCHEMA)


def decode_file_tolerant(blob: bytes, path: str,
                         max_message_size: int | None = None,
                         base_offset: int = 0) -> list[tuple]:
    """Decode one file's frames, skipping the remainder of the file on a
    corrupt frame instead of raising.

    A decode error inside mapInPandas is deterministic: Spark retries the
    task, fails again, and permanently kills the streaming query — one bad
    file poison-pills the whole stream.  The reference instead logs, counts,
    and skips per file (reader/ThriftLogFileReader.java:152-157 oversize
    handling; DefaultLogStreamProcessor catches per-stream).  Frames decoded
    before the corruption point are kept (they are valid messages)."""
    import sys

    rows: list[tuple] = []
    try:
        for key, msg, ts, crc, audit, off in decode_frames(blob, max_message_size):
            rows.append((key, msg, ts, crc, audit, path, base_offset + off))
    except (ValueError, struct.error, IndexError, RecursionError) as e:
        sys.stderr.write(
            f"singer_spark.framing: corrupt frame in {path} after "
            f"{len(rows)} messages — skipping file remainder ({e})\n")
    return rows


# ---------------------------------------------------------------------------
# Text framer — multi-line framing by messageStartRegex.
# ---------------------------------------------------------------------------
def frame_text(blob: str, message_start_regex: str | None,
               eof_as_boundary: bool = True) -> list[str]:
    """Split a text blob into messages.  A line matching
    `message_start_regex` begins a new message; preceding non-matching lines
    belong to the previous message (reader/TextMessageReader.java:88-138).
    With no regex, every line is one message.  Without `eof_as_boundary` the
    trailing partial message is withheld (it may still be growing).  Lines
    end at ``\n`` only, as the tail reader reads them: a ``\r`` or form
    feed inside a line is content."""
    if message_start_regex is None:
        lines = blob.split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        return [line + "\n" for line in lines]
    start = re.compile(message_start_regex)
    messages: list[str] = []
    current: list[str] = []
    for line in re.findall(r"[^\n]*\n|[^\n]+\Z", blob):
        if start.match(line) and current:
            messages.append("".join(current))
            current = [line]
        else:
            current.append(line)
    if current and eof_as_boundary:
        messages.append("".join(current))
    return messages


# ---------------------------------------------------------------------------
# T6/W9 — Kafka-record audit headers, serialized JVM-side.
# The reference re-serializes each message's LoggingAuditHeaders and adds it
# (plus the big-endian CRC long) to the ProducerRecord's headers
# (writer/KafkaWriter.java:421-436 + Longs.toByteArray,
# writer/headersinjectors/LoggingAuditHeadersInjector.java).  TBinaryProtocol
# is deterministic byte concatenation, so the serializer is expressed as
# binary-concat column expressions — whole-stage-codegen'd per record, no
# Python worker in the produce path.  Wire parity with
# :func:`encode_audit_headers` is asserted in tests/test_framing.py.
# ---------------------------------------------------------------------------
def _be_bytes(col, n_bytes: int):
    """Big-endian two's-complement of an integral column, `n_bytes` wide.
    F.hex of a bigint is the 64-bit two's complement (up to 16 hex chars),
    so lpad-to-16 + take the low `n_bytes` works for negatives too."""
    h = F.lpad(F.hex(col.cast("bigint")), 16, "0")
    return F.unhex(F.substring(h, 17 - 2 * n_bytes, 2 * n_bytes))


def audit_headers_wire(audit):
    """Serialized TBinaryProtocol LoggingAuditHeaders bytes from the decoded
    struct column — NULL when the struct is NULL.  Unset fields are omitted
    exactly like the Python/reference serializer."""
    empty = F.lit(b"")

    def field(fid: int, ttype: int, payload):
        hdr = F.lit(struct.pack(">bh", ttype, fid))
        return F.concat(hdr, payload)

    def opt(c, part):
        return F.when(c.isNotNull(), part).otherwise(empty)

    def strf(fid: int, c):
        b = c.cast("binary")
        return opt(c, field(fid, _TTYPE_STRING,
                            F.concat(_be_bytes(F.octet_length(b), 4), b)))

    parts = [
        strf(1, audit["host"]),
        strf(2, audit["logName"]),
        opt(audit["pid"], field(3, _TTYPE_I32, _be_bytes(audit["pid"], 4))),
        opt(audit["session"], field(4, _TTYPE_I64, _be_bytes(audit["session"], 8))),
        opt(audit["logSeqNumInSession"],
            field(5, _TTYPE_I32, _be_bytes(audit["logSeqNumInSession"], 4))),
        opt(audit["timestamp"], field(6, _TTYPE_I64, _be_bytes(audit["timestamp"], 8))),
        opt(audit["tracked"],
            field(7, _TTYPE_BOOL, _be_bytes(audit["tracked"].cast("int"), 1))),
    ]
    return F.when(audit.isNotNull(),
                  F.concat(*parts, F.lit(b"\x00"))).otherwise(F.lit(None).cast("binary"))


def with_kafka_audit_headers(df: DataFrame, audit_col: str = "auditHeaders",
                             checksum_col: str = "checksum",
                             headers_col: str = "headers") -> DataFrame:
    """Merge `loggingAuditHeaders` (serialized struct) and `messageCRC`
    (8-byte big-endian long, Longs.toByteArray parity) into the Kafka
    `headers` map<string,binary> the sinks consume — per-record, only for
    messages that carry the field, exactly the reference's injector gate
    (`msg.isSetLoggingAuditHeaders()` / `msg.isSetChecksum()`)."""
    empty = F.map_from_arrays(F.array().cast("array<string>"),
                              F.array().cast("array<binary>"))
    existing = F.col(headers_col) if headers_col in df.columns else empty

    def entry(cond, k, v):
        return F.when(cond, F.create_map(F.lit(k), v)).otherwise(empty)

    audit = F.col(audit_col)
    crc = F.col(checksum_col)
    merged = F.map_concat(
        F.coalesce(existing, empty),
        entry(audit.isNotNull(), "loggingAuditHeaders", audit_headers_wire(audit)),
        entry(crc.isNotNull(), "messageCRC", _be_bytes(crc, 8)),
    )
    return df.withColumn(headers_col, merged)
