"""Thrift LogMessage codec + text framer unit tests.

Models the reference's reader tests (ThriftLogFileReaderTest,
TextMessageReaderTest — multi-line regex framing cases, oversize drops)."""

from __future__ import annotations

import os
import struct
import zlib

import pytest

from singer_spark.framing import (
    decode_frames,
    encode_log_message,
    encode_log_messages,
    frame_text,
)


def test_roundtrip_full_fields():
    frame = encode_log_message(b"payload", key=b"k1", timestamp_nanos=123456789, checksum=None, with_crc=True)
    [(key, msg, ts, crc, audit, off)] = list(decode_frames(frame))
    assert key == b"k1"
    assert msg == b"payload"
    assert ts == 123456789
    assert crc == zlib.crc32(b"payload") & 0xFFFFFFFF
    assert off == 0


def test_roundtrip_minimal():
    frame = encode_log_message(b"just-message")
    [(key, msg, ts, crc, audit, _)] = list(decode_frames(frame))
    assert key is None and ts is None and crc is None
    assert msg == b"just-message"


def test_multiple_frames_with_offsets():
    blob = encode_log_messages([(b"a",), (b"bb",), (b"ccc",)])
    rows = list(decode_frames(blob))
    assert [r[1] for r in rows] == [b"a", b"bb", b"ccc"]
    # offsets point at each frame start
    offsets = [r[5] for r in rows]
    assert offsets[0] == 0 and offsets[1] > 0 and offsets[2] > offsets[1]
    # resume from the second frame's offset
    resumed = list(decode_frames(blob, start_offset=offsets[1]))
    assert [r[1] for r in resumed] == [b"bb", b"ccc"]


def test_truncated_tail_frame_stops_cleanly():
    blob = encode_log_messages([(b"whole",), (b"partial-message",)])
    cut = blob[:-5]  # writer crashed mid-frame
    rows = list(decode_frames(cut))
    assert [r[1] for r in rows] == [b"whole"]


def test_oversize_drop():
    # parity: ThriftLogFileReader.java:152-157 — drop, not fail
    blob = encode_log_messages([(b"ok",), (b"x" * 800,), (b"ok2",)])
    rows = list(decode_frames(blob, max_message_size=100))
    assert [r[1] for r in rows] == [b"ok", b"ok2"]


def test_oversize_internal_tolerance_exceeded():
    blob = encode_log_message(b"y" * 5000)
    with pytest.raises(ValueError):
        list(decode_frames(blob, max_message_size=100))  # 5000 > 10*100


def test_unknown_field_skipped():
    # forward-compat: an extra i64 field id 9 must be skipped
    body = (
        struct.pack(">bhI", 11, 2, 3) + b"msg"
        + struct.pack(">bhq", 10, 9, 42)
        + b"\x00"
    )
    blob = struct.pack(">I", len(body)) + body
    [(key, msg, ts, crc, audit, _)] = list(decode_frames(blob))
    assert msg == b"msg" and ts is None


def test_audit_header_struct_with_all_scalar_types_skipped():
    """Wire compat: LoggingAuditHeaders (LogMessage field 5) is a STRUCT
    containing string/i64/i32/bool fields — every TBinaryProtocol type must
    skip cleanly, plus map/set/list for full TProtocolUtil.skip parity."""
    audit_struct = (
        struct.pack(">bhI", 11, 1, 4) + b"host"        # string host
        + struct.pack(">bhq", 10, 2, 77)               # i64 timestamp
        + struct.pack(">bhi", 8, 3, 4242)              # i32 pid
        + struct.pack(">bhb", 2, 4, 1)                 # bool tracked
        + struct.pack(">bhh", 6, 5, 7)                 # i16
        + struct.pack(">bhd", 4, 6, 2.5)               # double
        + struct.pack(">bhb", 3, 7, 9)                 # byte
        + b"\x00"
    )
    a_map = struct.pack(">bbI", 11, 10, 1) + (
        struct.pack(">I", 1) + b"k" + struct.pack(">q", 5))  # map<string,i64>{k:5}
    a_list = struct.pack(">bI", 8, 2) + struct.pack(">ii", 1, 2)  # list<i32>[1,2]
    body = (
        struct.pack(">bhI", 11, 2, 3) + b"msg"                    # message
        + struct.pack(">bh", 12, 5) + audit_struct                # struct field 5
        + struct.pack(">bh", 13, 8) + a_map                       # map field 8
        + struct.pack(">bh", 15, 9) + a_list                      # list field 9
        + b"\x00"
    )
    blob = struct.pack(">I", len(body)) + body
    [(key, msg, ts, crc, audit, _)] = list(decode_frames(blob))
    assert msg == b"msg" and key is None and ts is None


def test_decode_file_tolerant_keeps_prefix_and_skips_rest():
    from singer_spark.framing import decode_file_tolerant

    good = encode_log_messages([(b"a",), (b"bb",)])
    corrupt = good + struct.pack(">I", 50_000) + b"\xff" * 10  # giant frame len
    rows = decode_file_tolerant(corrupt, "f.log", max_message_size=100)
    assert [r[1] for r in rows] == [b"a", b"bb"]  # prefix kept, no raise


def test_truncated_i64_frame_does_not_leak_next_frame_bytes():
    # A frame whose declared length cuts an i64 mid-value must be treated as
    # corrupt (skip-file-remainder), NOT decoded by reading the NEXT frame's
    # header bytes as the value.  Regression for the in-place decoder: the
    # absolute-offset reads continue into the following frame unless each
    # fixed-width read is bounds-checked against the frame end.
    from singer_spark.framing import decode_file_tolerant, decode_frames

    good = encode_log_message(b"first", timestamp_nanos=111)
    cut = encode_log_message(b"second", timestamp_nanos=222)
    # chop the last 6 bytes (stop byte + 5 bytes of the i64 value), then FIX
    # the length prefix so the frame still claims to be self-contained (a
    # corrupt write, not a truncated tail)
    cut_body = cut[4: len(cut) - 6]
    cut = struct.pack(">I", len(cut_body)) + cut_body
    trailer = encode_log_message(b"third", timestamp_nanos=333)
    blob = good + cut + trailer

    rows = decode_file_tolerant(blob, "f.log")
    # only the intact leading frame survives; the corrupt frame neither
    # emits garbage metadata nor swallows/corrupts the trailer silently
    assert [r[1] for r in rows] == [b"first"]
    assert rows[0][2] == 111
    # and decode_frames raises (it does NOT yield a 'second' with a
    # timestamp assembled from the trailer frame's header bytes)
    import pytest as _pytest
    gen = decode_frames(blob)
    assert next(gen)[1] == b"first"
    with _pytest.raises(ValueError):
        next(gen)


def test_deeply_nested_struct_bytes_classified_corrupt_not_recursion():
    """Review r10 #1: a frame whose body bytes spell thousands of nested
    TSTRUCT fields (0x0c + field id, all within the frame bounds) must be
    classified corrupt by the nesting cap, NOT recurse past Python's
    frame limit — RecursionError would escape decode_file_tolerant and
    deterministically kill the streaming query."""
    from singer_spark.framing import decode_file_tolerant

    good = encode_log_message(b"ok", timestamp_nanos=1)
    # field 9 (unknown -> _skip_field), then 4000 levels of 'struct
    # containing a struct field' followed by no stop bytes
    nested = struct.pack(">bh", 12, 9) + struct.pack(">bh", 12, 1) * 4000
    bomb = struct.pack(">I", len(nested)) + nested
    rows = decode_file_tolerant(good + bomb + good, "f.log")
    assert [r[1] for r in rows] == [b"ok"]  # prefix kept, no blow-up


def test_truncated_audit_struct_is_corrupt_not_garbage():
    from singer_spark.framing import decode_file_tolerant

    good = encode_log_message(b"ok", timestamp_nanos=1)
    with_audit = encode_log_message(
        b"au", audit_headers={"host": "h1", "pid": 7, "session": 99})
    # cut the audit struct mid-field and re-stamp the frame length
    body = with_audit[4: len(with_audit) - 4]
    cut = struct.pack(">I", len(body)) + body
    rows = decode_file_tolerant(good + cut + good, "f.log")
    assert [r[1] for r in rows] == [b"ok"]


def test_frame_text_line_per_message():
    assert frame_text("a\nb\nc\n", None) == ["a\n", "b\n", "c\n"]
    assert frame_text("a\nb", None) == ["a\n", "b\n"]


def test_frame_text_multiline_start_regex():
    # reference: TextMessageReader multi-line framing — a line matching the
    # start regex begins a new message; non-matching lines are continuations
    blob = "2024-01-01 ERROR boom\n  at Foo.java:1\n  at Bar.java:2\n2024-01-02 INFO ok\n"
    msgs = frame_text(blob, r"^\d{4}-\d{2}-\d{2} ")
    assert len(msgs) == 2
    assert msgs[0].count("at ") == 2
    assert msgs[1] == "2024-01-02 INFO ok\n"


def test_frame_text_leading_continuation_attaches_to_first():
    msgs = frame_text("orphan line\nSTART one\nSTART two\n", r"^START")
    assert len(msgs) == 3  # orphan forms its own leading message
    assert msgs[0] == "orphan line\n"


def test_frame_text_splits_at_newline_only():
    """`\r` and form feed are line content, not line ends: the blob holds
    two lines and only the first starts with a date."""
    blob = "2024-01-01 a\r2024-01-02 b\n  cont\x0c2024-01-03 c\n"
    assert frame_text(blob, r"^\d{4}-") == [blob]
    assert frame_text(blob + "2024-01-04 d\n", r"^\d{4}-") == [blob, "2024-01-04 d\n"]


def test_frame_text_eof_boundary_withheld():
    msgs = frame_text("START a\nSTART b-partial", r"^START", eof_as_boundary=False)
    assert msgs == ["START a\n"]  # trailing message may still be growing


def test_loggen_rotation_and_dump(tmp_path, capsys):
    import sys
    sys.path.insert(0, "/root/repo/tools")
    import loggen

    log_dir = str(tmp_path / "gen")
    n = loggen.generate(log_dir, "app.log", n_messages=500, max_file_bytes=20_000)
    assert n == 500
    files = sorted(os.listdir(log_dir))
    assert "app.log" in files and len(files) > 1  # rotation happened
    # every message decodes back with a valid CRC across all rotated files
    total = 0
    for name in files:
        total += loggen.dump(os.path.join(log_dir, name))
    assert total == 500


# ---------------------------------------------------------------------------
# T6/W9 — LoggingAuditHeaders end-to-end.
# ---------------------------------------------------------------------------
AUDIT = {"host": "h1", "logName": "app_log", "pid": 4242,
         "session": 1723500000000, "logSeqNumInSession": 7,
         "timestamp": 1723500001234, "tracked": True}


def test_audit_headers_roundtrip_python():
    from singer_spark.framing import decode_audit_headers, encode_audit_headers

    blob = encode_audit_headers(AUDIT)
    decoded, pos = decode_audit_headers(blob)
    assert decoded == AUDIT and pos == len(blob)
    # unset optional field omitted on the wire and absent after decode
    partial = {k: v for k, v in AUDIT.items() if k != "tracked"}
    decoded2, _ = decode_audit_headers(encode_audit_headers(partial))
    assert decoded2 == partial


def test_audit_headers_decoded_from_log_message():
    frame = encode_log_message(b"payload", key=b"k", with_crc=True,
                               audit_headers=AUDIT)
    [(_, msg, _, crc, audit, _)] = list(decode_frames(frame))
    assert msg == b"payload" and audit == AUDIT
    assert crc == zlib.crc32(b"payload") & 0xFFFFFFFF


def test_audit_headers_wire_expr_parity(spark):
    """The JVM binary-concat serializer must emit byte-identical
    TBinaryProtocol to the Python encoder for every isSet combination."""
    from pyspark.sql import Row

    from singer_spark.framing import (AUDIT_HEADERS_SCHEMA, audit_headers_wire,
                                      encode_audit_headers)

    cases = [
        AUDIT,
        {**AUDIT, "tracked": False},
        {k: v for k, v in AUDIT.items() if k != "tracked"},
        {"host": "", "logName": "ünïcødé ✓", "pid": -1, "session": -2,
         "logSeqNumInSession": 0, "timestamp": 0, "tracked": False},
        {"host": "only-host"},
        None,
    ]
    rows = [Row(i=i, auditHeaders=c) for i, c in enumerate(cases)]
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("i", IntegerType()),
                         StructField("auditHeaders", AUDIT_HEADERS_SCHEMA)])
    df = spark.createDataFrame(rows, schema)
    got = {r["i"]: (bytes(r["w"]) if r["w"] is not None else None)
           for r in df.select("i", audit_headers_wire(df["auditHeaders"]).alias("w")).collect()}
    for i, c in enumerate(cases):
        want = encode_audit_headers(c) if c is not None else None
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_kafka_audit_header_injection(spark, tmp_path):
    """Decoded file → with_kafka_audit_headers → direct Kafka batch writer:
    the producer must observe the serialized struct under
    'loggingAuditHeaders' and the big-endian CRC under 'messageCRC'
    (writer/KafkaWriter.java:421-436 parity).  Executors run in separate
    processes, so the fake producer records sends as hex JSONL files."""
    import json
    import uuid

    from singer_spark import sinks
    from singer_spark.framing import (decode_thrift_blobs, encode_audit_headers,
                                      encode_log_messages, with_kafka_audit_headers)

    blob = encode_log_messages([
        (b"m-audited", b"k1", 11, None, True, AUDIT),
        (b"m-plain", b"k2", 22, None, False, None),
    ])
    df = spark.createDataFrame([("f.log", bytearray(blob))], "path string, content binary")
    out = with_kafka_audit_headers(decode_thrift_blobs(df))
    out_dir = str(tmp_path)

    def factory(servers, configs, _dir=out_dir):
        class FakeProducer:
            def __init__(self):
                self.pending = []

            def send(self, topic, value=None, key=None, headers=None, partition=None):
                self.pending.append({
                    "key": key.decode(),
                    "headers": {k: v.hex() for k, v in (headers or [])},
                })

            def flush(self):
                import os as _os
                with open(_os.path.join(_dir, f"s-{uuid.uuid4().hex}.jsonl"), "w") as f:
                    for rec in self.pending:
                        f.write(json.dumps(rec) + "\n")

        return FakeProducer()

    sinks.kafka_write_batch(out, "broker:9092", "t6", factory)
    recs = []
    for p in tmp_path.glob("s-*.jsonl"):
        recs += [json.loads(line) for line in p.read_text().splitlines()]
    assert len(recs) == 2
    by_key = {r["key"]: r["headers"] for r in recs}
    assert by_key["k1"]["loggingAuditHeaders"] == encode_audit_headers(AUDIT).hex()
    crc1 = zlib.crc32(b"m-audited") & 0xFFFFFFFF
    assert by_key["k1"]["messageCRC"] == crc1.to_bytes(8, "big").hex()
    # m-plain carries neither audit headers nor a checksum → nothing injected
    # (the reference's isSetLoggingAuditHeaders/isSetChecksum gates)
    assert by_key["k2"] == {}


def test_audit_events_for_tracked_flags_corrupt_messages(spark):
    """W9: only tracked messages produce events, and a CRC mismatch flips
    message_valid (KafkaWriter.checkMessageValid parity)."""
    from singer_spark.audit import audit_events_for_tracked
    from singer_spark.framing import decode_thrift_blobs, encode_log_message

    good = encode_log_message(b"ok-payload", key=b"1", with_crc=True,
                              audit_headers={**AUDIT, "logSeqNumInSession": 1})
    corrupt = encode_log_message(b"bad-payload", key=b"2",
                                 checksum=12345,  # wrong on purpose
                                 audit_headers={**AUDIT, "logSeqNumInSession": 2})
    untracked = encode_log_message(b"quiet", key=b"3", with_crc=True,
                                   audit_headers={**AUDIT, "tracked": False,
                                                  "logSeqNumInSession": 3})
    plain = encode_log_message(b"no-audit", key=b"4", with_crc=True)
    df = spark.createDataFrame(
        [("f.log", bytearray(good + corrupt + untracked + plain))],
        "path string, content binary")
    events = audit_events_for_tracked(decode_thrift_blobs(df),
                                      hostname="h-test").collect()
    by_seq = {r.log_seq: r for r in events}
    assert set(by_seq) == {1, 2}  # untracked + headerless excluded
    assert by_seq[1].message_valid is True
    assert by_seq[2].message_valid is False
    assert all(r.stage == "SINGER" and r.host == "h-test" for r in events)
