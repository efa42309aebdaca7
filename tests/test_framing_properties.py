"""Property-based framing-codec tests (hypothesis) — the randomized layer
the reference's unit suite lacks (SURVEY.md §5: no property framework in the
reference; the oracle there is count-equality + content round-trip, which is
exactly the property asserted here over arbitrary inputs)."""

from __future__ import annotations

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from singer_spark.framing import decode_frames, encode_log_message, encode_log_messages, frame_text

message = st.binary(min_size=0, max_size=512)
key = st.one_of(st.none(), st.binary(min_size=0, max_size=32))
ts = st.one_of(st.none(), st.integers(min_value=0, max_value=2**62))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(message, key, ts), max_size=20))
def test_roundtrip_arbitrary_messages(msgs):
    blob = encode_log_messages([(m, k, t, None) for m, k, t in msgs])
    decoded = list(decode_frames(blob))
    assert len(decoded) == len(msgs)
    for (m, k, t), (dk, dm, dt, dcrc, daud, off) in zip(msgs, decoded):
        assert dm == m
        assert dk == k
        assert dt == t


@settings(max_examples=100, deadline=None)
@given(message)
def test_crc_is_verified_in_roundtrip(m):
    blob = encode_log_message(m, with_crc=True)
    (dk, dm, dt, dcrc, daud, off), = list(decode_frames(blob))
    assert dcrc == (zlib.crc32(m) & 0xFFFFFFFF)


@settings(max_examples=100, deadline=None)
@given(st.lists(message, min_size=1, max_size=10), st.integers(min_value=64, max_value=256))
def test_oversize_messages_dropped_not_fatal(msgs, max_size):
    # messages in (max, 10×max] are dropped; frames beyond the 10× internal
    # tolerance are fatal in the reference too (ThriftLogFileReader.java:108),
    # so the strategy stays inside the documented envelope (≤512B payloads,
    # ≥64B max ⇒ frame ≤ 10×max always holds)
    blob = encode_log_messages([(m, None, None, None) for m in msgs])
    decoded = list(decode_frames(blob, max_message_size=max_size))
    assert [dm for _, dm, _, _, _, _ in decoded] == [m for m in msgs if len(m) <= max_size]


@settings(max_examples=100, deadline=None)
@given(st.lists(message, min_size=1, max_size=10), st.integers(min_value=1, max_value=200))
def test_truncated_tail_stops_cleanly(msgs, cut):
    blob = encode_log_messages([(m, None, None, None) for m in msgs])
    truncated = blob[:max(0, len(blob) - cut)]
    decoded = list(decode_frames(truncated))  # must not raise
    # every fully-contained frame decodes; the partial tail is withheld
    assert len(decoded) <= len(msgs)
    for (_, dm, _, _, _, _), m in zip(decoded, msgs):
        assert dm == m


line = st.text(alphabet=st.characters(blacklist_characters="\n", codec="ascii"),
               min_size=0, max_size=30)


@settings(max_examples=200, deadline=None)
@given(st.lists(line, min_size=1, max_size=30))
def test_frame_text_lossless_partition(lines):
    blob = "\n".join(lines)
    # no regex ⇒ one message per line, each carrying its newline (the
    # reference reader emits newline-terminated messages); a single trailing
    # empty line is the file's final newline, not a message
    expected = list(lines)
    if expected and expected[-1] == "":
        expected.pop()
    msgs = frame_text(blob, None)
    assert msgs == [l + "\n" for l in expected]
    # multi-line framing on a marker keeps original line endings:
    # concatenating the messages reproduces the blob byte-for-byte
    framed = frame_text(blob, r"^MSG", eof_as_boundary=True)
    assert "".join(framed) == blob


def test_corrupt_string_length_stays_frame_local():
    """A corrupted string-length prefix must never leak the NEXT frame's
    bytes into a message nor copy past the frame end (review r9 #1): the
    value truncates at the frame boundary exactly like the old bounded
    body slice, and the following frame still decodes intact."""
    import struct

    from singer_spark.framing import decode_frames, encode_log_message

    f1 = bytearray(encode_log_message(b"AAAA-message-one"))
    f2 = encode_log_message(b"BBBB-message-two")
    # field layout: 4B frame len, then 1B type, 2B fid, 4B strlen
    (orig_len,) = struct.unpack_from(">I", f1, 7)
    struct.pack_into(">I", f1, 7, 2_000_000_000)  # absurd length
    blob = bytes(f1) + f2
    out = list(decode_frames(blob))
    msgs = [m for _, m, *_ in out]
    # the corrupt frame's message is clamped inside its own frame
    assert all(b"BBBB-message-two" != m[:16] or m == b"BBBB-message-two"
               for m in msgs)
    assert b"BBBB-message-two" in msgs          # next frame intact
    for m in msgs:
        assert len(m) <= len(f1)                # no unbounded copy
    # restore the real length: both decode cleanly
    struct.pack_into(">I", f1, 7, orig_len)
    ok = [m for _, m, *_ in decode_frames(bytes(f1) + f2)]
    assert ok == [b"AAAA-message-one", b"BBBB-message-two"]
