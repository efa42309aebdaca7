"""Sub-file tailing source (S7/S2): incremental delivery from GROWING files,
per-inode byte offsets, exactly-once across kill/restart — the reference
behaviors of reader/DefaultLogStreamReader.java:44-216 and
reader/ThriftReader.java:74-151 (seekable offset resume)."""

from __future__ import annotations

import os

from singer_spark.streaming.tail import tail_stream


def _append(path: str, data: str) -> None:
    with open(path, "a") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())


def _drain(spark, log_dir, ckpt, table, **kw):
    """One availableNow micro-batch cycle into a parquet sink, resuming from
    the checkpoint — the run_cycle pattern, so restarts are real restarts
    (the memory sink can't recover from a checkpoint)."""
    out = os.path.join(os.path.dirname(ckpt), f"{table}_out")
    q = (tail_stream(spark, log_dir, **kw).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    q.stop()
    return [(r.value, r.pos) for r in
            spark.read.parquet(out).orderBy("pos").collect()]


def test_tail_delivers_appends_and_holds_partial_lines(spark, tmp_path):
    d = str(tmp_path / "logs")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    log = f"{d}/app.log"
    _append(log, "line one\nline two\npart")  # open partial tail line

    got = _drain(spark, d, ckpt, "tail_t1")
    assert [v for v, _ in got] == ["line one", "line two"]  # partial held back

    # the writer finishes the line and appends more — ONLY the new frames
    # arrive, from the remembered byte offset
    _append(log, "ial done\nline four\n")
    got = _drain(spark, d, ckpt, "tail_t1")
    assert [v for v, _ in got] == ["line one", "line two", "partial done", "line four"]
    # offsets are the true file positions
    assert got[2][1] == len("line one\nline two\n")


def test_tail_exactly_once_across_restart(spark, tmp_path):
    d = str(tmp_path / "logs")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    _append(f"{d}/a.log", "m1\nm2\n")
    assert [v for v, _ in _drain(spark, d, ckpt, "tail_t2")] == ["m1", "m2"]

    # "kill": the query object is gone; a NEW query on the SAME checkpoint
    # must pick up only what arrived since — no duplicates, no loss
    _append(f"{d}/a.log", "m3\n")
    assert [v for v, _ in _drain(spark, d, ckpt, "tail_t2")] == ["m1", "m2", "m3"]
    # nothing new → empty batch, still no duplicates
    assert [v for v, _ in _drain(spark, d, ckpt, "tail_t2")] == ["m1", "m2", "m3"]


def test_tail_rotation_by_rename_keeps_offset(spark, tmp_path):
    d = str(tmp_path / "logs")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    _append(f"{d}/app.log", "old1\nold2\n")
    got = _drain(spark, d, ckpt, "tail_t3", glob="app.log*")
    assert [v for v, _ in got] == ["old1", "old2"]

    # rotate: rename keeps the inode → offset survives; writer appends to the
    # ROTATED file before switching, then a fresh app.log starts at 0
    os.rename(f"{d}/app.log", f"{d}/app.log.1")
    _append(f"{d}/app.log.1", "old3\n")
    _append(f"{d}/app.log", "new1\n")
    got = _drain(spark, d, ckpt, "tail_t3", glob="app.log*")
    vals = sorted(v for v, _ in got)
    assert vals == ["new1", "old1", "old2", "old3"]  # old3 once — not re-read


def test_tail_chunked_catchup_reads_each_line_once(spark, tmp_path):
    d = str(tmp_path / "logs")
    os.makedirs(d)
    lines = [f"message number {i:04d}" for i in range(200)]
    _append(f"{d}/big.log", "".join(l + "\n" for l in lines))
    # tiny chunks force many partitions with split-boundary line handling
    got = _drain(spark, d, str(tmp_path / "ckpt"), "tail_t4", chunk_bytes=97)
    assert [v for v, _ in got] == lines


def test_tail_reader_through_pipeline_manager(spark, tmp_path):
    """E2e through the engine: a LogConfig with reader type 'tail' delivers
    appended frames exactly once across drain cycles (each run_cycle is a
    fresh query restarted from the checkpoint — a real kill/restart)."""
    from singer_spark.config import LogConfig, ProcessorConfig, ReaderConfig, WriterConfig
    from singer_spark.engine import PipelineManager

    d = str(tmp_path / "logs")
    os.makedirs(d)
    out = str(tmp_path / "out")
    cfg = LogConfig(
        name="tailed", log_dir=d, log_stream_regex="*.log",
        reader=ReaderConfig(type="tail"),
        writer=WriterConfig(type="file", path=out, format="parquet",
                            min_upload_seconds=0),
        processor=ProcessorConfig(processing_interval_secs=1,
                                  max_processing_interval_secs=4),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    mgr = PipelineManager(spark)
    _append(f"{d}/app.log", "first\nsecond\nhalf")
    assert mgr.run_cycle(cfg) == 2  # the partial line is held back
    _append(f"{d}/app.log", "-done\n")
    assert mgr.run_cycle(cfg) == 1  # only the completed frame, exactly once
    vals = sorted(r.value for r in spark.read.parquet(out).collect())
    assert vals == ["first", "half-done", "second"]


def test_tail_truncated_file_is_reread(spark, tmp_path):
    d = str(tmp_path / "logs")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    _append(f"{d}/t.log", "a1\na2\n")
    assert [v for v, _ in _drain(spark, d, ckpt, "tail_t5")] == ["a1", "a2"]
    # truncate-and-reuse (copytruncate rotation): content restarts
    with open(f"{d}/t.log", "w") as f:
        f.write("b1\n")
    got = _drain(spark, d, ckpt, "tail_t5")
    assert sorted(v for v, _ in got) == ["a1", "a2", "b1"]  # b1 re-read from 0


# ---------------------------------------------------------------------------
# Round-4 hardening: bounded driver I/O, content fingerprints, replay paths,
# framed-thrift tailing.
# ---------------------------------------------------------------------------
def _reader(d, **opts):
    from singer_spark.streaming.tail import TailStreamReader

    return TailStreamReader({"path": d, **{k: str(v) for k, v in opts.items()}})


def test_tail_driver_opens_only_changed_files(tmp_path):
    """Steady-state trigger cost is O(changed files): an unchanged directory
    costs zero opens; appending to one file costs exactly one."""
    d = str(tmp_path)
    for i in range(5):
        _append(f"{d}/f{i}.log", f"line {i}\n")
    r = _reader(d)
    r.latestOffset()
    assert r.opens == 5  # first sight: every file scanned once
    r.latestOffset()
    assert r.opens == 5  # nothing changed: zero new opens
    _append(f"{d}/f2.log", "more\n")
    off = r.latestOffset()
    assert r.opens == 6  # only the changed file was opened
    assert sum(v["off"] for v in off["files"].values()) == sum(
        len(f"line {i}\n") for i in range(5)) + len("more\n")


def test_tail_copytruncate_regrow_detected_by_fingerprint(tmp_path):
    """copytruncate under sustained writes: the file is truncated and regrows
    PAST the old offset between triggers.  Size alone looks like growth; the
    prefix fingerprint catches it and the new content replans from 0."""
    d = str(tmp_path)
    log = f"{d}/t.log"
    _append(log, "old-1\nold-2\n")
    r = _reader(d)
    start = r.latestOffset()
    (rec,) = start["files"].values()
    assert rec["off"] == 12 and rec["fp"] is not None

    # truncate + regrow past 12 bytes with different content, one trigger
    with open(log, "w") as f:
        f.write("NEW-a\nNEW-b\nNEW-c\n")
    end = r.latestOffset()
    parts = r.partitions(start, end)
    assert [(p.start, p.end) for p in parts] == [(0, 18)]  # re-read from 0


def test_tail_duplicates_suspected_counter(tmp_path):
    """Fingerprint-mismatch reopens are COUNTED in the counters-file
    side channel (VERDICT r6 task #7; side channel since r8 — ADVICE r7
    #2, and the reader runs in its own Python worker so the channel must
    cross processes): each suspected-duplicate window increments
    `reopens` and adds the previously committed bytes to `bytes`; plain
    growth never counts; the OFFSET dict stays a pure function of source
    position (no counter keys).  Counters are per reader lifetime (the
    reference's process-lifetime metric semantics)."""
    from singer_spark.streaming.tail import read_counters

    d = str(tmp_path)
    log = f"{d}/t.log"
    _append(log, "old-1\nold-2\n")
    r = _reader(d)
    start = r.latestOffset()
    assert set(start.keys()) == {"files"}  # position-only offsets
    assert read_counters(d) == {"reopens": 0, "bytes": 0}

    # plain growth: no suspicion
    _append(log, "old-3\n")
    r.latestOffset()
    assert read_counters(d)["reopens"] == 0

    # copytruncate-regrow: prefix changed → one suspected window of the
    # previously committed 18 bytes
    with open(log, "w") as f:
        f.write("NEW-a\nNEW-b\nNEW-c\nNEW-d\n")
    end = r.latestOffset()
    assert set(end.keys()) == {"files"}
    assert read_counters(d) == {"reopens": 1, "bytes": 18}

    # shrink-only truncation also counts (committed bytes vanished)
    with open(log, "w") as f:
        f.write("x\n")
    r.latestOffset()
    assert read_counters(d) == {"reopens": 2, "bytes": 18 + 24}

    # restart: fresh reader re-registers ZEROED process-lifetime counters
    fresh = _reader(d)
    fresh.latestOffset()
    assert read_counters(d) == {"reopens": 0, "bytes": 0}


def test_tail_copytruncate_copy_counts_exact_windows(tmp_path):
    """The copytruncate COPY (a new inode whose prefix equals the live
    stream's committed prefix, landing in the watched glob) is the
    dominant duplicate source — each copy counts exactly one suspected
    window of exactly the bytes committed from the live inode, across
    several rotations, including the unequal-fingerprint-length case."""
    import shutil

    d = str(tmp_path)
    log = f"{d}/ct.log"
    r = _reader(d)
    expected_windows = []
    line_no = 0
    for rot in range(3):
        for _ in range(5 + rot):
            _append(log, f"ct:{line_no}\n")
            line_no += 1
        off = r.latestOffset()["files"]
        committed = next(v["off"] for v in off.values()
                         if v["path"] == log)
        # copytruncate: copy out (new inode in the watched dir), truncate
        shutil.copyfile(log, f"{d}/ct.log.r{rot}")
        with open(log, "r+b") as f:
            f.truncate(0)
        expected_windows.append(committed)
    r.latestOffset()
    # ONE window per rotation: the copy's prefix match and the live
    # inode's truncation reopen are the same event and are reconciled
    from singer_spark.streaming.tail import read_counters

    assert read_counters(d) == {
        "reopens": len(expected_windows), "bytes": sum(expected_windows)}


def test_heartbeat_surfaces_duplicates_suspected():
    """The compat path: build_status's helper still reads counters out
    of a pre-r8 progress dict's counter-bearing endOffset (JSON string,
    as Spark reports it); live readers publish via READER_COUNTERS."""
    import json as json_mod

    from singer_spark.heartbeat import _dupes_from_progress

    p = {"sources": [
        {"endOffset": json_mod.dumps(
            {"files": {}, "dupes_suspected": 3, "dupe_bytes": 4096})},
        {"endOffset": json_mod.dumps({"files": {}})},  # no counters: ignored
    ]}
    assert _dupes_from_progress(p) == {"reopens": 3, "bytes": 4096}
    assert _dupes_from_progress({"sources": [{"endOffset": "{}"}]}) is None
    assert _dupes_from_progress({}) is None


def test_tail_plain_growth_keeps_offset(tmp_path):
    d = str(tmp_path)
    log = f"{d}/g.log"
    _append(log, "a\n" * 10)
    r = _reader(d)
    start = r.latestOffset()
    _append(log, "b\n" * 3)
    end = r.latestOffset()
    (p,) = r.partitions(start, end)
    assert (p.start, p.end) == (20, 26)  # delta only — fingerprint matched


def test_tail_replay_reresolves_renamed_path(tmp_path):
    """A checkpointed batch replayed after rotate-by-rename must open the
    inode's CURRENT name, not the recorded one (fresh reader = restart)."""
    d = str(tmp_path)
    _append(f"{d}/app.log", "m1\nm2\n")
    r = _reader(d)
    start, end = r.initialOffset(), r.latestOffset()
    os.rename(f"{d}/app.log", f"{d}/app.log.1")

    fresh = _reader(d)  # restart: no in-memory listing yet
    (p,) = fresh.partitions(start, end)
    assert p.path.endswith("app.log.1")
    assert [t[0] for t in fresh.read(p)] == ["m1", "m2"]


def test_tail_rotation_between_stat_and_open_reads_each_line_once(
        tmp_path, monkeypatch):
    """A rename-rotation landing between the listing's stat and the scan's
    open (app.log -> app.log.1, then a new app.log) must not file the new
    file's offset and fingerprint under the old inode: two triggers across
    the race read every line exactly once."""
    from singer_spark.streaming import tail

    d = str(tmp_path)
    log = f"{d}/app.log"
    _append(log, "a1\na2\n")
    r = _reader(d)

    def trigger(start):
        end = r.latestOffset()
        return end, [t[0] for p in r.partitions(start, end) for t in r.read(p)]

    off, lines = trigger(r.initialOffset())
    _append(log, "a3\na4\n")

    real_stat, rotated = os.stat, []

    def stat_then_rotate(path, *args, **kwargs):
        st = real_stat(path, *args, **kwargs)
        if path == log and not rotated:
            rotated.append(path)
            os.rename(log, f"{log}.1")
            _append(log, "b1\n")
        return st

    monkeypatch.setattr(tail.os, "stat", stat_then_rotate)
    off, got = trigger(off)
    monkeypatch.undo()
    assert rotated
    lines += got
    _append(log, "b2\n")
    off, got = trigger(off)
    lines += got
    assert sorted(lines) == ["a1", "a2", "a3", "a4", "b1", "b2"]


def test_tail_thrift_mode_exactly_once_across_restart(spark, tmp_path):
    """S2 parity: framed-thrift messages appended to a GROWING file deliver
    incrementally with byte-offset resume; a partial tail frame is held; a
    restart (fresh query, same checkpoint) neither loses nor duplicates."""
    from singer_spark.framing import encode_log_message
    from singer_spark.streaming.tail import tail_stream

    d = str(tmp_path / "logs")
    os.makedirs(d)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    log = f"{d}/t.log"

    def drain():
        q = (tail_stream(spark, d, mode="thrift").writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()
        return sorted((bytes(r.value).decode(), r.offset)
                      for r in spark.read.parquet(out).collect())

    f1 = encode_log_message(b"msg-1", key=b"1", with_crc=True)
    f2 = encode_log_message(b"msg-2", key=b"2", with_crc=True,
                            audit_headers={"host": "h", "logName": "t",
                                           "pid": 1, "session": 2,
                                           "logSeqNumInSession": 0,
                                           "timestamp": 3, "tracked": True})
    with open(log, "ab") as f:
        f.write(f1 + f2[: len(f2) // 2])  # partial second frame
    assert [v for v, _ in drain()] == ["msg-1"]  # partial frame held back

    with open(log, "ab") as f:  # writer finishes frame 2, adds frame 3
        f.write(f2[len(f2) // 2:] + encode_log_message(b"msg-3", key=b"3"))
    got = drain()  # fresh query on the same checkpoint — a real restart
    assert [v for v, _ in got] == ["msg-1", "msg-2", "msg-3"]
    assert [o for _, o in got] == [0, len(f1), len(f1) + len(f2)]
    # the audit headers rode through the stream
    rows = {bytes(r.value): r for r in spark.read.parquet(out).collect()}
    assert rows[b"msg-2"].auditHeaders.host == "h"
    assert rows[b"msg-2"].auditHeaders.tracked is True
    assert rows[b"msg-1"].auditHeaders is None
    # nothing new → no duplicates
    assert len(drain()) == 3


def test_tail_thrift_chunk_boundaries_align_to_frames(tmp_path):
    from singer_spark.framing import encode_log_message

    d = str(tmp_path)
    frames = [encode_log_message(f"payload-{i:03d}".encode(), key=b"k")
              for i in range(50)]
    with open(f"{d}/big.log", "wb") as f:
        f.writelines(frames)
    r = _reader(d, mode="thrift", chunk_bytes=100)
    start, end = r.initialOffset(), r.latestOffset()
    parts = r.partitions(start, end)
    assert len(parts) > 5  # the catch-up actually split
    # every boundary is a frame boundary: each part decodes standalone and
    # the union is exactly the input, in order
    out = []
    for p in sorted(parts, key=lambda p: p.start):
        out += [bytes(t[1]) for t in r.read(p)]
    assert out == [f"payload-{i:03d}".encode() for i in range(50)]


def test_tail_max_bytes_per_trigger_paces_text(tmp_path):
    """Catch-up pacing: a backlog drains ~cap bytes per trigger, each end
    snapped to a line boundary, until caught up; then steady-state."""
    d = str(tmp_path)
    _append(f"{d}/p.log", "".join(f"line-{i:04d}\n" for i in range(100)))  # 1000B
    r = _reader(d, max_bytes_per_trigger=250)
    offs = []
    prev = r.initialOffset()
    for _ in range(6):
        cur = r.latestOffset()
        (rec,) = cur["files"].values()
        offs.append(rec["off"])
        parts = r.partitions(prev, cur)
        got = [t for p in parts for t in r.read(p)]
        assert all(v.startswith("line-") for v, _, _ in got)  # boundary snap
        prev = cur
    assert offs == [250, 500, 750, 1000, 1000, 1000]


def test_tail_cap_does_not_stall_on_giant_line(tmp_path):
    d = str(tmp_path)
    _append(f"{d}/g.log", "x" * 500 + "\n")  # one line far above the cap
    r = _reader(d, max_bytes_per_trigger=100)
    (rec,) = r.latestOffset()["files"].values()
    assert rec["off"] == 501  # unbounded retry let it through


def test_tail_cap_after_restart_skips_committed_region(tmp_path):
    """A restarted (fresh) reader whose capped latestOffset lags the
    checkpointed offset must emit NOTHING for that file (fingerprint-
    verified pacing), never re-read from 0."""
    d = str(tmp_path)
    _append(f"{d}/c.log", "".join(f"row-{i:03d}\n" for i in range(50)))  # 400B
    full = _reader(d)
    committed = full.latestOffset()  # checkpointed end = 400

    fresh = _reader(d, max_bytes_per_trigger=100)
    lagging = fresh.latestOffset()
    (rec,) = lagging["files"].values()
    assert rec["off"] == 96  # capped (snapped to 12 whole 8-byte lines)
    assert fresh.partitions(committed, lagging) == []  # no re-read, no dupes
    # once commit() tells the reader the true floor, pacing resumes from it
    fresh.commit(committed)
    nxt = fresh.latestOffset()
    (rec2,) = nxt["files"].values()
    assert rec2["off"] == 400


def test_tail_max_bytes_per_trigger_paces_thrift(tmp_path):
    from singer_spark.framing import encode_log_message

    d = str(tmp_path)
    frames = [encode_log_message(f"m-{i:02d}".encode()) for i in range(20)]
    flen = len(frames[0])
    with open(f"{d}/t.log", "wb") as f:
        f.writelines(frames)
    r = _reader(d, mode="thrift", max_bytes_per_trigger=flen * 3 + 1)
    prev = r.initialOffset()
    seen = []
    for _ in range(8):
        cur = r.latestOffset()
        for p in r.partitions(prev, cur):
            seen += [bytes(t[1]) for t in r.read(p)]
        prev = cur
    assert seen == [f"m-{i:02d}".encode() for i in range(20)]  # all, in order
    # each trigger advanced by at most 3 whole frames
    assert all(b"m-" in s for s in seen)


def test_tail_thrift_corrupt_length_prefix_stops_with_warning(tmp_path, capfd):
    """A garbage length prefix is corruption, not a pending tail: the walk
    delivers everything before it, warns on stderr, and does not advance
    past it (no silent skip, no infinite busy re-walk)."""
    from singer_spark.framing import encode_log_message

    d = str(tmp_path)
    good = encode_log_message(b"fine", key=b"1")
    with open(f"{d}/c.log", "wb") as f:
        f.write(good)
        f.write((3 << 30).to_bytes(4, "big"))  # absurd frame length
        f.write(b"\xff" * 64)                   # junk beyond it
    r = _reader(d, mode="thrift")
    start, end = r.initialOffset(), r.latestOffset()
    (rec,) = end["files"].values()
    assert rec["off"] == len(good)  # committed end stops at the corruption
    (p,) = r.partitions(start, end)
    assert [bytes(t[1]) for t in r.read(p)] == [b"fine"]
    assert "corrupt frame length" in capfd.readouterr().err


def test_full_agent_path_tail_thrift_to_kafka_with_audit_headers(spark, tmp_path):
    """THE reference agent pipeline in one stream: tail a GROWING framed-
    thrift log -> decode (audit headers ride along) -> inject serialized
    headers + CRC as Kafka record headers -> direct producer sink.  Covers
    the composition, not just the parts."""
    import json
    import uuid

    from singer_spark.framing import (encode_audit_headers, encode_log_message,
                                      with_kafka_audit_headers)
    from singer_spark.sinks import kafka_write_batch
    from singer_spark.streaming.tail import tail_stream

    d = str(tmp_path / "logs")
    os.makedirs(d)
    out_dir = str(tmp_path / "sent")
    os.makedirs(out_dir)
    ckpt = str(tmp_path / "ckpt")
    audit = {"host": "agent-1", "logName": "applog", "pid": 7, "session": 99,
             "logSeqNumInSession": 0, "timestamp": 123, "tracked": True}

    def factory(servers, configs, _dir=out_dir):
        class P:
            def __init__(self):
                self.pending = []

            def send(self, topic, value=None, key=None, headers=None, partition=None):
                self.pending.append({
                    "key": key.decode(), "value": value.decode(),
                    "headers": {k: v.hex() for k, v in (headers or [])},
                })

            def flush(self):
                with open(os.path.join(_dir, f"s-{uuid.uuid4().hex}.jsonl"), "w") as f:
                    for r in self.pending:
                        f.write(json.dumps(r) + "\n")

        return P()

    def drain():
        df = with_kafka_audit_headers(tail_stream(spark, d, mode="thrift"))
        q = (df.writeStream
             .foreachBatch(lambda b, _id: kafka_write_batch(
                 b, "b:9092", "applog", factory))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        q.stop()

    with open(f"{d}/app.log", "ab") as f:
        f.write(encode_log_message(b"m-1", key=b"1", with_crc=True,
                                   audit_headers=audit))
    drain()
    with open(f"{d}/app.log", "ab") as f:  # the file GROWS between batches
        f.write(encode_log_message(b"m-2", key=b"2", with_crc=True))
    drain()

    recs = []
    for p in (tmp_path / "sent").glob("s-*.jsonl"):
        recs += [json.loads(x) for x in p.read_text().splitlines()]
    by_key = {r["key"]: r for r in recs}
    assert set(by_key) == {"1", "2"}  # both appends delivered exactly once
    assert by_key["1"]["value"] == "m-1"
    assert by_key["1"]["headers"]["loggingAuditHeaders"] == encode_audit_headers(audit).hex()
    import zlib as _zlib

    crc = _zlib.crc32(b"m-1") & 0xFFFFFFFF
    assert by_key["1"]["headers"]["messageCRC"] == crc.to_bytes(8, "big").hex()
    assert "loggingAuditHeaders" not in by_key["2"]["headers"]  # no audit field


def test_counters_file_channel_roundtrip_and_age_cutoff(tmp_path):
    """The cross-process side channel directly: atomic write/read
    round-trip, readable stream identity inside the payload, zeroed
    default for unknown streams, and the heartbeat's mtime cutoff
    skipping stale entries (a tempdir outlives dead queries)."""
    import os
    import time

    from singer_spark.streaming.tail import (
        _counters_file,
        _write_counters,
        list_counters,
        read_counters,
    )

    d = str(tmp_path / "logs")
    _write_counters(d, "*.log", 3, 4096)
    assert read_counters(d, "*.log") == {"reopens": 3, "bytes": 4096}
    assert read_counters(d, "other-glob") == {"reopens": 0, "bytes": 0}

    entries = {c["stream"]: c for c in list_counters()}
    key = f"{d}::*.log"
    assert entries[key]["reopens"] == 3 and entries[key]["bytes"] == 4096

    # age out: a counter file idle past the cutoff is skipped
    old = time.time() - 10_000
    os.utime(_counters_file(d, "*.log"), (old, old))
    assert key not in {c["stream"] for c in list_counters(max_age_secs=900)}
    # but still readable directly (read_counters has no cutoff: the soak
    # reads its own stream right after the query stops)
    assert read_counters(d, "*.log")["reopens"] == 3


def test_counters_namespace_and_overlap_isolation(tmp_path):
    """ADVICE r8 #2, both halves: (1) list_counters(ns=...) excludes
    OTHER applications' namespaced streams while unnamespaced writers
    still match; (2) two readers on the same (log_dir, glob) — a
    restarted query overlapping the old one — write SEPARATE files, so
    the new reader's zeroed init can't clobber the live one's counts,
    and the most recently reporting reader wins the listing."""
    import time

    from singer_spark.streaming.tail import (
        _write_counters,
        list_counters,
        read_counters,
    )

    d = str(tmp_path / "logs")
    key = f"{d}::*"
    _write_counters(d, "*", 7, 700, ns="app-A", token="readerA")
    _write_counters(str(tmp_path / "other"), "*", 9, 900,
                    ns="app-B", token="readerB")
    _write_counters(str(tmp_path / "legacy"), "*", 1, 10)  # unnamespaced

    mine = {c["stream"]: c for c in list_counters(ns="app-A")}
    assert mine[key]["reopens"] == 7
    assert f"{tmp_path / 'other'}::*" not in mine        # foreign app out
    assert f"{tmp_path / 'legacy'}::*" in mine           # legacy matches
    assert f"{tmp_path / 'other'}::*" in {               # ns=None sees all
        c["stream"] for c in list_counters()}

    # overlap: a fresh reader (new token) writes its zeroed init file;
    # the OLD reader's counts survive untouched in its own file, and the
    # newest mtime wins the per-stream listing
    time.sleep(0.05)
    _write_counters(d, "*", 0, 0, ns="app-A", token="readerA2")
    assert read_counters(d, "*", ns="app-A") == {"reopens": 0, "bytes": 0}
    time.sleep(0.05)
    _write_counters(d, "*", 8, 800, ns="app-A", token="readerA")  # old live
    assert read_counters(d, "*", ns="app-A") == {"reopens": 8, "bytes": 800}
    assert {c["stream"]: c for c in list_counters(ns="app-A")}[key][
        "reopens"] == 8


def test_counters_gc_unlinks_stale_files(tmp_path):
    """Reader construction garbage-collects counter files idle past the
    age cutoff while leaving recently-written ones (a live overlapping
    reader's file is rewritten every trigger, so age-based GC can never
    touch it)."""
    import os
    import time

    from singer_spark.streaming.tail import (
        _counters_dir,
        _gc_counters,
        _write_counters,
        read_counters,
    )

    d = str(tmp_path / "gclogs")
    _write_counters(d, "*", 5, 500, ns="x", token="stale")
    stale = [p for p in os.listdir(_counters_dir())]
    assert stale
    # age one file out; a fresh one stays
    for name in os.listdir(_counters_dir()):
        p = os.path.join(_counters_dir(), name)
        os.utime(p, (time.time() - 7200, time.time() - 7200))
    _write_counters(d, "*", 7, 700, ns="x", token="live")
    _gc_counters(max_age_secs=3600)
    assert read_counters(d, "*") == {"reopens": 7, "bytes": 700}


def test_counters_gc_spares_live_pid_reaps_dead_pid(tmp_path):
    """ADVICE r9 #3: age-based GC alone deletes a LIVE paused reader's
    counters (trigger interval > cutoff).  GC now keys eligibility on the
    writer pid: idle + pid alive → kept; idle + pid dead → reaped; idle
    past the hard cap → reaped regardless (pid-reuse bound)."""
    import json
    import os
    import time

    from singer_spark.streaming.tail import (
        _counters_dir,
        _counters_file,
        _gc_counters,
        _write_counters,
        read_counters,
    )

    d_live = str(tmp_path / "paused-live")
    d_dead = str(tmp_path / "dead-writer")
    # live writer (this process), idle past the cutoff — must survive
    _write_counters(d_live, "*", 11, 1100, ns="x", token="paused")
    # dead writer: rewrite the file with a pid that cannot exist
    _write_counters(d_dead, "*", 13, 1300, ns="x", token="gone")
    dead_path = _counters_file(d_dead, "*", "x", "gone")
    with open(dead_path) as f:
        rec = json.load(f)
    rec["pid"] = 2 ** 22 + 1  # above any default pid_max
    with open(dead_path, "w") as f:
        json.dump(rec, f)
    old = time.time() - 7200
    for name in os.listdir(_counters_dir()):
        os.utime(os.path.join(_counters_dir(), name), (old, old))
    _gc_counters(max_age_secs=3600)
    assert read_counters(d_live, "*") == {"reopens": 11, "bytes": 1100}
    assert read_counters(d_dead, "*") == {"reopens": 0, "bytes": 0}
    # hard cap: even the live pid's file goes once idle past it
    for name in os.listdir(_counters_dir()):
        os.utime(os.path.join(_counters_dir(), name), (old, old))
    _gc_counters(max_age_secs=3600, hard_cap_secs=7100)
    assert read_counters(d_live, "*") == {"reopens": 0, "bytes": 0}


def test_direct_format_reader_excluded_from_foreign_app_heartbeat(tmp_path):
    """r9 task #7: a reader constructed WITHOUT counters_ns (direct
    readStream.format user) must not appear in another application's
    namespaced listing — every reader now emits a non-empty ns (a
    private `_local:` one when the app id wasn't passed)."""
    from singer_spark.streaming.tail import TailStreamReader, list_counters

    d = str(tmp_path / "directlogs")
    os.makedirs(d)
    (tmp_path / "directlogs" / "a.log").write_text("x\n")
    reader = TailStreamReader({"path": d})  # no counters_ns option
    assert reader._counters_ns.startswith("_local:")
    key = f"{d}::*"
    # foreign app's heartbeat: excluded
    assert key not in {c["stream"] for c in list_counters(ns="some-other-app")}
    # unfiltered listing still reaches it (ns=None matches everything)
    assert key in {c["stream"] for c in list_counters()}
    # and a reader that DID declare its app keeps matching that app
    declared = TailStreamReader({"path": d, "counters_ns": "app-Z"})
    assert declared._counters_ns == "app-Z"
    assert key in {c["stream"] for c in list_counters(ns="app-Z")}
