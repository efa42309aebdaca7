"""Sub-file tailing source (S7/S2): incremental delivery from GROWING files,
per-inode byte offsets, exactly-once across kill/restart — the reference
behaviors of reader/DefaultLogStreamReader.java:44-216 and
reader/ThriftReader.java:74-151 (seekable offset resume)."""

from __future__ import annotations

import itertools
import os

import pytest

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
    side channel (the reader runs in its own Python worker, so the
    channel must cross processes): each suspected-duplicate window
    increments `reopens` and adds the previously committed bytes to
    `bytes`; plain growth never counts; the OFFSET dict stays a pure
    function of source position (no counter keys).  Counting happens
    where Spark plans each batch, `partitions(start, end)`, which this
    test calls once per trigger.  Counters are per reader lifetime (the
    reference's process-lifetime metric semantics)."""
    from singer_spark.streaming.tail import read_counters

    d = str(tmp_path)
    log = f"{d}/t.log"
    _append(log, "old-1\nold-2\n")
    r = _reader(d)
    prev = r.initialOffset()

    def trigger(reader):
        nonlocal prev
        cur = reader.latestOffset()
        reader.partitions(prev, cur)
        prev = cur
        return cur

    start = trigger(r)
    assert set(start.keys()) == {"files"}  # position-only offsets
    assert read_counters(d) == {"reopens": 0, "bytes": 0}

    # plain growth: no suspicion
    _append(log, "old-3\n")
    trigger(r)
    assert read_counters(d)["reopens"] == 0

    # copytruncate-regrow: prefix changed → one suspected window of the
    # previously committed 18 bytes
    with open(log, "w") as f:
        f.write("NEW-a\nNEW-b\nNEW-c\nNEW-d\n")
    end = trigger(r)
    assert set(end.keys()) == {"files"}
    assert read_counters(d) == {"reopens": 1, "bytes": 18}

    # shrink-only truncation also counts (committed bytes vanished)
    with open(log, "w") as f:
        f.write("x\n")
    trigger(r)
    assert read_counters(d) == {"reopens": 2, "bytes": 18 + 24}

    # restart: fresh reader re-registers ZEROED process-lifetime counters
    fresh = _reader(d)
    trigger(fresh)
    assert read_counters(d) == {"reopens": 0, "bytes": 0}


def test_tail_copytruncate_copy_counts_exact_windows(tmp_path):
    """The copytruncate COPY (a new inode whose prefix equals the live
    stream's committed prefix, landing in the watched glob) is the
    dominant duplicate source — each copy counts exactly one suspected
    window of exactly the bytes committed from the live inode, across
    several rotations, including the unequal-fingerprint-length case.
    `partitions(start, end)` is called once per trigger, as Spark does."""
    import shutil

    d = str(tmp_path)
    log = f"{d}/ct.log"
    r = _reader(d)
    prev = r.initialOffset()
    expected_windows = []
    line_no = 0
    for rot in range(3):
        for _ in range(5 + rot):
            _append(log, f"ct:{line_no}\n")
            line_no += 1
        cur = r.latestOffset()
        r.partitions(prev, cur)
        prev = cur
        committed = next(v["off"] for v in cur["files"].values()
                         if v["path"] == log)
        # copytruncate: copy out (new inode in the watched dir), truncate
        shutil.copyfile(log, f"{d}/ct.log.r{rot}")
        with open(log, "r+b") as f:
            f.truncate(0)
        expected_windows.append(committed)
    r.partitions(prev, r.latestOffset())
    # ONE window per rotation: the copy's prefix match and the live
    # inode's truncation reopen are the same event and are reconciled
    from singer_spark.streaming.tail import read_counters

    assert read_counters(d) == {
        "reopens": len(expected_windows), "bytes": sum(expected_windows)}


def test_tail_idle_polls_write_no_counters_file(tmp_path):
    """An idle query polls latestOffset many times a second; with no new
    bytes those polls leave the reader's counters file untouched (it is
    written at construction and once per planned batch)."""
    from singer_spark.streaming.tail import _counters_file

    d = str(tmp_path)
    _append(f"{d}/idle.log", "a\nb\n")
    r = _reader(d)
    r.partitions(r.initialOffset(), r.latestOffset())
    path = _counters_file(d, "*")
    before = os.stat(path)
    for _ in range(10):
        r.latestOffset()
    after = os.stat(path)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino,
                                                 before.st_mtime_ns)


def test_tail_restart_counts_copytruncate_made_while_no_reader_ran(tmp_path):
    """A copytruncate made between two reader lifetimes is still seen: the
    fresh reader's first batch starts at the checkpointed offset, so its
    `partitions(checkpointed_end, latest)` counts exactly one window of
    the committed bytes (the copy's prefix match and the live inode's
    truncation are reconciled into one)."""
    import shutil

    from singer_spark.streaming.tail import read_counters

    d = str(tmp_path)
    log = f"{d}/app.log"
    _append(log, "".join(f"line {i:03d}\n" for i in range(15)))
    old = _reader(d)
    committed = old.latestOffset()
    old.partitions(old.initialOffset(), committed)
    committed_bytes = os.path.getsize(log)
    # no reader alive: copytruncate, then the writer goes on
    shutil.copyfile(log, f"{log}.1")
    with open(log, "r+b") as f:
        f.truncate(0)
    _append(log, "after-1\nafter-2\n")
    fresh = _reader(d)
    assert read_counters(d) == {"reopens": 0, "bytes": 0}
    fresh.partitions(committed, fresh.latestOffset())
    assert read_counters(d) == {"reopens": 1, "bytes": committed_bytes}


def test_tail_copy_check_reads_the_recorded_inode(tmp_path):
    """The copy check of an inode new in the batch reads THAT inode, not
    whatever file is at its recorded path: an unrelated file renamed away
    between latestOffset() and partitions(), with a copy of a committed
    stream written under its old name, is not a copy — the copy itself is
    counted once, in the batch that first lists it."""
    import shutil

    from singer_spark.streaming.tail import read_counters

    d = str(tmp_path)
    app, other = f"{d}/app.log", f"{d}/other.log"
    _append(app, "".join(f"app line {i:05d}\n" for i in range(3)))  # 45 B
    r = _reader(d)
    start = r.latestOffset()
    r.partitions(r.initialOffset(), start)
    _append(other, "".join(f"unrelated {i:03d}\n" for i in range(5)))  # 70 B
    end = r.latestOffset()  # records other.log's inode
    os.rename(other, f"{other}.1")
    shutil.copyfile(app, other)  # a new inode at the recorded path
    r.partitions(start, end)
    assert read_counters(d) == {"reopens": 0, "bytes": 0}
    r.partitions(end, r.latestOffset())  # the copy is new in this batch
    assert read_counters(d) == {"reopens": 1, "bytes": 45}


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


def _append_records(d: str, kind: str, tag: str) -> tuple[list, dict]:
    """Append 20 records to each of app-0..3.log: (the values read back, in
    file order; reader options for `kind`)."""
    from singer_spark.framing import encode_log_message

    values = []
    for k in range(4):
        bodies = [f"2024-01-01 {tag}-{k}-{i:02d}" for i in range(20)]
        if kind == "thrift":
            data = b"".join(encode_log_message(b.encode(), key=b"k") for b in bodies)
            values += [b.encode() for b in bodies]
        else:
            if kind == "multiline":
                bodies = [b + "".join(f"\n  at f{j}" for j in range(i % 3))
                          for i, b in enumerate(bodies)]
            data = "".join(b + "\n" for b in bodies).encode()
            values += bodies
        with open(f"{d}/app-{k}.log", "ab") as f:
            f.write(data)
    opts = {"thrift": {"mode": "thrift"}, "lines": {},
            "multiline": {"message_start_regex": r"^\d{4}-"}}[kind]
    return values, {"glob": "app-*.log*", **opts}


def _value(kind: str, row: tuple):
    return bytes(row[1]) if kind == "thrift" else row[0]


@pytest.mark.parametrize("kind", ["lines", "multiline", "thrift"])
def test_tail_small_trigger_is_one_partition(tmp_path, kind):
    """A small trigger over 4 growing files is one partition carrying the
    4 ranges in order; its rows equal those of the same ranges planned one
    partition each (a reader whose chunk_bytes sits just under the
    trigger's bytes), in the same order."""
    from singer_spark.streaming.tail import TailPartition, TailRanges

    d = str(tmp_path)
    _, opts = _append_records(d, kind, "a")
    r = _reader(d, **opts)
    start = r.latestOffset()  # the files already hold committed bytes
    values, _ = _append_records(d, kind, "b")
    end = r.latestOffset()
    (part,) = r.partitions(start, end)
    assert isinstance(part, TailRanges) and len(part.ranges) == 4
    assert all(rng.start > 0 for rng in part.ranges)  # mid-file: they grew
    rows = list(r.read(part))
    assert [_value(kind, t) for t in rows] == values

    total = sum(rng.end - rng.start for rng in part.ranges)
    per = _reader(d, chunk_bytes=total - 1, **opts)
    per_parts = per.partitions(start, end)
    assert all(isinstance(p, TailPartition) for p in per_parts)
    assert [(p.path, p.start, p.end) for p in per_parts] == \
        [(rng.path, rng.start, rng.end) for rng in part.ranges]
    assert rows == [t for p in per_parts for t in per.read(p)]


def test_tail_trigger_above_the_threshold_keeps_a_partition_per_range(tmp_path):
    from singer_spark.streaming.tail import _ONE_TASK_BYTES, TailPartition

    d = str(tmp_path)
    line = "x" * 99 + "\n"
    for k in range(4):
        _append(f"{d}/app-{k}.log", line * (_ONE_TASK_BYTES // 400 + 1))
    r = _reader(d)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert len(parts) == 4 and all(isinstance(p, TailPartition) for p in parts)
    assert sum(p.end - p.start for p in parts) > _ONE_TASK_BYTES


def test_tail_one_partition_reads_by_inode_across_a_rename(tmp_path):
    """A rename-rotation between planning and read: the merged partition
    still reads every range from its inode, under the file's new name,
    not the new file that took the old name."""
    d = str(tmp_path)
    values, opts = _append_records(d, "lines", "a")
    r = _reader(d, **opts)
    (part,) = r.partitions(r.initialOffset(), r.latestOffset())
    os.rename(f"{d}/app-1.log", f"{d}/app-1.log.1")
    _append(f"{d}/app-1.log", "2024-01-01 new file\n")
    rows = list(r.read(part))
    assert [t[0] for t in rows] == values
    assert {t[1] for t in rows if "-1-" in t[0]} == {f"{d}/app-1.log.1"}


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


def test_tail_max_bytes_per_trigger_paces_multiline_messages(tmp_path):
    """Pacing with message_start_regex: each paced end snaps back to a
    message start, so every multi-line message arrives once and unsplit,
    and the backlog still drains over several triggers."""
    d = str(tmp_path)
    msgs = [f"2024-01-01 m{i:02d}" + "".join(f"\n  at f{j}" for j in range(i % 4))
            for i in range(40)]
    _append(f"{d}/m.log", "".join(m + "\n" for m in msgs))
    size = os.path.getsize(f"{d}/m.log")
    r = _reader(d, max_bytes_per_trigger=100, message_start_regex=r"^\d{4}-")
    prev, got, offs = r.initialOffset(), [], []
    for _ in range(size // 10):  # bounded: a stalled pacer fails, not hangs
        cur = r.latestOffset()
        got += [t for p in r.partitions(prev, cur) for t in r.read(p)]
        (rec,) = cur["files"].values()
        offs.append(rec["off"])
        prev = cur
    assert [v for v, _, _ in got] == msgs
    with open(f"{d}/m.log", "rb") as f:
        data = f.read()
    assert all(data[pos:].startswith(v.encode()) for v, _, pos in got)
    assert offs[-1] == size and len(set(offs)) > 5
    assert all(b - a <= 100 for a, b in zip([0] + offs, offs))


def test_tail_cap_does_not_stall_on_giant_line(tmp_path):
    d = str(tmp_path)
    _append(f"{d}/g.log", "x" * 500 + "\n")  # one line far above the cap
    r = _reader(d, max_bytes_per_trigger=100)
    (rec,) = r.latestOffset()["files"].values()
    assert rec["off"] == 501  # unbounded retry let it through


def _records(kind: str) -> tuple[list[bytes], list[bytes], dict]:
    """60 records of 26-88 bytes (so at most one fits a 50-byte budget),
    some of them larger than it: (file records, delivered values, reader
    options)."""
    from singer_spark.framing import encode_log_message

    bodies = [f"2024-01-01 m{i:02d} " + "x" * (10 + i * 7 % 40) for i in range(60)]
    if kind == "thrift":
        return ([encode_log_message(b.encode()) for b in bodies],
                [b.encode() for b in bodies], {"mode": "thrift"})
    if kind == "lines":
        return [f"{b}\n".encode() for b in bodies], [b.encode() for b in bodies], {}
    msgs = [b + "".join(f"\n  at f{j}" for j in range(i % 3))
            for i, b in enumerate(bodies)]
    return ([f"{m}\n".encode() for m in msgs], [m.encode() for m in msgs],
            {"message_start_regex": r"^\d{4}-"})


@pytest.mark.parametrize("kind", ["multiline", "lines", "thrift"])
def test_tail_record_over_the_budget_goes_through_alone(tmp_path, kind):
    """A record larger than max_bytes_per_trigger takes a trigger of its
    own and ends there: the budget still paces every record after it (it
    used to take the whole rest of the file: offsets 26, 67, then EOF)."""
    d = str(tmp_path)
    records, values, opts = _records(kind)
    with open(f"{d}/m.log", "wb") as f:
        f.writelines(records)
    r = _reader(d, max_bytes_per_trigger=50, **opts)
    prev, got, offs = r.initialOffset(), [], []
    for _ in records:
        cur = r.latestOffset()
        got += [bytes(t[1]) if kind == "thrift" else t[0].encode()
                for p in r.partitions(prev, cur) for t in r.read(p)]
        (rec,) = cur["files"].values()
        offs.append(rec["off"])
        prev = cur
    assert offs == list(itertools.accumulate(map(len, records)))
    assert got == values


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


def test_counters_file_channel_roundtrip_and_age_cutoff(tmp_path, monkeypatch):
    """The cross-process side channel directly: atomic write/read
    round-trip, zeroed default for unknown streams, and the heartbeat's
    mtime cutoff skipping stale entries (a tempdir outlives dead
    queries)."""
    import os
    import time

    from singer_spark.streaming import tail
    from singer_spark.streaming.tail import (
        _counters_file,
        _write_counters,
        list_counters,
        read_counters,
    )

    d = str(tmp_path / "logs")
    monkeypatch.setattr(tail, "_started", {(d, "*.log")})  # as tail_stream
    _write_counters(d, "*.log", 3, 4096)
    assert read_counters(d, "*.log") == {"reopens": 3, "bytes": 4096}
    assert read_counters(d, "other-glob") == {"reopens": 0, "bytes": 0}

    key = f"{d}::*.log"
    assert list_counters() == [{"stream": key, "reopens": 3, "bytes": 4096}]

    # age out: a counter file idle past the cutoff is skipped
    old = time.time() - 10_000
    os.utime(_counters_file(d, "*.log"), (old, old))
    assert list_counters(max_age_secs=900) == []
    # but still readable directly (read_counters has no cutoff: the soak
    # reads its own stream right after the query stops)
    assert read_counters(d, "*.log")["reopens"] == 3


def test_counters_listing_holds_only_streams_this_driver_started(
        tmp_path, monkeypatch):
    """The heartbeat's listing holds the streams this process's
    tail_stream calls started: a fresh record of a stream started
    elsewhere (another application tailing on the same host) is not
    listed, while a started stream is."""
    from singer_spark.streaming import tail
    from singer_spark.streaming.tail import _write_counters, list_counters

    mine, foreign = str(tmp_path / "mine"), str(tmp_path / "foreign")
    monkeypatch.setattr(tail, "_started", set())
    _write_counters(mine, "*", 7, 700)
    _write_counters(foreign, "*", 9, 900)
    assert list_counters() == []
    tail._started.add((mine, "*"))
    assert list_counters() == [{"stream": f"{mine}::*", "reopens": 7,
                                "bytes": 700}]


def test_counters_gc_unlinks_stale_files(tmp_path):
    """Reader construction garbage-collects counter files no reader has
    written for 7 days while leaving recently-written ones (a live
    reader's file is rewritten every planned batch)."""
    import os
    import time

    from singer_spark.streaming.tail import (
        _counters_file,
        _gc_counters,
        _write_counters,
        read_counters,
    )

    stale, live = str(tmp_path / "stale"), str(tmp_path / "live")
    _write_counters(stale, "*", 5, 500)
    _write_counters(live, "*", 7, 700)
    six_days = time.time() - 6 * 86400
    os.utime(_counters_file(stale, "*"), (six_days, six_days))
    _gc_counters()
    assert read_counters(stale, "*") == {"reopens": 5, "bytes": 500}
    eight_days = time.time() - 8 * 86400
    os.utime(_counters_file(stale, "*"), (eight_days, eight_days))
    _gc_counters()
    assert not os.path.exists(_counters_file(stale, "*"))
    assert read_counters(stale, "*") == {"reopens": 0, "bytes": 0}
    assert read_counters(live, "*") == {"reopens": 7, "bytes": 700}


def test_direct_format_reader_excluded_from_foreign_app_heartbeat(
        spark, tmp_path, monkeypatch):
    """A reader built directly (readStream.format, not tail_stream) writes
    its stream's counters file but is not listed for any heartbeat; the
    same stream started through tail_stream is."""
    from singer_spark.streaming import tail
    from singer_spark.streaming.tail import (
        TailStreamReader,
        list_counters,
        read_counters,
        tail_stream,
    )

    d = str(tmp_path / "directlogs")
    os.makedirs(d)
    (tmp_path / "directlogs" / "a.log").write_text("x\n")
    monkeypatch.setattr(tail, "_started", set())
    TailStreamReader({"path": d})
    assert read_counters(d) == {"reopens": 0, "bytes": 0}
    assert list_counters() == []

    tail_stream(spark, d)  # builds the DataFrame; starts no query
    assert [c["stream"] for c in list_counters()] == [f"{d}::*"]
