"""Sub-file tailing streaming source (S7/S2 completion).

The reference reads *growing* files incrementally — seek to a byte offset,
deliver what's there, remember the offset (reader/DefaultLogStreamReader.java
:44-216, reader/ThriftReader.java:74-151).  Spark's built-in file source
ingests a file only once it is listed, so an open, still-growing log's tail
would wait for rotation.  This module closes that gap with a
`pyspark.sql.datasource` streaming source:

- **Offsets are (inode → {path, byte position, prefix fingerprint}) maps**,
  checkpointed by Spark like any other streaming offset, so a kill/restart
  resumes mid-file with no loss and no re-delivery, and a rotate-by-rename
  (same inode, new name still matching the glob) keeps its position — the
  reference's inode-tracked watermark (LogStream.java inode bookkeeping).
- **Only complete units commit.**  Text mode ends each file at the last
  newline; thrift mode at the last complete TFramedTransport frame.  A
  partial tail stays pending until the writer finishes it.
- **Driver I/O is O(changed files) per trigger.**  A per-inode
  (size, mtime_ns) cache skips the open entirely for files that didn't
  change; only files that grew/shrank are opened (one open computes both
  the committed end and the fingerprint).  That open's `fstat`, not the
  listing's stat, names the inode the offset is filed under, so a
  rename-rotation landing between the two cannot mix two files; a
  tracked inode missing from the listing costs one more listing, so a
  file renamed mid-scan keeps its offset.
- **Truncation is detected by content, not just size.**  Each offset
  carries a CRC-32 of the first min(4 KiB, committed end) bytes; a
  mismatch (copytruncate that regrew PAST the old offset within one
  trigger, or an inode freed and reused by a new file) re-reads from 0.
  Size-shrink alone would miss both cases.
- **Replay re-resolves inode → current path.**  A checkpointed batch
  replayed after a rotate-by-rename opens the file under its current name
  (directory scan by inode), not the recorded-now-stale path.
- **Catch-up is paceable.**  ``max_bytes_per_trigger`` bounds how many new
  bytes per file one micro-batch takes (snapped to a line/frame boundary,
  with an unbounded retry so one oversized record can't stall the stream)
  — the per-batch read limit a backlogged agent needs so a multi-GB
  backlog doesn't land in one batch.
- **Reads are distributed.**  A large appended text range is split into
  ~`chunk_bytes` partitions with TextInputFormat semantics (a non-first
  chunk peeks one byte back to find its first line start; every chunk
  completes its last line past its end); thrift ranges split at the frame
  boundaries collected during the committed-end walk.
- **A small trigger is one task.**  When a trigger's ranges total at most
  `_ONE_TASK_BYTES` (and `chunk_bytes`), one partition carries them all,
  read one after another: a live micro-batch of a few hundred KB over
  several files pays one task's fixed cost, not one per file.

Modes: ``mode=text`` (default) yields (value string, path, pos);
``mode=thrift`` decodes framed-thrift LogMessages
(reader/ThriftLogFileReader.java:91-175) and yields the LOG_MESSAGE columns
(key, value, timestampInNanos, checksum, auditHeaders, file, offset).

Multi-line text (``message_start_regex``, reader/TextMessageReader.java
:88-138): `framing.frame_text` frames each read range, one row per message
at its first byte.  A message ends at the next start line or the end of the
bytes read, so a range is one partition and a paced end snaps back to a
start line; continuation lines appended after their message was read form
their own leading message, as frame_text does for orphan lines.

Globs match file names with fnmatch in `log_dir`, or one directory level
down (``*/app.log``, the pod-log layout).  Bytes are read as written, so
the glob must not match compressed (``.gz``) rotations — as in Singer.

Deployment envelope (matches the reference's log-agent model): the log
directory must be readable by driver AND executors — a single-host
`local[*]` agent or a shared filesystem; over node-local disks on a
multi-node cluster the executor opens fail.  Per-trigger driver cost is
one listdir (per subdirectory with a ``*/`` glob) + one stat per matching
file + one open per CHANGED file — thousands of mostly-idle files are
fine; millions of hot files in one dir are not the target shape.
"""

from __future__ import annotations

import fnmatch
import hashlib
import json
import os
import re
import stat
import tempfile
import time
import zlib
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

TAIL_SCHEMA = "value string, path string, pos bigint"
_SCAN_BACK = 65536
_FP_BYTES = 4096
# A trigger whose ranges total at most this many bytes (and `chunk_bytes`)
# is read by ONE task instead of one per range: below it, a task's fixed
# cost (scheduling, its Python workers, a producer flush) outweighs what
# reading the files in parallel saves.  Sweep of 4-file text catch-up
# drains, ~300-byte lines, one task per file vs one task, median addBatch
# ms (pairs one task won), `tools/trigger_floor.py --drain-mib` on a tree
# with this constant raised, two runs, 4-vCPU host:
#   0.5 MiB  319 -> 278 (7/7)   287 -> 237 (8/9)
#   1 MiB    335 -> 294 (7/7)   314 -> 244 (8/9)
#   2 MiB    353 -> 327 (4/7)   302 -> 266 (7/9)
#   4 MiB    364 -> 375 (2/7)   305 -> 324 (3/9)
# A live trigger of perfbench's `live_tail_text` carries ~0.5 MB.
_ONE_TASK_BYTES = 2 << 20


def _committed_end_text(f, size: int) -> int:
    """Largest offset <= size such that everything before it is complete
    lines: the position just after the last ``\\n``.  Backward chunked scan
    from EOF — stops at the first newline found, so cost is one small read
    regardless of how much was appended."""
    pos = size
    while pos > 0:
        lo = max(0, pos - _SCAN_BACK)
        f.seek(lo)
        buf = f.read(pos - lo)
        idx = buf.rfind(b"\n")
        if idx >= 0:
            return lo + idx + 1
        pos = lo
    return 0


def _last_message_start(f, lo: int, hi: int, regex: str) -> int:
    """Offset of the last line in (lo, hi] that matches `regex` — where a
    message that may run past `hi` starts (the line at `hi` counts when it
    is complete); `lo` when there is none.  `lo` and `hi` are line
    boundaries.  Backward chunked scan from `hi`."""
    f.seek(hi)
    line = f.readline(_SCAN_BACK)
    pos, carry = hi, line if line.endswith(b"\n") else b""
    while pos > lo:
        chunk_lo = max(lo, pos - _SCAN_BACK)
        f.seek(chunk_lo)
        buf = f.read(pos - chunk_lo) + carry
        cut = len(buf)  # end of the line under test
        nl = buf.rfind(b"\n", 0, cut - 1)
        while nl >= 0:
            if re.match(regex, buf[nl + 1:cut].decode("utf-8", errors="replace")):
                return chunk_lo + nl + 1
            cut = nl + 1
            nl = buf.rfind(b"\n", 0, cut - 1)
        carry, pos = buf[:cut], chunk_lo
    return lo


def _record_end(f, base: int, size: int, regex: str | None) -> int:
    """End of the record that starts at line boundary `base`, within
    `size`: just after its line end, or with `regex` where the next
    complete line matching it starts (else the last complete line's end).
    `base` while the record's first line is incomplete."""
    f.seek(base)
    pos = base
    while pos < size:
        line = f.readline(size - pos)
        if not line.endswith(b"\n"):
            break
        if regex is None:
            return pos + len(line)
        if pos > base and re.match(regex, line.decode("utf-8", errors="replace")):
            return pos
        pos += len(line)
    return pos


def _empty_entry(st: os.stat_result) -> dict:
    """A scan-cache entry committing nothing yet for the file `st`."""
    return {"sig": (st.st_size, st.st_mtime_ns), "off": 0, "fp": None,
            "fplen": 0, "bounds": [], "caught_up": True}


def _names(d: str, pattern: str) -> list[str]:
    try:
        return [n for n in os.listdir(d) if fnmatch.fnmatch(n, pattern)]
    except (FileNotFoundError, NotADirectoryError):
        return []


def _matching(log_dir: str, glob: str) -> list[str]:
    """Sorted paths in `log_dir` whose names match `glob` (fnmatch, hidden
    names included).  One directory level is allowed: ``*/app.log``
    matches ``app.log`` in every subdirectory — the pod-log layout
    ``<pods_root>/<ns>_<pod>_<uid>/<file>``."""
    dirs_glob, _, names_glob = glob.rpartition("/")
    dirs = ([os.path.join(log_dir, d) for d in _names(log_dir, dirs_glob)]
            if dirs_glob else [log_dir])
    return sorted(os.path.join(d, n) for d in dirs for n in _names(d, names_glob))


class TailPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int, batch_start: int,
                 ino: int = 0):
        self.path = path
        self.start = start
        self.end = end
        self.batch_start = batch_start  # first chunk of the batch starts exact
        self.ino = ino  # identity — the path can rotate away before the read


class TailRanges(InputPartition):
    """A small trigger's ranges, for one task to read one after another, in
    planning order."""

    def __init__(self, ranges: list[TailPartition]):
        self.ranges = ranges


# ---------------------------------------------------------------------------
# Side channel for the duplicates-suspected counters.  The offset dict
# must stay a pure function of source position, and the Python
# DataSource API has no custom-metrics hook; the streaming reader also
# runs in a SEPARATE long-lived Python worker process
# (python_streaming_source_runner), so an in-process registry never
# reaches the driver-side heartbeat.  The channel that does cross that
# boundary is one small JSON file per tail stream (log_dir, glob) under
# a per-uid tempdir, atomically replaced by the stream's reader when it
# is constructed (zeros: process-lifetime counts, like the reference's
# per-stream metrics) and once per planned batch (an idle query writes
# nothing).  Two live readers of one stream share the file; the last
# write wins.
# ---------------------------------------------------------------------------
# streams started by this process's tail_stream calls: the heartbeat lists
# these, so another application's streams never reach it
_started: set[tuple[str, str]] = set()


def _counters_dir() -> str:
    # per uid: a world-shared fixed path under /tmp would hand user B a
    # PermissionError from user A's 0755 directory
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    return os.path.join(tempfile.gettempdir(), f"singer_tail_counters_{uid}")


def _counters_file(log_dir: str, glob: str) -> str:
    key = hashlib.md5(f"{log_dir}::{glob}".encode("utf-8")).hexdigest()[:16]
    return os.path.join(_counters_dir(), key + ".json")


def _write_counters(log_dir: str, glob: str, reopens: int, bytes_: int) -> None:
    # best-effort telemetry: a full disk or a permission race must never
    # take the streaming query down — the offsets are the data path
    try:
        path = _counters_file(log_dir, glob)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"reopens": int(reopens), "bytes": int(bytes_)}, f)
        os.replace(tmp, path)
    except OSError:
        pass


def _gc_counters() -> None:
    """Unlink counters files no reader has written for 7 days, so streams
    that are gone do not pile up.  Called once per reader construction;
    best-effort."""
    d = _counters_dir()
    try:
        names = os.listdir(d)
    except OSError:
        return
    now = time.time()
    for name in names:
        p = os.path.join(d, name)
        try:
            if now - os.stat(p).st_mtime > 7 * 86400:
                os.unlink(p)
        except OSError:
            continue


def read_counters(log_dir: str, glob: str = "*") -> dict:
    """{reopens, bytes} for one tail stream; zeros when no reader of it has
    reported (or the file is unreadable).  No age cutoff: the soak reads
    its own stream right after the query stops."""
    try:
        with open(_counters_file(log_dir, glob)) as f:
            c = json.load(f)
        return {"reopens": int(c["reopens"]), "bytes": int(c["bytes"])}
    except (OSError, ValueError, KeyError):
        return {"reopens": 0, "bytes": 0}


def list_counters(max_age_secs: float = 900.0) -> "list[dict]":
    """[{stream, reopens, bytes}] for the streams this process's
    `tail_stream` calls started whose counters file was written within
    `max_age_secs` (the heartbeat's listing)."""
    out = []
    for log_dir, glob in sorted(_started):
        try:
            idle = time.time() - os.stat(_counters_file(log_dir, glob)).st_mtime
        except OSError:
            continue
        if idle <= max_age_secs:
            out.append({"stream": f"{log_dir}::{glob}",
                        **read_counters(log_dir, glob)})
    return out


class TailStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.log_dir = options.get("path")
        if not self.log_dir:
            raise ValueError("singer_tail requires option 'path' (the log dir)")
        self.glob = options.get("glob", "*")
        if self.glob.count("/") > 1:
            raise ValueError(f"singer_tail glob allows one directory level, got {self.glob}")
        self.mode = options.get("mode", "text")
        if self.mode not in ("text", "thrift"):
            raise ValueError(f"singer_tail mode must be text|thrift, got {self.mode}")
        self.chunk_bytes = int(options.get("chunk_bytes", 64 * 1024 * 1024))
        self.max_message_size = int(options.get("max_message_size", 0)) or None
        self.message_start_regex = options.get("message_start_regex") or None  # text
        # catch-up pacing: at most this many NEW bytes per file per trigger,
        # snapped down to a line/frame boundary (0 = unlimited).  The batch
        # analog of the reference's per-batch read limits
        # (processorBatchSize, reader/ThriftReader paced reads) — without it
        # a multi-GB backlog lands in ONE micro-batch.  After a restart the
        # pace base rebuilds from the first commit, so the first batches may
        # be empty while the base catches up to the checkpoint — no loss,
        # no duplicates (fingerprint-verified skip).
        self.max_bytes_per_trigger = int(options.get("max_bytes_per_trigger", 0))
        # ino -> last offset this reader reported/committed (pacing base)
        self._reported: dict[str, int] = {}
        # per-inode scan cache: ino -> {sig, off, fp, fplen, bounds}
        # (driver-side memo only — offsets in the checkpoint are the truth)
        self._cache: dict[str, dict] = {}
        # ino -> path as of the last latestOffset listing (replay fallback
        # does a fresh scan; see _current_path)
        self._paths: dict[str, str] = {}
        self.opens = 0  # observability: file opens performed (tests assert)
        # duplicates-suspected accounting (reference per-stream metric
        # discipline, common/SingerStatus.java:108-149), decided in
        # partitions() from the batch's (start, end) offsets alone, where
        # the reader already decides to re-read:
        #   1. fingerprint-mismatch reopen — the committed prefix is no
        #      longer the file's prefix (truncate-regrow, inode reuse), so
        #      the re-read from 0 MAY re-deliver committed bytes;
        #   2. an inode new in the batch whose prefix equals a committed
        #      stream's prefix — a copytruncate copy landing in the
        #      watched glob, whose committed window WILL re-deliver (the
        #      dominant duplicate source under copytruncate).
        # The start offset is the checkpointed one, so a restarted reader
        # also sees a copytruncate made while no reader was alive.
        # Counters are per reader lifetime (the reference's process-
        # lifetime metric semantics) and are surfaced through the stream's
        # counters file (see _write_counters above): zeros now, then once
        # per planned batch — NOT through the offset dict: offsets must
        # stay a pure function of source position (a counter-bearing
        # offset schedules an empty micro-batch on a zero-new-bytes
        # suspicion event and disagrees with a restarted reader's zeroed
        # counters).
        self._dupes_suspected = 0
        self._dupe_bytes = 0
        _gc_counters()
        _write_counters(self.log_dir, self.glob, 0, 0)

    # -- scanning ----------------------------------------------------------
    def _fingerprint(self, f, off: int) -> tuple[int | None, int]:
        fplen = min(_FP_BYTES, off)
        if fplen <= 0:
            return None, 0
        f.seek(0)
        return zlib.crc32(f.read(fplen)) & 0xFFFFFFFF, fplen

    def _walk_frames(self, f, size: int, start: int,
                     until: int | None = None) -> tuple[int, list[int]]:
        """Forward walk of TFramedTransport length prefixes from a known
        frame boundary `start`: returns (committed end, chunk boundaries
        every ~chunk_bytes).  Only appended bytes are walked when the cache
        held the previous end — steady-state cost is O(new frames).  With
        `until`, the walk stops after the first frame that ends past it.

        A length prefix beyond the 10× max_message_size tolerance (or an
        absolute 1 GiB sanity bound) is corruption, not a pending tail —
        it is WARNED about loudly, because byte-offset tailing cannot skip
        past it safely (there is no resync marker): delivery for this file
        stops at the corruption point until rotation replaces it, exactly
        the reference's poison-file behavior (ThriftLogFileReader.java:108
        raises on the same check)."""
        import struct as _struct
        import sys

        limit = (self.max_message_size * 10 if self.max_message_size
                 else 1 << 30)
        bounds: list[int] = []
        pos = last_bound = start
        while pos + 4 <= size:
            f.seek(pos)
            head = f.read(4)
            if len(head) < 4:
                break
            (n,) = _struct.unpack(">I", head)
            if n > limit:
                sys.stderr.write(
                    f"singer_tail: corrupt frame length {n} at offset {pos} "
                    f"of {getattr(f, 'name', '?')} — tail stalls here until "
                    "the file rotates\n")
                break
            if pos + 4 + n > size:
                break  # truncated tail frame — stays pending
            pos += 4 + n
            if pos - last_bound >= self.chunk_bytes:
                bounds.append(pos)
                last_bound = pos
            if until is not None and pos > until:
                break
        return pos, bounds

    def _cached(self, st: os.stat_result) -> dict | None:
        """The scan entry for `st`'s inode if its (size, mtime) is unchanged
        and it is caught up: nothing to open."""
        cached = self._cache.get(str(st.st_ino))
        if cached is not None and cached["sig"] == (st.st_size, st.st_mtime_ns) \
                and cached["caught_up"]:
            return cached
        return None

    def _scan_file(self, path: str, st: os.stat_result) -> tuple[str, dict]:
        """(inode, committed end + fingerprint) for one listed file, via the
        (size, mtime) cache: an unchanged, caught-up file costs zero opens;
        a changed (or still-pacing) one costs one open that computes
        everything.  The open comes FIRST and everything is keyed by the
        handle's `fstat`, never by the listing's stat: a rename-rotation
        landing between the two must not file the new file's offset and
        fingerprint under the old inode.  With `max_bytes_per_trigger` the
        scan is bounded to the pace budget past the last reported offset,
        snapped to a line/frame boundary."""
        hit = self._cached(st)
        if hit is not None:
            return str(st.st_ino), hit
        if st.st_size == 0:  # nothing to commit: no open
            entry = self._cache[str(st.st_ino)] = _empty_entry(st)
            return str(st.st_ino), entry
        self.opens += 1
        with open(path, "rb") as f:
            st = os.fstat(f.fileno())
            ino = str(st.st_ino)
            entry = self._cached(st) or self._scan_open(f, ino, st)
        self._cache[ino] = entry
        return ino, entry

    def _scan_open(self, f, ino: str, st: os.stat_result) -> dict:
        cached = self._cache.get(ino)
        cap = self.max_bytes_per_trigger
        base = self._reported.get(ino, 0)
        entry = _empty_entry(st)
        limit = st.st_size
        if cap and base + cap < limit:
            limit, entry["caught_up"] = base + cap, False
        start = 0
        if self.mode != "text" and cached is not None \
                and cached["off"] and cached["fp"] is not None:
            # resume the walk iff the old prefix is still there
            f.seek(0)
            head = zlib.crc32(f.read(cached["fplen"])) & 0xFFFFFFFF
            if head == cached["fp"] and st.st_size >= cached["off"]:
                start = cached["off"]

        if self.mode != "text":
            entry["off"], entry["bounds"] = self._walk_frames(f, limit, start)
        else:
            entry["off"] = _committed_end_text(f, limit)
            if self.message_start_regex and not entry["caught_up"]:
                # paced: end where the last message that may run on starts
                entry["off"] = _last_message_start(
                    f, base, entry["off"], self.message_start_regex)
        if not entry["caught_up"] and entry["off"] <= base:
            # a single record larger than the pace budget must still go
            # through, alone: pace to its end rather than stall
            if self.mode != "text":
                entry["off"], entry["bounds"] = self._walk_frames(
                    f, st.st_size, start, until=base)
            else:
                entry["off"] = _record_end(f, base, st.st_size,
                                           self.message_start_regex)
            # caught up only if it is still pending (nothing to reopen for)
            entry["caught_up"] = entry["off"] <= base
        entry["fp"], entry["fplen"] = self._fingerprint(f, entry["off"])
        return entry

    def _list(self) -> dict[str, tuple[str, dict]]:
        """ino -> (path, scan entry) for every regular file matching the
        glob."""
        listed: dict[str, tuple[str, dict]] = {}
        for p in _matching(self.log_dir, self.glob):
            try:
                st = os.stat(p)
                if not stat.S_ISREG(st.st_mode):
                    continue
                ino, entry = self._scan_file(p, st)
            except OSError:
                continue  # raced a delete/rotation — next trigger sees truth
            listed[ino] = (p, entry)
        return listed

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        """Snapshot the directory: inode → (current path, committed end,
        prefix fingerprint).  Absolute, not delta — Spark diffs consecutive
        offsets itself, so a restart needs no reader-side state.  Writes no
        file: an idle query calls this many times a second."""
        listed = self._list()
        if not self._paths.keys() <= listed.keys():
            # a tracked file left the listing: deleted, or renamed between
            # listdir and stat/open (then its old name now holds another
            # inode).  List once more so a renamed file shows up under its
            # new name with its offset, instead of vanishing for a trigger
            # and re-reading from 0 after.  Files already scanned this
            # trigger cost no second open.
            listed = self._list()
        files: dict[str, dict] = {}
        for ino, (p, entry) in listed.items():
            files[ino] = {"path": p, "off": entry["off"],
                          "fp": entry["fp"], "fplen": entry["fplen"]}
            self._reported[ino] = entry["off"]  # pacing base advances
        self._paths = {ino: rec["path"] for ino, rec in files.items()}
        return {"files": files}

    # -- planning ---------------------------------------------------------
    def _current_path(self, ino: str, recorded: str) -> str:
        """Resolve an inode to its CURRENT path: the live listing first, a
        fresh directory scan on replay (fresh reader instance, file may have
        been renamed since the offset was checkpointed), the recorded path
        as a last resort."""
        p = self._paths.get(ino)
        if p is not None:
            return p
        if not self._paths:  # replay before any latestOffset: scan once
            for q in _matching(self.log_dir, self.glob):
                try:
                    self._paths[str(os.stat(q).st_ino)] = q
                except OSError:
                    continue
            p = self._paths.get(ino)
        return p or recorded

    def _match_copy(self, ino: str, path: str, rec: dict,
                    committed: dict) -> tuple[str, int] | None:
        """Duplicate-suspect check for inode `ino` (last listed at `path`),
        new in this batch: is any `committed` stream's prefix also a prefix
        of this file?  Free when
        fingerprint lengths match; otherwise one ≤4 KiB read amortized over
        rotations (new inodes only appear when something rotated).  Returns
        the (source ino, window bytes) of the largest matching committed
        prefix — the suspected re-delivery window — or None."""
        candidates = [(ino, v) for ino, v in committed.items()
                      if v.get("off", 0) > 0 and v.get("fp") is not None
                      and v["fplen"] <= rec["fplen"]]
        if not candidates:
            return None
        best: tuple[str, int] | None = None
        need_read = any(v["fplen"] != rec["fplen"] for _, v in candidates)
        buf = None
        if need_read:
            try:
                f, _ = self._open_inode(path, int(ino))
                with f:
                    buf = f.read(max(v["fplen"] for _, v in candidates))
            except OSError:
                buf = None
        for ino, v in candidates:
            if v["fplen"] == rec["fplen"]:
                match = v["fp"] == rec["fp"]
            elif buf is not None and len(buf) >= v["fplen"]:
                match = (zlib.crc32(buf[:v["fplen"]]) & 0xFFFFFFFF) == v["fp"]
            else:
                match = False
            if match:
                window = min(int(v["off"]), int(rec["off"]))
                if best is None or window > best[1]:
                    best = (ino, window)
        return best

    def _same_content(self, ino: str, path: str, prev: dict, cur: dict) -> bool:
        """Is inode `ino` (last listed at `path`) still the file `prev`
        committed through?  Fingerprints compare for free when both
        prefixes have the same length (the steady state: both ≥ 4 KiB).  A
        small file that grew past the old prefix needs one driver read of
        that prefix — only on the trigger where it grew."""
        if not prev.get("fplen"):
            return True  # nothing was committed — offset 0 either way
        if prev.get("fp") is None:
            return True  # legacy offset without fingerprint: assume intact
        if cur.get("fplen") == prev["fplen"]:
            return cur.get("fp") == prev["fp"]
        try:
            f, _ = self._open_inode(path, int(ino))
            with f:
                head = zlib.crc32(f.read(prev["fplen"])) & 0xFFFFFFFF
            return head == prev["fp"]
        except OSError:
            return True  # gone between plan and read — executor sees truth

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        if "files" not in start:
            # a checkpoint written by another source — Spark's text file
            # source (`reader.type=text` before it ran on this reader)
            # stores {"logOffset": N}.  Reading it as "nothing committed"
            # would re-deliver every retained file from offset 0.
            raise ValueError(
                f"singer_tail cannot resume this query's checkpoint: its "
                f"offset {start} was written by another source (Spark's "
                f"file source) and holds no per-inode positions for "
                f"{self.log_dir}. Start the query on a fresh checkpoint "
                f"directory (move or delete the old checkpointLocation).")
        parts: list[InputPartition] = []
        prev = start.get("files", {})
        truncated: dict[str, int] = {}          # ino -> committed bytes lost
        copies: list[tuple[str, int]] = []      # (source ino, window bytes)
        for ino, cur in end.get("files", {}).items():
            p = prev.get(ino, {})
            s = int(p.get("off", 0))
            e = int(cur["off"])
            path = self._current_path(ino, cur["path"])
            if s > 0 and not self._same_content(ino, path, p, cur):
                # truncated / truncate-regrown / inode reused: re-read from
                # 0, which MAY re-deliver the s committed bytes
                truncated[ino], s = s, 0
            elif not p and e > 0:
                # an inode new in this batch whose prefix equals a committed
                # stream's prefix: a copytruncate copy landing in the
                # watched glob — its committed window WILL re-deliver (the
                # dominant duplicate source under copytruncate)
                hit = self._match_copy(ino, path, cur, prev)
                if hit is not None:
                    copies.append(hit)
            if e <= s:
                # nothing new — including a rate-limited latestOffset that
                # still lags a restored checkpoint (content verified above,
                # so this is pacing, not truncation)
                continue
            if self.mode == "thrift":
                # split at the frame boundaries the walk collected; a replay
                # on a fresh reader has no cache and reads the range whole
                cached = self._cache.get(ino, {})
                cuts = [b for b in cached.get("bounds", []) if s < b < e]
            elif self.message_start_regex:
                cuts = []  # one read per range: a message never straddles two
            else:
                cuts = range(s + self.chunk_bytes, e, self.chunk_bytes)
            lo = s
            for hi in [*cuts, e]:
                parts.append(TailPartition(path, lo, hi, s, int(ino)))
                lo = hi
        self._count_dupes(truncated, copies)
        if len(parts) > 1 and sum(p.end - p.start for p in parts) \
                <= min(_ONE_TASK_BYTES, self.chunk_bytes):
            return [TailRanges(parts)]
        return parts

    def _count_dupes(self, truncated: dict[str, int],
                     copies: list[tuple[str, int]]) -> None:
        """Add one planned batch's duplicate suspects to the counters and
        publish them.  A copytruncate rotation whose copy lands in the
        watched glob fires BOTH signals (the live inode's truncation and
        the copy's prefix match) for the SAME committed window — count it
        once, preferring the copy (it carries the bytes that re-deliver)."""
        counted_src = {src for src, _ in copies}
        windows = [b for ino, b in truncated.items() if ino not in counted_src]
        windows += [b for _src, b in copies]
        self._dupes_suspected += len(windows)
        self._dupe_bytes += sum(windows)
        _write_counters(self.log_dir, self.glob,
                        self._dupes_suspected, self._dupe_bytes)

    # -- execution (runs on executors) --------------------------------------
    def _open_inode(self, path: str, want: int):
        """Open the FILE `want` (an inode; 0 = whatever is at `path`), not
        just its last known path: a rotation between planning and
        execution can rename the file away (path missing) or — worse — put
        a brand-new file at the name, whose bytes at [start, end) are a
        different stream.  Verify the inode after open; on mismatch rescan
        the watched dir for the wanted inode (the soak tool reproduces this
        race within seconds of rename churn).  Inode truly gone (deleted,
        not rotated): the planned bytes no longer exist anywhere — surface
        the error rather than silently dropping a committed range.
        Returns (file, path it was opened at)."""
        try:
            f = open(path, "rb")
            if not want or os.fstat(f.fileno()).st_ino == want:
                return f, path
            f.close()
        except FileNotFoundError:
            if not want:
                raise
        for q in _matching(self.log_dir, self.glob):
            try:
                g = open(q, "rb")
            except OSError:
                continue
            if os.fstat(g.fileno()).st_ino == want:
                return g, q
            g.close()
        raise FileNotFoundError(
            f"tail partition lost: inode {want} (recorded at "
            f"{path}) is no longer in {self.log_dir} — file "
            "deleted between planning and read")

    def _read_range(self, partition: TailPartition) -> tuple[bytes, str]:
        f, path = self._open_inode(partition.path, partition.ino)
        with f:
            f.seek(partition.start)
            return f.read(partition.end - partition.start), path

    def read(self, partition: TailPartition | TailRanges) -> Iterator[tuple]:
        ranges = partition.ranges if isinstance(partition, TailRanges) else [partition]
        for r in ranges:
            yield from self._read_one(r)

    def _read_one(self, partition: TailPartition) -> Iterator[tuple]:
        """Text: TextInputFormat semantics over [start, end) — a line belongs
        to the chunk containing its first byte; a non-first chunk seeks one
        byte back to find its first line start.  Thrift: `start` is always a
        frame boundary, so the slice decodes standalone.  Multi-line text:
        the partition is the whole range, framed by `frame_text`."""
        start, end = partition.start, partition.end
        if self.mode == "thrift":
            from singer_spark.framing import AUDIT_HEADERS_SCHEMA, decode_file_tolerant

            blob, path = self._read_range(partition)
            for key, msg, ts, crc, audit, _path, off in decode_file_tolerant(
                    blob, path, self.max_message_size, base_offset=start):
                audit_row = (tuple(audit.get(fld.name) for fld in AUDIT_HEADERS_SCHEMA.fields)
                             if audit is not None else None)
                yield (key, msg, ts, crc, audit_row, path, off)
            return
        if self.message_start_regex:
            from singer_spark.framing import frame_text

            blob, path = self._read_range(partition)
            # surrogateescape round-trips every byte, so `pos` stays exact
            for msg in frame_text(blob.decode("utf-8", errors="surrogateescape"),
                                  self.message_start_regex):
                raw = msg.encode("utf-8", errors="surrogateescape")
                out = raw[:-1] if raw.endswith(b"\n") else raw
                yield (out.decode("utf-8", errors="replace"), path, start)
                start += len(raw)
            return
        f, path = self._open_inode(partition.path, partition.ino)
        with f:
            pos = start
            if start > partition.batch_start:
                f.seek(start - 1)
                if f.read(1) != b"\n":
                    skipped = f.readline()
                    pos = start + len(skipped)
                    if pos >= end:
                        return
            else:
                f.seek(start)
            while pos < end:
                line = f.readline()
                if not line:
                    break
                out = line[:-1] if line.endswith(b"\n") else line
                yield (out.decode("utf-8", errors="replace"), path, pos)
                pos += len(line)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint — nothing reader-side to GC;
        # but a committed offset is a floor for the pacing base, so a
        # restarted reader stops emitting empty capped batches as soon as
        # the first commit arrives
        for ino, rec in end.get("files", {}).items():
            if int(rec.get("off", 0)) > self._reported.get(ino, -1):
                self._reported[ino] = int(rec["off"])


class TailDataSource(DataSource):
    """format("singer_tail"): tail growing log files with per-inode offsets."""

    @classmethod
    def name(cls) -> str:
        return "singer_tail"

    def schema(self):
        if self.options.get("mode", "text") == "thrift":
            from singer_spark.framing import LOG_MESSAGE_SCHEMA

            return LOG_MESSAGE_SCHEMA
        return TAIL_SCHEMA

    def streamReader(self, schema) -> TailStreamReader:
        return TailStreamReader(self.options)


def tail_stream(spark, log_dir: str, glob: str = "*",
                chunk_bytes: int = 64 * 1024 * 1024, mode: str = "text",
                max_message_size: int | None = None,
                max_bytes_per_trigger: int | None = None,
                message_start_regex: str | None = None):
    """readStream over growing files in `log_dir` (registers the source)."""
    spark.dataSource.register(TailDataSource)
    _started.add((log_dir, glob))  # the heartbeat lists this stream
    reader = (
        spark.readStream.format("singer_tail")
        .option("path", log_dir)
        .option("glob", glob)
        .option("chunk_bytes", str(chunk_bytes))
        .option("mode", mode)
    )
    if max_message_size:
        reader = reader.option("max_message_size", str(max_message_size))
    if max_bytes_per_trigger:
        reader = reader.option("max_bytes_per_trigger", str(max_bytes_per_trigger))
    if message_start_regex:
        reader = reader.option("message_start_regex", message_start_regex)
    return reader.load()
