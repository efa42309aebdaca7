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

Modes: ``mode=text`` (default) yields (value string, path, pos);
``mode=thrift`` decodes framed-thrift LogMessages
(reader/ThriftLogFileReader.java:91-175) and yields the LOG_MESSAGE columns
(key, value, timestampInNanos, checksum, auditHeaders, file, offset).

Deployment envelope (matches the reference's log-agent model): the log
directory must be readable by driver AND executors — a single-host
`local[*]` agent or a shared filesystem.  On a multi-node cluster over
node-local disks the executor opens fail; use the batch sources over
rotated files instead.  Per-trigger driver cost is one listdir + one stat
per matching file + one open per CHANGED file — thousands of mostly-idle
files are fine; millions of hot files in one dir are not the target shape.
"""

from __future__ import annotations

import os
import stat
import zlib
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

TAIL_SCHEMA = "value string, path string, pos bigint"
_SCAN_BACK = 65536
_FP_BYTES = 4096


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


def _empty_entry(st: os.stat_result) -> dict:
    """A scan-cache entry committing nothing yet for the file `st`."""
    return {"sig": (st.st_size, st.st_mtime_ns), "off": 0, "fp": None,
            "fplen": 0, "bounds": [], "caught_up": True}


class TailPartition(InputPartition):
    def __init__(self, path: str, start: int, end: int, batch_start: int,
                 ino: int = 0):
        self.path = path
        self.start = start
        self.end = end
        self.batch_start = batch_start  # first chunk of the batch starts exact
        self.ino = ino  # identity — the path can rotate away before the read


# ---------------------------------------------------------------------------
# Side channel for the duplicates-suspected counters.  The offset dict
# must stay a pure function of source position (ADVICE r7 #2), and the
# Python DataSource API has no custom-metrics hook — worse, the
# streaming reader runs in a SEPARATE long-lived Python worker process
# (python_streaming_source_runner), so an in-process registry never
# reaches the driver-side heartbeat (measured: the r8 first attempt
# reported 0 while 33k duplicates were delivered).  The channel that
# does cross that boundary is a tiny per-stream JSON file under the
# system tempdir, atomically replaced on each latestOffset; a fresh
# reader writes a zeroed file (process-lifetime semantics, like the
# reference's per-stream metrics).
# ---------------------------------------------------------------------------
def _counters_dir() -> str:
    import tempfile

    # per-uid directory: a world-shared fixed path under /tmp would hand
    # user B a PermissionError from user A's 0755 dir (review r8) — and
    # crash a streaming query over telemetry
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    return os.path.join(tempfile.gettempdir(), f"singer_tail_counters_{uid}")


def _counters_file(log_dir: str, glob: str, ns: str = "",
                   token: str = "") -> str:
    import hashlib

    # per-READER file (the token is unique per reader instance): two
    # readers on the same (log_dir, glob) — a restarted query
    # overlapping the old one — must not share a file, or the new
    # reader's zeroed __init__ write clobbers the live one's counts
    # (ADVICE r8 #2)
    key = hashlib.md5(
        f"{ns}::{log_dir}::{glob}::{token}".encode("utf-8")).hexdigest()[:16]
    d = _counters_dir()
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, key + ".json")


def _write_counters(log_dir: str, glob: str, reopens: int,
                    bytes_: int, ns: str = "", token: str = "") -> None:
    import json

    # best-effort telemetry: a full disk or permission race must NEVER
    # take the streaming query down — the offsets are the data path,
    # this file is not.  The writer's pid rides along so GC can key
    # eligibility on process liveness, not age alone (ADVICE r9 #3).
    try:
        path = _counters_file(log_dir, glob, ns, token)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"stream": f"{log_dir}::{glob}", "ns": ns,
                       "reopens": int(reopens), "bytes": int(bytes_),
                       "pid": os.getpid()}, f)
        os.replace(tmp, path)
    except OSError:
        pass


def _pid_alive(pid: int) -> bool:
    """Is `pid` a live process?  Signal-0 probe; the counters dir is
    per-uid so EPERM (another user's pid after reuse) is the rare case —
    treated as alive (keep the file, the age hard-cap still bounds it)."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except (PermissionError, OSError):
        return True


def _gc_counters(max_age_secs: float = 3600.0,
                 hard_cap_secs: float = 7 * 86400.0) -> None:
    """Unlink counter files whose writer process is GONE and that are idle
    past `max_age_secs` — per-reader files (unique token per reader since
    ADVICE r8 #2) otherwise accumulate one per reader instance forever on
    hosts with restarting queries (review r9 #5).  Called once per reader
    construction.

    Eligibility is (idle > max_age AND writer pid dead) — age alone is not
    enough: a live tail reader whose trigger interval exceeds the cutoff
    (or a long-paused query) must not lose its file to an unrelated reader
    starting on the same host (ADVICE r9 #3).  `hard_cap_secs` (default
    7 days) GCs regardless of pid, bounding files kept alive by pid reuse
    or files written before the pid field existed.  Best-effort like every
    write in this channel."""
    import json
    import time

    d = _counters_dir()
    try:
        names = os.listdir(d)
    except OSError:
        return
    now = time.time()
    for name in names:
        p = os.path.join(d, name)
        try:
            idle = now - os.stat(p).st_mtime
            if idle <= max_age_secs:
                continue
            if idle <= hard_cap_secs:
                try:
                    with open(p) as f:
                        pid = json.load(f).get("pid")
                except (OSError, ValueError):
                    pid = None  # unreadable/corrupt: plain age-based GC
                if pid is not None and _pid_alive(int(pid)):
                    continue  # paused-but-live reader: keep its counts
            os.unlink(p)
        except (OSError, ValueError):
            continue


def _scan_counters(max_age_secs: float, ns: "str | None") -> "list[dict]":
    """All recent counter records, newest-mtime first.  ns=None matches
    everything; a concrete ns matches that namespace PLUS empty-ns
    records.  DEPRECATED back-compat, scheduled for removal: since r10
    every reader emits a non-empty ns (tail_stream passes the app id;
    direct readStream.format users get a private `_local:` namespace),
    so the empty-ns match only fires for counter files written by
    pre-r10 readers still on disk — it ages out with them (GC hard-cap
    7 days) and the `""` arm can then be dropped."""
    import json
    import time

    d = _counters_dir()
    recs = []
    try:
        names = os.listdir(d)
    except OSError:
        return recs
    now = time.time()
    for name in names:
        p = os.path.join(d, name)
        try:
            mtime = os.stat(p).st_mtime
            if not name.endswith(".json") or now - mtime > max_age_secs:
                continue
            with open(p) as f:
                c = json.load(f)
            c_ns = str(c.get("ns", ""))
            if ns is not None and c_ns not in (ns, ""):
                continue
            recs.append({"stream": str(c.get("stream", name)), "ns": c_ns,
                         "reopens": int(c.get("reopens", 0)),
                         "bytes": int(c.get("bytes", 0)),
                         "_mtime": mtime})
        except (OSError, ValueError):
            continue
    recs.sort(key=lambda c: c["_mtime"], reverse=True)
    return recs


def read_counters(log_dir: str, glob: str = "*",
                  ns: "str | None" = None) -> dict:
    """{reopens, bytes} for one tail stream — the most recently
    reporting reader's record (per-reader files since ADVICE r8 #2);
    zeros when the stream never reported (no reader alive yet, or a
    cleaned tempdir).  No age cutoff: the soak reads its own stream
    right after the query stops."""
    want = f"{log_dir}::{glob}"
    for c in _scan_counters(float("inf"), ns):
        if c["stream"] == want:
            return {"reopens": c["reopens"], "bytes": c["bytes"]}
    return {"reopens": 0, "bytes": 0}


def list_counters(max_age_secs: float = 900.0,
                  ns: "str | None" = None) -> "list[dict]":
    """One record per recently-reporting stream (for the heartbeat):
    [{stream, reopens, bytes}], the most recently written reader's
    record per stream, entries idle past max_age_secs skipped (a
    tempdir outlives the queries that wrote it).  Pass the Spark
    application id as `ns` to exclude OTHER applications' streams
    (ADVICE r8 #2) — since r10 ALL readers emit a namespace, so the
    exclusion covers direct readStream.format users too (they get a
    private `_local:` ns; only deprecated pre-r10 empty-ns files still
    match every app until the GC hard-cap ages them out)."""
    out, seen = [], set()
    for c in _scan_counters(max_age_secs, ns):
        if c["stream"] in seen:
            continue  # older reader on the same stream (restart overlap)
        seen.add(c["stream"])
        out.append({"stream": c["stream"], "reopens": c["reopens"],
                    "bytes": c["bytes"]})
    return out


class TailStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.log_dir = options.get("path")
        if not self.log_dir:
            raise ValueError("singer_tail requires option 'path' (the log dir)")
        self.glob = options.get("glob", "*")
        self.mode = options.get("mode", "text")
        if self.mode not in ("text", "thrift"):
            raise ValueError(f"singer_tail mode must be text|thrift, got {self.mode}")
        self.chunk_bytes = int(options.get("chunk_bytes", 64 * 1024 * 1024))
        self.max_message_size = int(options.get("max_message_size", 0)) or None
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
        # discipline, common/SingerStatus.java:108-149).  Two signals, both
        # rate-limited to events a live reader can see:
        #   1. fingerprint-mismatch reopen — the committed prefix is no
        #      longer the file's prefix (truncate-regrow, inode reuse), so
        #      the re-read from 0 MAY re-deliver committed bytes;
        #   2. a first-seen inode whose prefix equals a tracked stream's
        #      committed prefix — a copytruncate copy landing in the
        #      watched glob, whose committed window WILL re-deliver (the
        #      dominant duplicate source under copytruncate).
        # Counters are per reader lifetime (the reference's process-
        # lifetime metric semantics).  They are surfaced through the
        # counters-file side channel (see _write_counters above) — NOT
        # through the offset dict: offsets must stay a pure function of
        # source position (ADVICE r7 #2 — a counter-bearing offset
        # schedules an empty micro-batch on a zero-new-bytes suspicion
        # event and disagrees with a restarted reader's zeroed
        # counters).  Duplicates created while NO reader is alive (a
        # copy made between restarts) are invisible by design — there is
        # no state to compare against, the same blind spot the reference
        # has across agent restarts.
        self._last_files: dict[str, dict] = {}
        self._dupes_suspected = 0
        self._dupe_bytes = 0
        # counters namespace (the Spark application id when constructed
        # through tail_stream) + a per-reader token: the heartbeat
        # filters foreign apps by ns, and the token gives each reader
        # its own file so an overlapping restart can't zero a live
        # reader's counts (ADVICE r8 #2)
        import uuid

        self._counters_token = uuid.uuid4().hex[:12]
        # ns is ALWAYS emitted (r9 task #7): a reader constructed without
        # `counters_ns` (direct readStream.format user) gets a private
        # `_local:<token>` namespace instead of the old empty string, so
        # it can never leak into ANOTHER application's heartbeat via the
        # empty-ns back-compat match.  Its counters stay reachable with
        # ns=None (match-everything) or read_counters on its stream key;
        # pass counters_ns=<applicationId> to appear in an app's status.
        self._counters_ns = (options.get("counters_ns")
                             or f"_local:{self._counters_token}")
        _gc_counters()  # bound the per-reader-file population (r9 #5)
        _write_counters(self.log_dir, self.glob, 0, 0,
                        self._counters_ns, self._counters_token)

    # -- scanning ----------------------------------------------------------
    def _fingerprint(self, f, off: int) -> tuple[int | None, int]:
        fplen = min(_FP_BYTES, off)
        if fplen <= 0:
            return None, 0
        f.seek(0)
        return zlib.crc32(f.read(fplen)) & 0xFFFFFFFF, fplen

    def _walk_frames(self, f, size: int, start: int) -> tuple[int, list[int]]:
        """Forward walk of TFramedTransport length prefixes from a known
        frame boundary `start`: returns (committed end, chunk boundaries
        every ~chunk_bytes).  Only appended bytes are walked when the cache
        held the previous end — steady-state cost is O(new frames).

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

        def scan(lim: int) -> None:
            if self.mode == "text":
                entry["off"] = _committed_end_text(f, lim)
            else:
                entry["off"], entry["bounds"] = self._walk_frames(f, lim, start)

        scan(limit)
        if not entry["caught_up"] and entry["off"] <= base:
            # a single line/frame larger than the pace budget must
            # still go through — retry unbounded rather than stall
            entry["caught_up"] = True
            scan(st.st_size)
        entry["fp"], entry["fplen"] = self._fingerprint(f, entry["off"])
        return entry

    def _list(self) -> dict[str, tuple[str, dict]]:
        """ino -> (path, scan entry) for every regular file matching the
        glob."""
        import fnmatch

        listed: dict[str, tuple[str, dict]] = {}
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            names = []
        for name in sorted(names):
            if not fnmatch.fnmatch(name, self.glob):
                continue
            p = os.path.join(self.log_dir, name)
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
        offsets itself, so a restart needs no reader-side state."""
        files: dict[str, dict] = {}
        paths: dict[str, str] = {}
        truncated: dict[str, int] = {}          # ino -> committed bytes lost
        copies: list[tuple[str, int]] = []      # (source ino, window bytes)
        listed = self._list()
        if not self._last_files.keys() <= listed.keys():
            # a tracked file left the listing: deleted, or renamed between
            # listdir and stat/open (then its old name now holds another
            # inode).  List once more so a renamed file shows up under its
            # new name with its offset, instead of vanishing for a trigger
            # and re-reading from 0 after.  Files already scanned this
            # trigger cost no second open.
            listed = self._list()
        for ino, (p, entry) in listed.items():
            paths[ino] = p
            rec = {"path": p, "off": entry["off"],
                   "fp": entry["fp"], "fplen": entry["fplen"]}
            prev = self._last_files.get(ino)
            if prev and prev.get("off", 0) > 0 and prev.get("fp") is not None:
                # the same comparison partitions() makes before deciding to
                # re-read from 0 (_same_content: equal-length prefixes
                # compare for free; a differing-length prefix costs one
                # read of a file this trigger ALREADY opened to scan)
                if not self._same_content(ino, p, prev, rec):
                    truncated[ino] = int(prev["off"])
            elif prev is None and rec["off"] > 0:
                # NEW inode whose prefix equals a tracked stream's committed
                # prefix: a copytruncate copy landing in the watched glob —
                # its [0, prev_off) bytes were already delivered from the
                # live inode and will now re-deliver (the dominant
                # duplicate source under copytruncate).  Equal-length
                # fingerprints compare for free; otherwise one bounded
                # (≤4 KiB) read of a file that only just appeared.
                hit = self._match_copy(p, rec)
                if hit is not None:
                    copies.append(hit)
            files[ino] = rec
            self._reported[ino] = entry["off"]  # pacing base advances
        # Reconcile the two signals: a copytruncate rotation whose copy
        # lands in the watched glob fires BOTH (the live inode's truncation
        # reopen and the copy's prefix match) for the SAME committed
        # window — count it once, preferring the copy (it carries the
        # bytes that actually re-deliver).
        counted_src = {src for src, _ in copies}
        for ino, prev_off in truncated.items():
            if ino not in counted_src:
                self._dupes_suspected += 1
                self._dupe_bytes += prev_off
        for _src, window in copies:
            self._dupes_suspected += 1
            self._dupe_bytes += window
        self._paths = paths
        self._last_files = files
        _write_counters(self.log_dir, self.glob,
                        self._dupes_suspected, self._dupe_bytes,
                        self._counters_ns, self._counters_token)
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
            import fnmatch

            try:
                for name in os.listdir(self.log_dir):
                    if not fnmatch.fnmatch(name, self.glob):
                        continue
                    q = os.path.join(self.log_dir, name)
                    try:
                        self._paths[str(os.stat(q).st_ino)] = q
                    except OSError:
                        continue
            except FileNotFoundError:
                pass
            p = self._paths.get(ino)
        return p or recorded

    def _match_copy(self, path: str, rec: dict) -> tuple[str, int] | None:
        """Duplicate-suspect check for a first-seen inode: is any tracked
        stream's committed prefix also a prefix of this file?  Free when fingerprint
        lengths match; otherwise one ≤4 KiB read amortized over rotations
        (new inodes only appear when something rotated).  Returns the
        (source ino, window bytes) of the largest matching committed
        prefix — the suspected re-delivery window — or None."""
        candidates = [(ino, v) for ino, v in self._last_files.items()
                      if v.get("off", 0) > 0 and v.get("fp") is not None
                      and v["fplen"] <= rec["fplen"]]
        if not candidates:
            return None
        best: tuple[str, int] | None = None
        need_read = any(v["fplen"] != rec["fplen"] for _, v in candidates)
        buf = None
        if need_read:
            try:
                with open(path, "rb") as f:
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
        parts: list[InputPartition] = []
        prev = start.get("files", {})
        for ino, cur in end.get("files", {}).items():
            p = prev.get(ino, {})
            s = int(p.get("off", 0))
            e = int(cur["off"])
            path = self._current_path(ino, cur["path"])
            if s > 0 and not self._same_content(ino, path, p, cur):
                s = 0  # truncated / truncate-regrown / inode reused: re-read
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
                lo = s
                for hi in cuts + [e]:
                    parts.append(TailPartition(path, lo, hi, s, int(ino)))
                    lo = hi
            else:
                lo = s
                while lo < e:
                    hi = min(lo + self.chunk_bytes, e)
                    parts.append(TailPartition(path, lo, hi, s, int(ino)))
                    lo = hi
        return parts

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
        import fnmatch

        try:
            f = open(path, "rb")
            if not want or os.fstat(f.fileno()).st_ino == want:
                return f, path
            f.close()
        except FileNotFoundError:
            if not want:
                raise
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            names = []
        for name in names:
            if not fnmatch.fnmatch(name, self.glob):
                continue
            q = os.path.join(self.log_dir, name)
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

    def read(self, partition: TailPartition) -> Iterator[tuple]:
        """Text: TextInputFormat semantics over [start, end) — a line belongs
        to the chunk containing its first byte; a non-first chunk seeks one
        byte back to find its first line start.  Thrift: `start` is always a
        frame boundary, so the slice decodes standalone."""
        start, end = partition.start, partition.end
        if self.mode == "thrift":
            from singer_spark.framing import AUDIT_HEADERS_SCHEMA, decode_file_tolerant

            f, path = self._open_inode(partition.path, partition.ino)
            with f:
                f.seek(start)
                blob = f.read(end - start)
            for key, msg, ts, crc, audit, _path, off in decode_file_tolerant(
                    blob, path, self.max_message_size, base_offset=start):
                audit_row = (tuple(audit.get(fld.name) for fld in AUDIT_HEADERS_SCHEMA.fields)
                             if audit is not None else None)
                yield (key, msg, ts, crc, audit_row, path, off)
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
                max_bytes_per_trigger: int | None = None):
    """readStream over growing files in `log_dir` (registers the source)."""
    spark.dataSource.register(TailDataSource)
    reader = (
        spark.readStream.format("singer_tail")
        .option("path", log_dir)
        .option("glob", glob)
        .option("chunk_bytes", str(chunk_bytes))
        .option("mode", mode)
        # the reader runs in its own Python worker with no handle on the
        # session — the app id must ride in as an option for the
        # heartbeat's cross-application counter filter (ADVICE r8 #2)
        .option("counters_ns", spark.sparkContext.applicationId)
    )
    if max_message_size:
        reader = reader.option("max_message_size", str(max_message_size))
    if max_bytes_per_trigger:
        reader = reader.option("max_bytes_per_trigger", str(max_bytes_per_trigger))
    return reader.load()
