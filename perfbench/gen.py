"""Seeded input generators for the three workloads.

Each generator is a pure function of its seed and parameters: the same seed
gives the same bytes (the tests pin this by digest).  Each also checks the
structure it planted (counts, size mix, DEBUG share, duplicate plants) and
raises if a parameter choice broke it.  The thrift encoder here is written
from the public TBinaryProtocol spec and shares no code with the program,
so the expected outputs it yields are an independent reference.
"""

from __future__ import annotations

import hashlib
import os
import random
import struct
import zlib
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Message identity shared with the counting producer: a 64-bit digest of
# (key, value, crc32(value)).  The generator feeds the checksum it framed,
# the producer the crc32 it recomputes, so equal multisets also prove
# checksum == crc32(value) for every delivered message.
# ---------------------------------------------------------------------------


def identity(key: bytes | None, value: bytes, crc: int) -> int:
    h = hashlib.blake2b(digest_size=8)
    k = key if key is not None else b""
    h.update(struct.pack(">I", len(k)))
    h.update(k)
    h.update(struct.pack(">I", crc & 0xFFFFFFFF))
    h.update(value)
    return int.from_bytes(h.digest(), "little")


def _printable(rng: random.Random, n: int) -> bytes:
    alphabet = b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 _-"
    raw = rng.randbytes(n)
    return bytes(alphabet[b & 63] for b in raw)


# ---------------------------------------------------------------------------
# backlog_thrift_kafka: rotated framed-thrift LogMessage files.
# ---------------------------------------------------------------------------
_T_STRING, _T_I64, _T_I32, _T_BOOL, _T_STRUCT = 11, 10, 8, 2, 12

# (share, min bytes, max bytes) of the payload size classes
SIZE_MIX = ((0.70, 40, 200), (0.25, 200, 1000), (0.05, 1000, 8000))
HOT_KEYS = 500          # keys drawn from a skewed pool of repeating user ids
HOT_KEY_SHARE = 0.7
CRC_SHARE = 0.8         # messages that carry the optional checksum field
AUDIT_SHARE = 0.1       # messages that carry LoggingAuditHeaders
# 16 files: the one-task-per-file decode runs in four even waves on 4
# cores, so a core slowed by a neighbour on a shared host holds up a
# quarter of the drain at most, not half of it
N_FILES = 16
LOG_NAME = "app.log"


def _frame(key: bytes, value: bytes, ts: int, crc: int | None,
           audit: dict | None) -> bytes:
    parts = [struct.pack(">bhI", _T_STRING, 1, len(key)), key,
             struct.pack(">bhI", _T_STRING, 2, len(value)), value,
             struct.pack(">bhq", _T_I64, 3, ts)]
    if crc is not None:
        parts.append(struct.pack(">bhq", _T_I64, 4, crc))
    if audit is not None:
        host = audit["host"].encode()
        log = audit["logName"].encode()
        parts += [struct.pack(">bh", _T_STRUCT, 5),
                  struct.pack(">bhI", _T_STRING, 1, len(host)), host,
                  struct.pack(">bhI", _T_STRING, 2, len(log)), log,
                  struct.pack(">bhi", _T_I32, 3, audit["pid"]),
                  struct.pack(">bhq", _T_I64, 4, audit["session"]),
                  struct.pack(">bhi", _T_I32, 5, audit["seq"]),
                  struct.pack(">bhq", _T_I64, 6, audit["timestamp"]),
                  struct.pack(">bhb", _T_BOOL, 7, 1),
                  b"\x00"]
    parts.append(b"\x00")
    body = b"".join(parts)
    return struct.pack(">I", len(body)) + body


@dataclass
class ThriftCorpus:
    log_dir: str
    glob: str
    n_messages: int
    n_files: int
    bytes_on_disk: int
    ids: list[int] = field(repr=False)        # identity() of every message
    digest: str = ""                          # sha256 over the files, oldest first


def thrift_corpus(log_dir: str, seed: int, n_messages: int) -> ThriftCorpus:
    """Write `n_messages` framed-thrift LogMessages across N_FILES files
    rotated by rename (``app.log.7`` oldest ... ``app.log`` newest), the
    layout an agent restarting after downtime finds on disk."""
    rng = random.Random(f"thrift:{seed}")
    os.makedirs(log_dir, exist_ok=True)
    hot = [f"user-{rng.randrange(10**7):07d}".encode() for _ in range(HOT_KEYS)]
    filler = _printable(rng, 1 << 16)
    per_file = -(-n_messages // N_FILES)
    ids: list[int] = []
    classes = [0, 0, 0]
    n_crc = n_audit = 0
    frames: list[bytes] = []
    files: list[bytes] = []
    ts0 = 1_700_000_000_000_000_000 + seed * 1_000_000_000
    for i in range(n_messages):
        r = rng.random()
        c = 0 if r < SIZE_MIX[0][0] else (1 if r < SIZE_MIX[0][0] + SIZE_MIX[1][0] else 2)
        classes[c] += 1
        _, lo, hi = SIZE_MIX[c]
        size = rng.randrange(lo, hi)
        if rng.random() < HOT_KEY_SHARE:
            key = hot[min(int(rng.paretovariate(1.2)) - 1, HOT_KEYS - 1)]
        else:
            key = f"req-{rng.getrandbits(64):x}".encode()
        head = b'{"seq":%d,"msg":"' % i
        off = rng.randrange(0, len(filler) - size)
        value = head + filler[off:off + max(size - len(head) - 2, 1)] + b'"}'
        crc_val = zlib.crc32(value) & 0xFFFFFFFF
        crc = crc_val if rng.random() < CRC_SHARE else None
        audit = None
        if rng.random() < AUDIT_SHARE:
            audit = {"host": "bench-host", "logName": LOG_NAME, "pid": 4242,
                     "session": seed, "seq": i, "timestamp": ts0 // 1000 + i}
            n_audit += 1
        n_crc += crc is not None
        frames.append(_frame(key, value, ts0 + i * 1000, crc, audit))
        ids.append(identity(key, value, crc if crc is not None else crc_val))
        if len(frames) == per_file or i == n_messages - 1:
            files.append(b"".join(frames))
            frames = []
    # rotate-by-rename: write each file as the live name, then shift names
    path = os.path.join(log_dir, LOG_NAME)
    for blob in files:
        if os.path.exists(path):
            for j in range(len(files) - 1, 0, -1):
                src = path if j == 1 else f"{path}.{j - 1}"
                if os.path.exists(src):
                    os.replace(src, f"{path}.{j}")
        with open(path, "wb") as f:
            f.write(blob)
    corpus = ThriftCorpus(
        log_dir=log_dir, glob=f"{LOG_NAME}*", n_messages=n_messages,
        n_files=len(files), bytes_on_disk=sum(len(b) for b in files), ids=ids,
        digest=hashlib.sha256(b"".join(reversed(files))).hexdigest())
    _check_thrift(corpus, classes, n_crc, n_audit, files)
    return corpus


def _check_thrift(c: ThriftCorpus, classes, n_crc, n_audit, files) -> None:
    n = c.n_messages
    if len(os.listdir(c.log_dir)) != c.n_files:
        raise RuntimeError("thrift corpus: rotated file count is off")
    walked = 0
    for blob in files:
        pos = 0
        while pos + 4 <= len(blob):
            (ln,) = struct.unpack_from(">I", blob, pos)
            pos += 4 + ln
            walked += 1
        if pos != len(blob):
            raise RuntimeError("thrift corpus: frame walk does not end on a boundary")
    if walked != n or len(c.ids) != n:
        raise RuntimeError(f"thrift corpus: {walked} frames for {n} messages")
    if n >= 2000:
        for got, (share, _, _) in zip(classes, SIZE_MIX):
            if abs(got / n - share) > 0.03:
                raise RuntimeError(f"thrift corpus: size mix {classes} off {SIZE_MIX}")
        if abs(n_crc / n - CRC_SHARE) > 0.03 or abs(n_audit / n - AUDIT_SHARE) > 0.03:
            raise RuntimeError("thrift corpus: crc / audit-header share is off")


# ---------------------------------------------------------------------------
# live_tail_text: a line plan; the scheduled send time is stamped into each
# line when the open-loop writer emits it.
# ---------------------------------------------------------------------------
DEBUG_SHARE = 0.10       # the rest: 78% INFO, 17% WARN, 5% ERROR
HOSTNAME = "localhost"   # what prepend_hostname puts in front of each line


@dataclass
class LinePlan:
    rate: int                  # lines per second
    n_lines: int
    n_streams: int
    levels: list[str] = field(repr=False)
    streams: list[int] = field(repr=False)
    pads: list[bytes] = field(repr=False)
    digest: str = ""

    def line(self, i: int, sched_ns: int) -> bytes:
        return b"%s seq=%d sched=%d %s\n" % (self.levels[i].encode(), i,
                                              sched_ns, self.pads[i])

    def kept(self, i: int) -> bool:
        return self.levels[i] != "DEBUG"


def line_plan(seed: int, rate: int, seconds: float, n_streams: int = 4) -> LinePlan:
    """Levels, target stream and padding of every line of an open-loop run
    at `rate` lines/s for `seconds` (~10% DEBUG, which the filter drops)."""
    rng = random.Random(f"live:{seed}")
    n = int(rate * seconds)
    filler = _printable(rng, 1 << 15)
    levels, streams, pads = [], [], []
    for _ in range(n):
        r = rng.random()
        if r < DEBUG_SHARE:
            levels.append("DEBUG")
        else:
            r = rng.random()
            levels.append("INFO" if r < 0.78 else ("WARN" if r < 0.95 else "ERROR"))
        streams.append(rng.randrange(n_streams))
        size = rng.randrange(20, 300) if rng.random() < 0.9 else rng.randrange(300, 2000)
        off = rng.randrange(0, len(filler) - size)
        pads.append(filler[off:off + size].replace(b"\n", b" "))
    h = hashlib.sha256()
    for i in range(n):
        h.update(b"%s|%d|%s;" % (levels[i].encode(), streams[i], pads[i]))
    plan = LinePlan(rate=rate, n_lines=n, n_streams=n_streams, levels=levels,
                    streams=streams, pads=pads, digest=h.hexdigest())
    if n >= 2000:
        share = levels.count("DEBUG") / n
        if abs(share - DEBUG_SHARE) > 0.02:
            raise RuntimeError(f"line plan: DEBUG share {share:.3f}")
        if len(set(streams)) != n_streams:
            raise RuntimeError("line plan: a stream got no lines")
    return plan


def expected_live_value(plan: LinePlan, i: int, sched_ns: int) -> bytes:
    """The value the pipeline must deliver for kept line `i`."""
    return HOSTNAME.encode() + b" " + plan.line(i, sched_ns)[:-1]


# ---------------------------------------------------------------------------
# curate_stream_docs: parquet chunks of synthetic documents with planted
# exact and one-token near duplicates.
# ---------------------------------------------------------------------------
_EN_STOP = ("the", "a", "of", "and", "to", "in", "is", "it", "was", "for",
            "on", "with", "as", "at", "by", "that", "this", "from")
_DE_STOP = ("der", "die", "das", "und", "zu", "ein", "ist", "nicht", "mit")
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05


def _vocab(rng: random.Random, n: int) -> list[str]:
    cons, vow = "bcdfghjklmnprstvwz", "aeiou"
    words = set()
    while len(words) < n:
        k = rng.randrange(2, 5)
        words.add("".join(rng.choice(cons) + rng.choice(vow) for _ in range(k)))
    return sorted(words)


@dataclass
class DocCorpus:
    in_dir: str
    n_docs: int
    n_chunks: int
    bytes_on_disk: int
    chunk_sizes: list[int] = field(repr=False)
    copies: dict[int, int] = field(repr=False)   # planted copy id -> original id
    exact: set[int] = field(repr=False)          # planted ids that are exact copies
    digest: str = ""


def doc_corpus(in_dir: str, seed: int, n_docs: int, n_chunks: int) -> DocCorpus:
    """`n_docs` documents in `n_chunks` parquet files (arrival order =
    doc_id order = file mtime order).  Mostly English-like text, plus
    German-like, junk and repetitive documents the gates drop, plus 5%
    exact and 5% one-token near copies of EARLIER documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"docs:{seed}")
    vocab = _vocab(rng, 3000)
    texts: list[str] = []
    copies: dict[int, int] = {}
    exact: set[int] = set()
    for i in range(n_docs):
        r = rng.random()
        if i >= 20 and r < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = rng.randrange(max(0, i - 400), i)
            while src in copies:
                src = rng.randrange(max(0, i - 400), i)
            toks = texts[src].split(" ")
            if r < EXACT_DUP_SHARE:
                exact.add(i)
            else:  # one-token near copy: replace the last token
                toks[-1] = toks[-1] + "q"
            copies[i] = src
            texts.append(" ".join(toks))
            continue
        kind = rng.random()
        n_tok = rng.randrange(40, 400)
        if kind < 0.08:    # German-like: fails the lang=en gate
            toks = [rng.choice(_DE_STOP) if rng.random() < 0.35 else rng.choice(vocab)
                    for _ in range(n_tok)]
        elif kind < 0.13:  # boilerplate repetition: fails the repetition gate
            phrase = [rng.choice(vocab) for _ in range(4)] + ["the"]
            toks = (phrase * (n_tok // 5 + 1))[:n_tok]
        elif kind < 0.17:  # digit/punctuation junk: fails the quality gate
            toks = [f"{rng.randrange(10**6)};#{rng.randrange(999)}" for _ in range(n_tok)]
        else:
            # content words uniform over the vocabulary, so unplanted docs
            # share (almost) no 4-token shingles and are never near copies
            toks = [rng.choice(_EN_STOP) if rng.random() < 0.3 else rng.choice(vocab)
                    for _ in range(n_tok)]
        texts.append(" ".join(toks))
    os.makedirs(in_dir, exist_ok=True)
    per = -(-n_docs // n_chunks)
    h = hashlib.sha256()
    total = 0
    t_base = 1_600_000_000
    for c in range(n_chunks):
        lo, hi = c * per, min((c + 1) * per, n_docs)
        table = pa.table({
            "doc_id": pa.array(range(lo, hi), pa.int64()),
            "text": pa.array(texts[lo:hi], pa.string()),
            "source": pa.array([f"src{j % 7}" for j in range(lo, hi)], pa.string()),
        })
        p = os.path.join(in_dir, f"chunk-{c:04d}.parquet")
        pq.write_table(table, p)
        os.utime(p, (t_base + c, t_base + c))
        total += os.path.getsize(p)
        for t in texts[lo:hi]:
            h.update(t.encode())
            h.update(b"\x00")
    corpus = DocCorpus(in_dir=in_dir, n_docs=n_docs, n_chunks=n_chunks,
                       bytes_on_disk=total,
                       chunk_sizes=[min((c + 1) * per, n_docs) - c * per
                                    for c in range(n_chunks)], copies=copies, exact=exact,
                       digest=h.hexdigest())
    if n_docs >= 500:
        share = len(copies) / n_docs
        if abs(share - (EXACT_DUP_SHARE + NEAR_DUP_SHARE)) > 0.03 or not exact:
            raise RuntimeError(f"doc corpus: planted copy share {share:.3f}")
        for cid, src in copies.items():
            if src >= cid or texts[cid] == texts[src] and cid not in exact:
                raise RuntimeError("doc corpus: bad duplicate plant")
    return corpus
