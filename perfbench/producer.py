"""Counting Kafka producer owned by the benchmark.

It speaks the producer protocol ``kafka_write_batch`` drives (``send`` /
``flush`` / ``close``, the same one the program's Kafka sink tests fake) and
stands in for a broker.  It runs inside Spark's Python workers, so every
flush appends its records to files in a directory the benchmark reads back
after the run:

- ``ids-*.u64``   one 64-bit message identity per delivered message
  (:func:`perfbench.gen.identity` of key, value and crc32(value)),
- ``sent-*.i64``  the wall-clock ns at which each of those was sent,
- ``live-*.i64``  (seq, scheduled ns) pairs for live-tail lines,
- ``stat-*.json`` per-producer counters: sends, bytes, flushes, partition
  mismatches, send failures and the seconds spent inside ``send``.

Messages are counted here, at the producer — never from ``run_cycle``'s
return value or ``numInputRows``, which count files for binaryFile-backed
readers.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import uuid
import zlib

import numpy as np

from perfbench.gen import identity

_SEQ = re.compile(rb" seq=(\d+) sched=(\d+) ")


class _Future:
    __slots__ = ()
    exception = None

    @staticmethod
    def failed() -> bool:
        return False


_OK = _Future()


class CountingProducer:
    def __init__(self, out_dir: str, num_partitions: int, live: bool) -> None:
        self.out_dir = out_dir
        self.n = num_partitions
        self.live = live
        self.ids: list[int] = []
        self.sent: list[int] = []
        self.live_rows: list[tuple[int, int]] = []
        self.stat = {"sends": 0, "bytes": 0, "flushes": 0, "bad_partition": 0,
                     "bad_value": 0, "send_s": 0.0}

    def send(self, topic, value=None, key=None, headers=None, partition=None):
        t0 = time.perf_counter()
        sent_ns = time.time_ns()
        crc = zlib.crc32(value) & 0xFFFFFFFF
        st = self.stat
        st["sends"] += 1
        st["bytes"] += len(value)
        # crc32 partitioner contract: partition == crc32(key) % n, the
        # payload standing in for a missing key
        want = (zlib.crc32(key) & 0xFFFFFFFF if key is not None else crc) % self.n
        if partition != want:
            st["bad_partition"] += 1
        self.ids.append(identity(key, value, crc))
        self.sent.append(sent_ns)
        if self.live:
            m = _SEQ.search(value)
            if m is None:
                st["bad_value"] += 1
                self.live_rows.append((-1, 0))
            else:
                self.live_rows.append((int(m.group(1)), int(m.group(2))))
        st["send_s"] += time.perf_counter() - t0
        return _OK

    def flush(self) -> None:
        self.stat["flushes"] += 1
        tag = uuid.uuid4().hex
        if self.ids:
            np.asarray(self.ids, dtype=np.uint64).tofile(
                os.path.join(self.out_dir, f"ids-{tag}.u64"))
            np.asarray(self.sent, dtype=np.int64).tofile(
                os.path.join(self.out_dir, f"sent-{tag}.i64"))
        if self.live_rows:
            np.asarray(self.live_rows, dtype=np.int64).tofile(
                os.path.join(self.out_dir, f"live-{tag}.i64"))
        with open(os.path.join(self.out_dir, f"stat-{tag}.json"), "w") as f:
            json.dump(self.stat, f)
        self.ids, self.sent, self.live_rows = [], [], []
        self.stat = {k: 0 for k in self.stat}

    def close(self) -> None:
        if self.ids or self.live_rows:
            self.flush()


class CountingProducerFactory:
    """``producer_factory(bootstrap_servers, configs)`` for the engine."""

    def __init__(self, out_dir: str, num_partitions: int, live: bool = False) -> None:
        self.out_dir = out_dir
        self.num_partitions = num_partitions
        self.live = live

    def __call__(self, bootstrap_servers: str, configs: dict) -> CountingProducer:
        return CountingProducer(self.out_dir, self.num_partitions, self.live)


class Delivered:
    """Everything the producers recorded in one output directory."""

    def __init__(self, out_dir: str) -> None:
        tags = sorted(os.path.basename(p)[4:-4]
                      for p in glob.glob(os.path.join(out_dir, "ids-*.u64")))

        def load(name: str, dtype, shape=(-1,)) -> np.ndarray:
            # files of one flush share a tag, so the arrays stay aligned
            paths = [os.path.join(out_dir, name.replace("*", t)) for t in tags]
            parts = [np.fromfile(p, dtype=dtype).reshape(shape)
                     for p in paths if os.path.exists(p)]
            return np.concatenate(parts) if parts else np.zeros((0,) + shape[1:], dtype)

        self.ids = load("ids-*.u64", np.uint64)
        self.sent_ns = load("sent-*.i64", np.int64)
        # (seq, scheduled ns) per message, aligned with ids / sent_ns
        self.live = load("live-*.i64", np.int64, (-1, 2))
        self.stat = {"sends": 0, "bytes": 0, "flushes": 0, "bad_partition": 0,
                     "bad_value": 0, "send_s": 0.0, "producers": 0}
        for p in glob.glob(os.path.join(out_dir, "stat-*.json")):
            with open(p) as f:
                s = json.load(f)
            for k, v in s.items():
                self.stat[k] += v
            self.stat["producers"] += 1


def multiset_diff(expected: np.ndarray, got: np.ndarray) -> tuple[int, int]:
    """(lost, duplicated) of the delivered identity multiset against the
    expected one: lost = expected copies never delivered, duplicated =
    deliveries beyond the expected count (including unexpected ids)."""
    e_ids, e_cnt = np.unique(expected, return_counts=True)
    g_ids, g_cnt = np.unique(got, return_counts=True)
    _, ei, gi = np.intersect1d(e_ids, g_ids, assume_unique=True,
                                    return_indices=True)
    lost = int(e_cnt.sum() - np.minimum(e_cnt[ei], g_cnt[gi]).sum())
    dup = int(g_cnt.sum() - np.minimum(e_cnt[ei], g_cnt[gi]).sum())
    return lost, dup
