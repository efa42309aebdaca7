"""Tests of the benchmark's own parts: seeded generators, the counting
producer, and the message-count pin.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zlib

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.producer import (CountingProducer, CountingProducerFactory,  # noqa: E402
                                Delivered, multiset_diff)


# -- generators: same seed, same bytes ---------------------------------------
def test_thrift_corpus_is_a_function_of_the_seed(tmp_path):
    a = gen.thrift_corpus(str(tmp_path / "a"), seed=3, n_messages=3000)
    b = gen.thrift_corpus(str(tmp_path / "b"), seed=3, n_messages=3000)
    c = gen.thrift_corpus(str(tmp_path / "c"), seed=4, n_messages=3000)
    assert a.digest == b.digest and a.ids == b.ids
    assert c.digest != a.digest
    assert sorted(os.listdir(tmp_path / "a")) == sorted(
        ["app.log"] + [f"app.log.{i}" for i in range(1, gen.N_FILES)])


def test_line_plan_and_doc_corpus_are_functions_of_the_seed(tmp_path):
    p1, p2 = gen.line_plan(5, 2000, 2.0), gen.line_plan(5, 2000, 2.0)
    assert p1.digest == p2.digest and p1.digest != gen.line_plan(6, 2000, 2.0).digest
    d1 = gen.doc_corpus(str(tmp_path / "d1"), 5, 600, 3)
    d2 = gen.doc_corpus(str(tmp_path / "d2"), 5, 600, 3)
    assert d1.digest == d2.digest and d1.copies == d2.copies
    assert d1.digest != gen.doc_corpus(str(tmp_path / "d3"), 6, 600, 3).digest
    assert sum(d1.chunk_sizes) == 600 and len(os.listdir(tmp_path / "d1")) == 3


def test_planted_structure(tmp_path):
    plan = gen.line_plan(1, 20_000, 1.0)
    debug = sum(not plan.kept(i) for i in range(plan.n_lines)) / plan.n_lines
    assert abs(debug - gen.DEBUG_SHARE) < 0.02
    docs = gen.doc_corpus(str(tmp_path / "docs"), 1, 1000, 2)
    assert docs.exact and len(docs.copies) > len(docs.exact)
    assert all(src < cid for cid, src in docs.copies.items())


def test_program_decoder_reads_the_generated_corpus(tmp_path):
    """The benchmark's encoder and the program's decoder agree on every
    message, including the checksum and the audit headers."""
    from singer_spark.framing import decode_frames

    corpus = gen.thrift_corpus(str(tmp_path / "t"), seed=9, n_messages=2500)
    ids, audited = [], 0
    for name in os.listdir(corpus.log_dir):
        with open(os.path.join(corpus.log_dir, name), "rb") as f:
            for key, msg, _ts, crc, audit, _off in decode_frames(f.read()):
                assert crc is None or crc == zlib.crc32(msg)
                ids.append(gen.identity(key, msg, zlib.crc32(msg)))
                audited += audit is not None
    assert multiset_diff(np.array(corpus.ids, np.uint64), np.array(ids, np.uint64)) == (0, 0)
    assert abs(audited / 2500 - gen.AUDIT_SHARE) < 0.03


# -- counting producer ---------------------------------------------------------
def test_counting_producer_records_identity_partition_and_flushes(tmp_path):
    out = str(tmp_path)
    p = CountingProducerFactory(out, 16)("bench:9092", {})
    msgs = [(b"k%d" % i, b"value-%d" % i) for i in range(50)]
    for k, v in msgs:
        p.send("t", value=v, key=k, partition=zlib.crc32(k) % 16)
    p.send("t", value=b"wrong", key=b"x", partition=(zlib.crc32(b"x") + 1) % 16)
    p.flush()
    p.close()
    d = Delivered(out)
    assert d.stat["sends"] == 51 and d.stat["flushes"] == 1
    assert d.stat["bad_partition"] == 1
    want = [gen.identity(k, v, zlib.crc32(v)) for k, v in msgs]
    lost, dup = multiset_diff(np.array(want, np.uint64), d.ids)
    assert (lost, dup) == (0, 1)
    assert len(d.sent_ns) == len(d.ids)


def test_counting_producer_parses_live_lines(tmp_path):
    plan = gen.line_plan(2, 2000, 0.05)
    p = CountingProducer(str(tmp_path), 16, live=True)
    for i in range(plan.n_lines):
        v = gen.expected_live_value(plan, i, 1000 + i)
        p.send("t", value=v, partition=zlib.crc32(v) % 16)
    p.close()
    d = Delivered(str(tmp_path))
    assert d.stat["bad_value"] == 0 and d.stat["bad_partition"] == 0
    assert d.live[:, 0].tolist() == list(range(plan.n_lines))
    assert d.live[:, 1].tolist() == [1000 + i for i in range(plan.n_lines)]


def test_multiset_diff_counts_lost_and_duplicated():
    e = np.array([1, 2, 2, 3], np.uint64)
    assert multiset_diff(e, np.array([1, 2, 3, 3, 9], np.uint64)) == (1, 2)


def test_run_share_scales_out_stolen_cpu_time():
    from perfbench.env import cpu_ticks, run_share

    assert run_share((100, 10), (180, 30)) == 0.8   # 80 busy, 20 stolen ticks
    assert run_share((100, 10), (180, 10)) == 1.0   # nothing stolen
    assert run_share((0, 0), (0, 0)) == 1.0         # no steal reported
    busy, stolen = cpu_ticks()
    assert busy >= 0 and stolen >= 0


# -- the count pin ---------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    from singer_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    s = get_spark("perfbench_tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_messages_are_counted_at_the_producer_not_from_run_cycle(spark, tmp_path):
    """run_cycle returns numInputRows, which for the binaryFile-backed thrift
    reader counts FILES: 16 here, for 4000 delivered messages.  The benchmark
    must take message counts from the producer."""
    from singer_spark.audit import AuditCollector
    from singer_spark.engine import PipelineManager

    from perfbench.backlog import NUM_PARTITIONS, log_config

    corpus = gen.thrift_corpus(str(tmp_path / "logs"), seed=11, n_messages=4000)
    out = str(tmp_path / "topic")
    os.makedirs(out)
    mgr = PipelineManager(spark, checkpoint_root=str(tmp_path / "ck"),
                          kafka_producer_factory=CountingProducerFactory(out, NUM_PARTITIONS))
    audit = AuditCollector()
    rows = mgr.run_cycle(log_config(corpus, str(tmp_path / "ck")), audit_sink=audit)
    d = Delivered(out)
    assert rows == corpus.n_files == gen.N_FILES == 16
    assert d.stat["sends"] == len(d.ids) == 4000 == audit.total("audit.backlog")
    assert multiset_diff(np.array(corpus.ids, np.uint64), d.ids) == (0, 0)
    assert d.stat["bad_partition"] == 0


def test_benchmark_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero and prints no result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "backlog_thrift_kafka", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    for line in p.stdout.splitlines():
        with pytest.raises(ValueError):
            json.loads(line)
