"""Config loader (O4), S3 key templating (W5), heartbeat (B6/O1),
audit schema (B5) unit tests."""

from __future__ import annotations

import datetime as dt
import json
import sys
import time

import pytest
from pyspark.sql import functions as F

from singer_spark.audit import AuditCollector, audit_row
from singer_spark.config import (
    LogConfig,
    load_log_config,
    load_singer_config,
    parse_properties,
)
from singer_spark.heartbeat import build_status
from singer_spark.sinks import render_key_template


def test_parse_properties_nesting_and_coercion():
    text = """
    # comment
    processor.batchSize=200
    reader.type=text
    reader.prependHostname=true
    writer.kafka.topic=mytopic
    """
    d = parse_properties(text)
    assert d["processor"]["batchSize"] == 200
    assert d["reader"]["prependHostname"] is True
    assert d["writer"]["kafka"]["topic"] == "mytopic"


def test_load_log_config_from_properties():
    cfg = load_log_config("mylog", """
    logDir=/var/log/app
    logStreamRegex=app.log*
    reader.type=thrift
    reader.maxMessageSize=1000000
    processor.batchSize=400
    writer.type=kafka
    writer.topic=app_events
    writer.partitioner=crc32
    """)
    assert isinstance(cfg, LogConfig)
    assert cfg.name == "mylog"
    assert cfg.log_dir == "/var/log/app"
    assert cfg.reader.type == "thrift"
    assert cfg.reader.max_message_size == 1_000_000
    assert cfg.processor.batch_size == 400
    assert cfg.writer.topic == "app_events"


def test_load_singer_config_dir(tmp_path):
    (tmp_path / "singer.properties").write_text(
        "singer.heartbeatEnabled=true\nsinger.heartbeatIntervalInSeconds=10\n")
    conf_d = tmp_path / "conf.d"
    conf_d.mkdir()
    (conf_d / "a.properties").write_text("logDir=/tmp/a\nwriter.type=noop\n")
    (conf_d / "b.properties").write_text("logDir=/tmp/b\nwriter.type=noop\n")
    cfg = load_singer_config(tmp_path / "singer.properties", conf_d)
    assert cfg.heartbeat_interval_secs == 10
    assert [lc.name for lc in cfg.logs] == ["a", "b"]


def test_render_key_template_tokens():
    now = dt.datetime(2024, 3, 5, 12, 0, 0, tzinfo=dt.timezone.utc)
    key = render_key_template(
        "logs/{{LOGNAME}}/{{HOST}}/%{pod}/{{TIMESTAMP}}-{{UUID}}.log",
        log_name="app", filename="pod-abc123.app.log",
        filename_regex=r"pod-(?P<pod>\w+)\.app\.log",
        hostname="h1", now=now, uuid_hex="deadbeef", env={},
    )
    assert key == f"logs/app/h1/abc123/{int(now.timestamp())}-deadbeef.log"


def test_render_key_template_env_fallback():
    key = render_key_template("%{MY_ZONE}/x", env={"MY_ZONE": "us-east-1a"})
    assert key == "us-east-1a/x"
    assert render_key_template("%{MISSING}/x", env={}) == "/x"


def test_audit_collector_counts():
    audit = AuditCollector()
    audit(audit_row("topicA", 10, 0, hostname="h"))
    audit(audit_row("topicA", 5, 1, hostname="h"))
    audit(audit_row("topicB", 7, 0, hostname="h"))
    audit(audit_row("topicB", 3, 1, hostname="h"))
    assert audit.total("topicA") == 15
    assert audit.total() == 25


def test_local_sizing_defaults_to_host_cores(monkeypatch):
    import os

    from singer_spark.session import local_sizing

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cores = os.cpu_count()
    assert local_sizing() == (str(cores), max(2 * cores, 8))
    assert local_sizing(shuffle_partitions=5) == (str(cores), 5)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert local_sizing() == ("6", 12)


def _zip_modules(path, *names):
    import zipfile

    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _patched_zip_on_path(monkeypatch, tmp_path):
    """An archive on sys.path with one imported module, under the worker
    daemon's `zipimporter.invalidate_caches`."""
    import importlib
    import sys
    import zipimport

    from singer_spark import worker_daemon

    archive = str(tmp_path / "mods.zip")
    _zip_modules(archive, "zd_mod_a")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._invalidate_if_changed)
    for name in ("zd_mod_a", "zd_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zd_mod_a").NAME == "zd_mod_a"
    return archive


def test_worker_daemon_rereads_a_changed_archive(monkeypatch, tmp_path):
    import importlib

    archive = _patched_zip_on_path(monkeypatch, tmp_path)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zd_mod_b")
    _zip_modules(archive, "zd_mod_a", "zd_mod_b")  # rewritten, one more module
    importlib.invalidate_caches()
    assert importlib.import_module("zd_mod_b").NAME == "zd_mod_b"


def test_worker_daemon_skips_unchanged_archives(monkeypatch, tmp_path):
    import importlib
    import zipimport

    _patched_zip_on_path(monkeypatch, tmp_path)
    importlib.invalidate_caches()  # first call records the signatures
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or real(archive))
    importlib.invalidate_caches()
    assert reads == []


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="Python 3.13+ runs plain pyspark.daemon")
def test_python_tasks_run_under_the_worker_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__name__

    names = spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe)
    assert names.collect() == ["_invalidate_if_changed"] * 2


def test_session_runs_python_tasks_outside_the_checkout(tmp_path):
    """Executors find `singer_spark` (the worker daemon) without the
    driver's cwd or a PYTHONPATH."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = (
        "import sys; sys.path.insert(0, {repo!r});"
        "from singer_spark.session import get_spark;"
        "sc = get_spark('outside_checkout').sparkContext;"
        "print('SUM', sc.parallelize(range(4), 2).map(lambda x: x + 1).sum())"
    ).format(repo=repo)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", driver], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "SUM 10" in out.stdout, out.stderr[-3000:]


def test_write_batch_sized_rolls_over_on_bytes(spark, tmp_path):
    """maxFileSizeMB fidelity: rollover derives from payload BYTES — 100
    rows × ~1 KiB with a ~10 KiB cap must split into many files, while 100
    short rows under the same cap, or the same rows under a generous cap,
    stay one file.  The first batch is sized by an estimate job, the
    second from the bytes/row the first write observed."""
    import glob

    from singer_spark.sinks import file_deliver

    def files(width: int, cap_mb: float) -> list[int]:
        df = spark.range(100).select(
            F.rpad(F.col("id").cast("string"), width, "x").alias("value")).coalesce(1)
        out = str(tmp_path / f"w{width}_cap{cap_mb}")
        deliver = file_deliver(out, "parquet", cap_mb, {})
        assert [deliver(df, b) for b in (0, 1)] == [100, 100]
        return [len(glob.glob(f"{out}/batch={b}/part-*")) for b in (0, 1)]

    small = files(1024, 0.01)
    assert min(small) >= 5
    assert files(10, 0.01) == [1, 1]
    assert files(1024, 100) == [1, 1]


def test_heartbeat_status_shape(spark):
    status = build_status(spark, started_at=time.time() - 5)
    # SingerStatus parity fields (common/SingerStatus.java:38-62,108-149)
    for field in ("hostName", "jvmUptime", "numLogStreams", "numStuckLogStreams",
                  "kafkaWrites", "timestamp", "version",
                  "latencyPercentilesMs", "queryLatencyMs"):
        assert field in status
    assert status["jvmUptime"] >= 5000
    assert set(status["latencyPercentilesMs"]) == {"p50", "p90", "p99", "max"}
    json.dumps(status)  # serializable, like the reference's gson JSON


def test_stuck_threshold_adapts_to_trigger_cadence():
    """A healthy query on a slow trigger (progress every 600 s) must not
    count as stuck under the default stuck_seconds=300: the threshold is
    max(stuck_seconds, 2x the max observed inter-progress gap)."""
    from singer_spark.heartbeat import stuck_threshold

    t0 = 1_700_000_000.0
    slow = [t0, t0 + 600, t0 + 1200]          # 10-minute trigger
    assert stuck_threshold(300.0, slow) == 1200.0
    fast = [t0, t0 + 5, t0 + 10]              # 5-second trigger
    assert stuck_threshold(300.0, fast) == 300.0  # floor still applies
    # robust cadence: ONE historical 2h stall in recentProgress must not
    # inflate the threshold and mask the next real wedge (median, not max)
    stalled = [t0, t0 + 10, t0 + 20, t0 + 7220, t0 + 7230, t0 + 7240]
    assert stuck_threshold(300.0, stalled) == 300.0
    # <2 progress events: no cadence evidence, flat floor
    assert stuck_threshold(300.0, [t0]) == 300.0
    assert stuck_threshold(300.0, []) == 300.0


def test_heartbeat_latency_percentiles_from_progress(spark, tmp_path):
    """A live healthy query populates per-query latency percentiles from
    recentProgress and is NOT counted stuck."""
    import os

    src = str(tmp_path / "hb_src")
    os.makedirs(src)
    spark.range(10).selectExpr("cast(id as string) AS value") \
         .coalesce(1).write.mode("overwrite").parquet(src)
    q = (spark.readStream.schema("value string").parquet(src)
         .writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "hb_ckpt"))
         .queryName("hb_healthy")
         # no availableNow: that query may end before build_status lists
         # the active queries, and this one must still be running
         .start())
    try:
        q.processAllAvailable()
        status = build_status(spark, started_at=time.time(),
                              stuck_seconds=3600)
        assert status["numLogStreams"] >= 1
        assert status["numStuckLogStreams"] == 0
        lat = status["queryLatencyMs"].get("hb_healthy")
        assert lat and lat["p50"] >= 0 and lat["max"] >= lat["p50"]
        assert status["latencyPercentilesMs"]["max"] >= lat["p50"]
        assert "hb_healthy" in status["kafkaWrites"]
    finally:
        q.stop()


def test_heartbeat_flags_frozen_sink_as_stuck(spark, tmp_path):
    """Stuck-stream e2e (HeartbeatGenerator parity): a sink whose first
    batch never completes produces no progress; successive heartbeats
    sharing `first_seen` flag it once stuck_seconds elapse."""
    import os
    import threading

    src = str(tmp_path / "frozen_src")
    os.makedirs(src)
    spark.range(5).selectExpr("cast(id as string) AS value") \
         .coalesce(1).write.mode("overwrite").parquet(src)
    release = threading.Event()

    def frozen(batch_df, epoch_id):
        release.wait(60)  # block the first batch

    q = (spark.readStream.schema("value string").parquet(src)
         .writeStream.foreachBatch(frozen)
         .option("checkpointLocation", str(tmp_path / "frozen_ckpt"))
         .queryName("hb_frozen").start())
    try:
        first_seen: dict = {}
        s1 = build_status(spark, time.time(), stuck_seconds=1.5,
                          first_seen=first_seen)
        assert s1["numStuckLogStreams"] == 0  # just seen, not yet stuck
        time.sleep(2.5)
        s2 = build_status(spark, time.time(), stuck_seconds=1.5,
                          first_seen=first_seen)
        assert s2["numStuckLogStreams"] >= 1
    finally:
        release.set()
        q.stop()


def test_write_batch_idempotent_replay_overwrites(spark, tmp_path):
    """A replayed batch id must REPLACE its previous output, not append a
    duplicate — the effectively-once upgrade over plain append."""
    from singer_spark.sinks import write_batch_idempotent

    out = str(tmp_path / "idem")
    df = spark.range(50).select(F.col("id").cast("string").alias("value"))
    write_batch_idempotent(df, out, batch_id=0)
    write_batch_idempotent(df, out, batch_id=0)   # crash-replay of batch 0
    write_batch_idempotent(df, out, batch_id=1)
    got = spark.read.parquet(out)
    assert got.count() == 100                     # 2 batches, no triple-copy
    assert set(r.batch for r in got.select("batch").distinct().collect()) == {0, 1}


def test_heartbeat_surfaces_live_tail_duplicates(spark, tmp_path):
    """E2E through the r8 counters-file channel: a LIVE tail query
    observes a copytruncate rotation (the reader runs in its own Python
    worker — this is the boundary the channel exists to cross), and
    build_status reports the stream under duplicatesSuspected with
    exactly one reopen for its single rewrite, also a few triggers later
    (one count per planned batch)."""
    import os

    from singer_spark.streaming.tail import tail_stream

    d = str(tmp_path / "hb_logs")
    os.makedirs(d)
    log = f"{d}/app.log"
    with open(log, "w") as f:
        f.write("one\ntwo\nthree\n")
    q = (tail_stream(spark, d)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "hb_out"))
         .option("checkpointLocation", str(tmp_path / "hb_ckpt"))
         .trigger(processingTime="300 milliseconds").start())
    try:
        deadline = time.time() + 40
        # the reader must snapshot the ORIGINAL content first, or the
        # rewrite is just a first sight (no prior state, no suspicion)
        while time.time() < deadline - 30 and not q.lastProgress:
            time.sleep(0.3)
        time.sleep(1.0)
        # copytruncate: rewrite with different content -> suspected window
        with open(log, "w") as f:
            f.write("NEW-1\nNEW-2\nNEW-3\nNEW-4\n")
        stream_key = f"{d}::*"
        found = None
        while time.time() < deadline:
            status = build_status(spark, started_at=time.time() - 1)
            got = status["duplicatesSuspected"].get(stream_key)
            if got and got.get("reopens", 0) > 0:
                found = got
                break
            time.sleep(0.5)
        if found is not None:
            # more triggers (and the rewritten file's batch) go by: the
            # one rewrite must not be counted again
            with open(log, "a") as f:
                f.write("NEW-5\n")
            time.sleep(1.5)
            found = build_status(spark, started_at=time.time() - 1)[
                "duplicatesSuspected"].get(stream_key)
    finally:
        q.stop()
    assert found is not None, "heartbeat never surfaced the reopen"
    assert found["reopens"] == 1
    assert found["bytes"] >= len("one\ntwo\nthree\n")
