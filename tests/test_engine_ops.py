"""Operational-parity tests: adaptive poll backoff (B3), log retention (O5),
live decider reload (O2), admin drain endpoint (O3), pod metadata (D8) —
the reference behaviors from DefaultLogStreamProcessor.java:365-402/252-255,
config/Decider.java:50-148, admin/AdminServer.java:43-145,
kubernetes/KubeService.java:232-289."""

from __future__ import annotations

import json
import os
import time
import urllib.request

import pytest

from singer_spark.admin import AdminServer
from singer_spark.config import LogConfig, ProcessorConfig, WriterConfig
from singer_spark.engine import Decider, PipelineManager, enforce_retention


def _write_lines(path: str, n: int, prefix: str = "m") -> None:
    with open(path, "w") as f:
        f.writelines(f"{prefix} {i}\n" for i in range(n))


def _cfg(tmp_path, name: str, sink: str = "file", **proc_kwargs) -> LogConfig:
    log_dir = str(tmp_path / f"{name}_in")
    os.makedirs(log_dir, exist_ok=True)
    # file sink: checkpoint-recoverable across run_cycle invocations (the
    # memory sink can't resume, so it only suits single-shot tests)
    writer = (WriterConfig(type="file", path=str(tmp_path / f"{name}_out"),
                           format="parquet", min_upload_seconds=0)
              if sink == "file" else WriterConfig(type=sink))
    return LogConfig(
        name=name, log_dir=log_dir, log_stream_regex="*.log",
        writer=writer,
        processor=ProcessorConfig(processing_interval_secs=1,
                                  max_processing_interval_secs=8, **proc_kwargs),
        checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
    )


# ---------------------------------------------------------------------------
# B3 — adaptive poll backoff
# ---------------------------------------------------------------------------
def test_adaptive_backoff_doubles_on_empty_and_resets_on_data(spark, tmp_path):
    cfg = _cfg(tmp_path, "backoff")
    _write_lines(f"{cfg.log_dir}/a.log", 10)
    sleeps: list[int] = []
    mgr = PipelineManager(spark)

    # cycle 1: data → interval stays at base; cycles 2-4: empty → 2,4,8 (cap)
    hist = mgr.run_adaptive(cfg, cycles=4, sleep_fn=sleeps.append)
    assert hist[0]["rows"] == 10
    assert [h["interval_secs"] for h in hist] == [1, 2, 4, 8]
    assert sleeps == [1, 2, 4, 8]

    # new data arrives → next cycle processes it and RESETS the interval
    _write_lines(f"{cfg.log_dir}/b.log", 5)
    hist2 = mgr.run_adaptive(cfg, cycles=2, sleep_fn=sleeps.append)
    assert hist2[0]["rows"] == 5 and hist2[0]["interval_secs"] == 1
    assert hist2[1]["rows"] == 0 and hist2[1]["interval_secs"] == 2


def test_backoff_caps_at_max_interval(spark, tmp_path):
    cfg = _cfg(tmp_path, "cap", )
    mgr = PipelineManager(spark)
    hist = mgr.run_adaptive(cfg, cycles=6, sleep_fn=lambda s: None)
    assert [h["interval_secs"] for h in hist] == [2, 4, 8, 8, 8, 8]


# ---------------------------------------------------------------------------
# O5 — log retention
# ---------------------------------------------------------------------------
def test_enforce_retention_deletes_only_old_files(tmp_path):
    d = str(tmp_path / "ret")
    os.makedirs(d)
    _write_lines(f"{d}/old.log", 3)
    _write_lines(f"{d}/new.log", 3)
    past = time.time() - 3600
    os.utime(f"{d}/old.log", (past, past))
    removed = enforce_retention(d, retention_seconds=600)
    assert [os.path.basename(p) for p in removed] == ["old.log"]
    assert sorted(os.listdir(d)) == ["new.log"]
    # disabled (< 0, the config default) is a no-op
    assert enforce_retention(d, retention_seconds=-1) == []
    assert os.listdir(d) == ["new.log"]


def test_run_adaptive_applies_retention_after_drain(spark, tmp_path):
    cfg = _cfg(tmp_path, "ret_cycle", log_retention_seconds=600)
    _write_lines(f"{cfg.log_dir}/old.log", 4)
    past = time.time() - 3600
    os.utime(f"{cfg.log_dir}/old.log", (past, past))
    mgr = PipelineManager(spark)
    # an old file a DIFFERENT glob owns (say a second LogConfig's *.txt
    # stream sharing the dir) must survive: this query never processed it,
    # so deleting it would be silent data loss
    _write_lines(f"{cfg.log_dir}/other.txt", 2)
    os.utime(f"{cfg.log_dir}/other.txt", (past, past))
    hist = mgr.run_adaptive(cfg, cycles=1, sleep_fn=lambda s: None)
    # the file was processed THEN deleted — drain before delete, no loss
    assert hist[0]["rows"] == 4
    assert [os.path.basename(p) for p in hist[0]["deleted"]] == ["old.log"]
    assert os.listdir(cfg.log_dir) == ["other.txt"]


def test_run_adaptive_retention_deletes_pod_logs(spark, tmp_path):
    """With reader.pod_metadata the source reads <pods_root>/*/<glob>, and
    retention deletes under the same glob."""
    from singer_spark.config import ReaderConfig

    cfg = _cfg(tmp_path, "pod_ret", log_retention_seconds=600)
    cfg.reader = ReaderConfig(pod_metadata=True)
    pod_log = os.path.join(cfg.log_dir, "ns_pod_uid", "app.log")
    os.makedirs(os.path.dirname(pod_log))
    _write_lines(pod_log, 3)
    os.utime(pod_log, (0, 0))
    hist = PipelineManager(spark).run_adaptive(cfg, cycles=1, sleep_fn=lambda s: None)
    assert hist[0]["rows"] == 3
    assert hist[0]["deleted"] == [pod_log]
    assert not os.path.exists(pod_log)


def test_made_up_checkpoint_root_is_removed_at_exit(tmp_path):
    """A manager built without checkpoint_root makes a temp root that no
    other process can resume from; it is gone once the interpreter exits."""
    import subprocess
    import sys

    code = ("import os; from singer_spark.engine import PipelineManager; "
            "root = PipelineManager(None).checkpoint_root; "
            "print(root, os.path.isdir(root))")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, check=True,
                         capture_output=True, text=True,
                         env={**os.environ, "TMPDIR": str(tmp_path)}).stdout
    root, existed = out.split()
    assert root.startswith(str(tmp_path)) and existed == "True"
    assert not os.path.exists(root)


# ---------------------------------------------------------------------------
# O2 — decider live reload
# ---------------------------------------------------------------------------
def test_decider_reloads_on_mtime_change(tmp_path):
    path = str(tmp_path / "decider.json")
    with open(path, "w") as f:
        json.dump({"singer_x_decider": 0}, f)
    d = Decider(path)
    assert d.value("singer_x_decider") == 0
    assert not d.is_enabled("singer_x_decider", "host:x")
    time.sleep(0.01)
    with open(path, "w") as f:
        json.dump({"singer_x_decider": 100}, f)
    os.utime(path)  # ensure mtime moves even on coarse filesystems
    assert d.value("singer_x_decider") == 100
    assert d.is_enabled("singer_x_decider", "host:x")
    # unknown keys fall back to the default; missing file fails open
    assert d.value("other") == 100
    assert Decider(None).is_enabled("anything", "basis")


def test_run_adaptive_respects_live_decider(spark, tmp_path):
    path = str(tmp_path / "decider.json")
    with open(path, "w") as f:
        json.dump({"singer_gated2_decider": 0}, f)
    cfg = _cfg(tmp_path, "gated2")
    _write_lines(f"{cfg.log_dir}/a.log", 6)
    mgr = PipelineManager(spark, decider=Decider(path))
    hist = mgr.run_adaptive(cfg, cycles=1, sleep_fn=lambda s: None)
    assert hist[0] == {"rows": 0, "interval_secs": 2, "deleted": [],
                      "enabled": False, "failed": False}  # gated off
    time.sleep(0.01)
    with open(path, "w") as f:
        json.dump({"singer_gated2_decider": 100}, f)
    os.utime(path)
    hist2 = mgr.run_adaptive(cfg, cycles=1, sleep_fn=lambda s: None)
    assert hist2[0]["enabled"] and hist2[0]["rows"] == 6  # flipped on live


# ---------------------------------------------------------------------------
# processor.maxEventsPerKey — fleet-wide hot-key cap (conf.d knob)
# ---------------------------------------------------------------------------
def test_max_events_per_key_confd_roundtrip():
    from singer_spark.config import load_log_config

    cfg = load_log_config("hotlog", """
    logDir=/var/log/app
    writer.type=file
    processor.maxEventsPerKey=5
    """)
    assert cfg.processor.max_events_per_key == 5
    # default off — the no-cap plan stays byte-identical
    assert load_log_config("x", "logDir=/tmp\n").processor.max_events_per_key is None


def test_max_events_per_key_caps_hot_key_e2e(spark, tmp_path):
    """A runaway producer (one payload repeated 10x) delivers at most
    maxEventsPerKey rows per trigger; distinct payloads pass untouched.
    Text logs have no key column, so the payload is the fallback key."""
    cfg = _cfg(tmp_path, "hotkey", max_events_per_key=3)
    with open(f"{cfg.log_dir}/a.log", "w") as f:
        f.write("hot-line\n" * 10)
        f.write("cold-one\ncold-two\n")
    mgr = PipelineManager(spark)
    mgr.run_cycle(cfg)
    vals = [r.value for r in
            spark.read.parquet(cfg.writer.path).collect()]
    assert vals.count("hot-line") == 3
    assert sorted(v for v in vals if v != "hot-line") == ["cold-one", "cold-two"]


def test_max_events_per_key_rejected_for_hookless_sinks(spark, tmp_path):
    """Sinks without a foreachBatch hook must refuse the cap and the audit
    at config time — a guard that silently doesn't guard is worse than an
    error."""
    from singer_spark.audit import AuditCollector

    cfg = _cfg(tmp_path, "hotmem", sink="memory", max_events_per_key=3)
    _write_lines(f"{cfg.log_dir}/a.log", 2)
    mgr = PipelineManager(spark)
    with pytest.raises(ValueError, match="maxEventsPerKey"):
        mgr.start_log(cfg)
    # the config alone refuses: the CLI passes no audit sink
    for i, (sink, audit_sink) in enumerate([("memory", AuditCollector()),
                                            ("noop", AuditCollector()),
                                            ("noop", None)]):
        cfg = _cfg(tmp_path, f"audited_{sink}{i}", sink=sink)
        cfg.writer.audit_topic = f"audit.{sink}"
        _write_lines(f"{cfg.log_dir}/a.log", 2)
        with pytest.raises(ValueError, match="auditTopic"):
            mgr.start_log(cfg, audit_sink=audit_sink)
    assert not mgr.queries


# ---------------------------------------------------------------------------
# O3 — admin drain endpoint
# ---------------------------------------------------------------------------
def test_admin_endpoint_status_and_drain(spark, tmp_path):
    cfg = _cfg(tmp_path, "admin_log", sink="memory")
    _write_lines(f"{cfg.log_dir}/a.log", 12)
    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg)
    server = AdminServer(mgr).start()
    base = f"http://127.0.0.1:{server.port}"
    try:
        status = json.load(urllib.request.urlopen(f"{base}/status"))
        assert status == {"queries": ["admin_log"], "draining": False}
        # /metrics: the heartbeat's SingerStatus dict on demand
        metrics = json.load(urllib.request.urlopen(f"{base}/metrics"))
        assert metrics["numLogStreams"] >= 1
        assert "duplicatesSuspected" in metrics and "kafkaWrites" in metrics
        # drain over HTTP: processes everything available, then stops
        resp = json.load(urllib.request.urlopen(
            urllib.request.Request(f"{base}/drain", method="POST")))
        assert resp["ok"]
        assert not q.isActive
        assert spark.sql("select count(*) n from admin_log").first().n == 12
    finally:
        server.stop()
        mgr.stop_all()


def test_admin_endpoint_over_unix_socket(spark, tmp_path):
    """Same drain/status protocol over an AF_UNIX socket — the
    reference's singer.admin.socket transport (AdminServer.java:43-145)."""
    import http.client
    import socket as socket_mod

    class UDSConnection(http.client.HTTPConnection):
        def __init__(self, path):
            super().__init__("localhost")
            self._path = path

        def connect(self):
            s = socket_mod.socket(socket_mod.AF_UNIX, socket_mod.SOCK_STREAM)
            s.connect(self._path)
            self.sock = s

    def request(path, method="GET", sock_path=None):
        conn = UDSConnection(sock_path)
        try:
            conn.request(method, path)
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    cfg = _cfg(tmp_path, "uds_log", sink="memory")
    _write_lines(f"{cfg.log_dir}/a.log", 7)
    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg)
    sock = str(tmp_path / "admin.sock")
    server = AdminServer(mgr, socket_path=sock).start()
    try:
        assert server.port is None and os.path.exists(sock)
        code, status = request("/status", sock_path=sock)
        assert code == 200
        assert status == {"queries": ["uds_log"], "draining": False}
        code, resp = request("/drain", method="POST", sock_path=sock)
        assert code == 200 and resp["ok"]
        assert not q.isActive
        assert spark.sql("select count(*) n from uds_log").first().n == 7
        code, resp = request("/stop", method="POST", sock_path=sock)
        assert code == 200 and resp["ok"]
    finally:
        server.stop()
        mgr.stop_all()
    assert not os.path.exists(sock)  # socket file cleaned up on stop


def test_admin_unix_socket_auth_and_perms(tmp_path):
    """AF_UNIX hardening (ADVICE r6): the socket file is owner-only
    (0600), an allowed_uids set is enforced via SO_PEERCRED (reference
    AdminServer allowedUids), and server_bind must not run HTTPServer's
    host/port unpacking on the path string (which getfqdn()'d a single
    character)."""
    import http.client
    import socket as socket_mod
    import stat as stat_mod

    class FakeMgr:
        queries = ("q",)

        def is_draining(self):
            return False

        def drain(self):
            pass

        def stop_all(self):
            pass

    def status_over(sock_path):
        class UDSConnection(http.client.HTTPConnection):
            def __init__(self, path):
                super().__init__("localhost")
                self._path = path

            def connect(self):
                s = socket_mod.socket(socket_mod.AF_UNIX, socket_mod.SOCK_STREAM)
                s.connect(self._path)
                self.sock = s

        conn = UDSConnection(sock_path)
        try:
            conn.request("GET", "/status")
            return conn.getresponse().status
        finally:
            conn.close()

    # own uid allowed → served; socket file must be 0600
    sock = str(tmp_path / "a.sock")
    server = AdminServer(FakeMgr(), socket_path=sock,
                         allowed_uids={os.getuid()}).start()
    try:
        assert stat_mod.S_IMODE(os.stat(sock).st_mode) == 0o600
        assert status_over(sock) == 200
    finally:
        server.stop()

    # own uid NOT in allowed_uids → connection dropped before any bytes
    sock2 = str(tmp_path / "b.sock")
    server2 = AdminServer(FakeMgr(), socket_path=sock2,
                          allowed_uids={os.getuid() + 12345}).start()
    try:
        with pytest.raises((http.client.BadStatusLine, ConnectionResetError,
                            http.client.RemoteDisconnected, BrokenPipeError)):
            status_over(sock2)
        # the server survives the rejected peer and still serves nobody
        assert os.path.exists(sock2)
    finally:
        server2.stop()


# ---------------------------------------------------------------------------
# O8 — shadow mode: duplicate delivery to a shadow destination
# ---------------------------------------------------------------------------
def test_shadow_mode_duplicates_delivery(spark, tmp_path):
    cfg = _cfg(tmp_path, "shadowed")
    cfg.writer.shadow_path = str(tmp_path / "shadow_out")
    _write_lines(f"{cfg.log_dir}/a.log", 9)
    mgr = PipelineManager(spark)
    q = mgr.start_log(cfg)
    assert sorted(mgr.queries) == ["shadowed", "shadowed_shadow"]
    for query in mgr.queries.values():
        query.processAllAvailable()
    mgr.stop_all()
    primary = spark.read.parquet(cfg.writer.path)
    shadow = spark.read.parquet(str(tmp_path / "shadow_out"))
    assert primary.count() == 9 and shadow.count() == 9
    assert ({r.value for r in primary.collect()}
            == {r.value for r in shadow.collect()})


def test_run_cycle_drains_the_shadow_too(spark, tmp_path):
    cfg = _cfg(tmp_path, "cycled_shadow")
    cfg.writer.shadow_path = str(tmp_path / "shadow_copy")
    _write_lines(f"{cfg.log_dir}/a.log", 7)
    assert PipelineManager(spark).run_cycle(cfg) == 7
    for path in (cfg.writer.path, cfg.writer.shadow_path):
        assert sorted(r.value for r in spark.read.parquet(path).collect()) \
            == [f"m {i}" for i in range(7)]


def test_shadow_resumes_from_the_logs_checkpoint_after_restart(spark,
                                                               tmp_path):
    """The shadow checkpoints next to the log's own checkpointDir, not
    under the manager's (temporary) root: a restarted agent's shadow
    delivers only what is new."""
    cfg = _cfg(tmp_path, "restarted_shadow")
    cfg.writer.shadow_path = str(tmp_path / "shadow_copy")

    def run_agent():
        mgr = PipelineManager(spark)  # a fresh temporary checkpoint root
        mgr.start_log(cfg)
        for query in mgr.queries.values():
            query.processAllAvailable()
        mgr.stop_all()

    _write_lines(f"{cfg.log_dir}/a.log", 9)
    run_agent()
    _write_lines(f"{cfg.log_dir}/b.log", 4, prefix="n")
    run_agent()
    for path in (cfg.writer.path, cfg.writer.shadow_path):
        assert spark.read.parquet(path).count() == 13


# ---------------------------------------------------------------------------
# O7 — metrics listener (OpenTSDB line conversion)
# ---------------------------------------------------------------------------
def test_metrics_listener_emits_opentsdb_lines(spark, tmp_path):
    from singer_spark.metrics import MetricsListener, progress_to_lines

    # pure conversion check (no listener-bus timing dependency)
    lines = progress_to_lines({
        "name": "q1", "timestamp": "2026-01-02T03:04:05.000Z",
        "numInputRows": 42, "durationMs": {"triggerExecution": 120},
        "processedRowsPerSecond": 350.0,
    }, hostname="host-01")
    assert "put singer_spark.processor.num_input_rows 1767323045 42 query=q1 host=host-01" in lines
    assert any(l.startswith("put singer_spark.processor.trigger_execution_ms") for l in lines)

    # end-to-end through the listener bus
    emitted: list[str] = []
    listener = MetricsListener(emit=emitted.append)
    spark.streams.addListener(listener)
    try:
        cfg = _cfg(tmp_path, "metered", sink="memory")
        _write_lines(f"{cfg.log_dir}/a.log", 7)
        mgr = PipelineManager(spark)
        q = mgr.start_log(cfg)
        q.processAllAvailable()
        mgr.stop_all()
        deadline = time.time() + 15
        while time.time() < deadline:
            if any("query=metered" in l and "num_input_rows" in l and " 7 " in l
                   for l in listener.snapshot()):
                break
            time.sleep(0.2)
        assert any("query=metered" in l and "num_input_rows" in l and " 7 " in l
                   for l in listener.snapshot())
        assert emitted  # the push hook fired
    finally:
        spark.streams.removeListener(listener)


def test_metrics_listener_retains_a_bounded_window():
    """A long-running agent's listener keeps only its newest lines, while
    every line still reaches `emit`."""
    from types import SimpleNamespace

    from singer_spark.metrics import _KEEP_LINES, MetricsListener

    emitted = []
    listener = MetricsListener(emit=emitted.append, hostname="h")
    for i in range(10_000):
        listener.onQueryProgress(SimpleNamespace(progress={
            "name": "q", "timestamp": "2026-01-02T03:04:05.000Z",
            "numInputRows": i, "durationMs": {"triggerExecution": 1},
            "processedRowsPerSecond": 1.0}))
    assert len(emitted) == 30_000
    kept = listener.snapshot()
    assert len(kept) <= _KEEP_LINES
    assert kept[-3] == emitted[-3] and " 9999 " in kept[-3]


# ---------------------------------------------------------------------------
# D8 — pod metadata from the kubelet path convention
# ---------------------------------------------------------------------------
def test_pod_metadata_parsed_and_injectable_as_headers(spark, tmp_path):
    from singer_spark.config import ReaderConfig

    pods = tmp_path / "pods"
    for pod_dir in ("team-a_web-1_uid-111", "team-b_job-2_uid-222"):
        os.makedirs(pods / pod_dir)
        _write_lines(str(pods / pod_dir / "app.log"), 2, prefix=pod_dir)
    cfg = LogConfig(name="pods_drain", log_dir=str(pods), log_stream_regex="*.log",
                    reader=ReaderConfig(pod_metadata=True),
                    writer=WriterConfig(type="memory"),
                    checkpoint_dir=str(tmp_path / "ck"))
    assert PipelineManager(spark).run_cycle(cfg) == 4
    rows = spark.table("pods_drain").collect()
    assert len(rows) == 4
    by_ns = {r.pod_namespace: r for r in rows}
    assert set(by_ns) == {"team-a", "team-b"}
    a = by_ns["team-a"]
    assert (a.pod_name, a.pod_uid) == ("web-1", "uid-111")
    assert bytes(a.headers["podUid"]) == b"uid-111"
    assert bytes(a.headers["podNamespace"]) == b"team-a"


@pytest.mark.parametrize("reader", [
    {"type": "thrift"},
    {"type": "text", "message_start_regex": r"^\d{4}-"},
], ids=["thrift", "multiline_text"])
def test_framed_pod_logs_carry_pod_headers(spark, tmp_path, reader):
    """Pod logs of the framed readers (thrift, multi-line text) run on the
    tail reader like plain lines: one framed message in ns_pod_uid/app.log
    arrives whole with a podNamespace header."""
    from singer_spark.config import ReaderConfig
    from singer_spark.framing import encode_log_message

    pod_log = tmp_path / "pods" / "ns_pod_uid" / "app.log"
    os.makedirs(pod_log.parent)
    if reader["type"] == "thrift":
        want = b"one message"
        pod_log.write_bytes(encode_log_message(want))
    else:
        want = "2024-01-01 one message\n  at a stack line"
        pod_log.write_text(want + "\n")
    cfg = LogConfig(name=f"pod_{reader['type']}", log_dir=str(tmp_path / "pods"),
                    log_stream_regex="app.log",
                    reader=ReaderConfig(pod_metadata=True, **reader),
                    writer=WriterConfig(type="memory"),
                    checkpoint_dir=str(tmp_path / "ck"))
    assert PipelineManager(spark).run_cycle(cfg) == 1
    (row,) = spark.table(cfg.name).collect()
    assert row.value == want
    assert bytes(row.headers["podNamespace"]) == b"ns"


def test_unknown_reader_type_is_rejected(spark, tmp_path):
    """A typo in reader.type fails at plan build, naming the accepted
    types, instead of silently tailing text."""
    from singer_spark.config import ReaderConfig
    from singer_spark.engine import build_source

    cfg = _cfg(tmp_path, "typo")
    cfg.reader = ReaderConfig(type="thirft")
    with pytest.raises(ValueError, match="text, tail, tail_thrift or thrift"):
        build_source(spark, cfg)


def test_writer_type_text_is_rejected(spark, tmp_path):
    """Only `file` and `s3` name the file writer: `writer.type=text` would
    write parquet unless `writer.format` said otherwise, so it fails at
    start instead."""
    cfg = _cfg(tmp_path, "text_writer")
    cfg.writer.type = "text"
    _write_lines(f"{cfg.log_dir}/a.log", 2)
    mgr = PipelineManager(spark)
    with pytest.raises(ValueError, match="unsupported writer type"):
        mgr.start_log(cfg)
    assert not mgr.queries


# ---------------------------------------------------------------------------
# D8 completion — pod-SPEC metadata (labels/annotations) from a kubelet
# /pods endpoint, fake-server tested like the Kafka/Pulsar transports.
# ---------------------------------------------------------------------------
def _fake_kubelet(pod_items):
    """Serve a PodList JSON on a loopback port; returns (server, url)."""
    import http.server
    import json
    import threading

    body = json.dumps({"kind": "PodList", "items": pod_items}).encode()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_port}/pods"


def test_pod_metadata_pipeline_e2e_with_fake_kubelet(spark, tmp_path):
    """Config-driven D8 end-to-end: reader.pod_metadata + kube fields →
    delivered rows carry podNamespace/podName/podUid AND the kubelet
    labels as headers (PipelineManager wiring, fake kubelet server)."""
    from singer_spark.config import LogConfig, ProcessorConfig, ReaderConfig, WriterConfig
    from singer_spark.engine import PipelineManager
    from singer_spark.sources import PodMetadataFetcher

    pods = tmp_path / "pods"
    os.makedirs(pods / "team-a_web-1_uid-111")
    _write_lines(str(pods / "team-a_web-1_uid-111" / "app.log"), 2,
                 prefix="hello")
    srv, url = _fake_kubelet([
        {"metadata": {"uid": "uid-111", "namespace": "team-a",
                      "name": "web-1", "labels": {"app": "web"}}}])
    try:
        cfg = LogConfig(
            name="podlog", log_dir=str(pods), log_stream_regex="*.log",
            reader=ReaderConfig(type="text", pod_metadata=True,
                                kube_metadata_fields="labels:app",
                                kube_pods_url=url),
            writer=WriterConfig(type="file",
                                path=str(tmp_path / "podlog_out"),
                                format="parquet", min_upload_seconds=0),
            processor=ProcessorConfig(processing_interval_secs=1,
                                      max_processing_interval_secs=8),
            checkpoint_dir=str(tmp_path / "podlog_ckpt"),
        )
        mgr = PipelineManager(spark)
        mgr.run_cycle(cfg)
        rows = spark.read.parquet(str(tmp_path / "podlog_out")).collect()
        assert len(rows) == 2
        r = rows[0]
        assert r.pod_namespace == "team-a" and r.pod_uid == "uid-111"
        assert bytes(r.headers["podName"]) == b"web-1"
        assert bytes(r.headers["app"]) == b"web"
        # lazily-built fetchers are cached per (pods_url, fields)
        assert any(isinstance(f, PodMetadataFetcher)
                   for f in mgr._pod_fetchers.values())
    finally:
        srv.shutdown()


def test_pod_metadata_fetcher_colon_paths_and_cache():
    from singer_spark.sources import PodMetadataFetcher

    items = [
        {"metadata": {"uid": "uid-111", "namespace": "team-a", "name": "web-1",
                      "labels": {"app": "web", "tier": "frontend"},
                      "annotations": {"owner": "ads"}}},
        {"metadata": {"uid": "uid-222", "namespace": "team-b", "name": "job-2",
                      "labels": {"app": "batch"}}},
    ]
    srv, url = _fake_kubelet(items)
    try:
        f = PodMetadataFetcher(pods_url=url,
                               fields=("labels:app", "annotations:owner",
                                       "name", "labels:missing", "bogus:app"))
        # labels:app wins the 'app' leaf key over bogus:app (putIfAbsent)
        assert f.metadata_for("uid-111") == {"app": "web", "owner": "ads",
                                             "name": "web-1"}
        assert f.metadata_for("uid-222") == {"app": "batch", "name": "job-2"}
        assert f.metadata_for("uid-gone") is None
        f.remove("uid-111")
        assert "uid-111" not in f.snapshot()
        assert f.metadata_for("uid-111")["app"] == "web"  # refetched on miss
    finally:
        srv.shutdown()


def test_pod_spec_metadata_injected_as_headers(spark, tmp_path):
    from singer_spark.sources import (
        PodMetadataFetcher,
        pod_spec_headers,
        with_pod_metadata,
        with_pod_spec_metadata,
    )
    from singer_spark.transforms import inject_headers

    pods = tmp_path / "pods"
    logs = spark.createDataFrame(
        [(pod_dir, f"{pods}/{pod_dir}/app.log")
         for pod_dir in ("team-a_web-1_uid-111", "team-b_job-2_uid-222")],
        "value string, path string")
    items = [{"metadata": {"uid": "uid-111", "namespace": "team-a",
                           "name": "web-1", "labels": {"app": "web"}}}]
    srv, url = _fake_kubelet(items)
    try:
        fetcher = PodMetadataFetcher(pods_url=url, fields=("labels:app",))
        df = with_pod_spec_metadata(with_pod_metadata(logs), fetcher)
        rows = {r.pod_uid: r for r in
                inject_headers(df, pod_spec_headers(("app",))).collect()}
        assert bytes(rows["uid-111"].headers["app"]) == b"web"
        assert rows["uid-111"].pod_meta == {"app": "web"}
        # a pod the kubelet does not list gets an empty map + null header
        assert rows["uid-222"].pod_meta == {}
        assert rows["uid-222"].headers["app"] is None
    finally:
        srv.shutdown()
