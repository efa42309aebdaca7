"""Pipeline engine — reference parity for SURVEY.md §2.2 D1-D2, §2.4 B3,
§2.8 O2-O3/O5.

DefaultLogMonitor + LogStreamManager collapse onto a driver-side registry of
StreamingQuery objects: `start_log` wires source → transforms → sink for one
LogConfig (one "SingerLog" = one streaming query), `drain` stops after
processing everything available (LogStreamManager.drainAndStopLogStreams,
monitor/LogStreamManager.java:657-682), and the decider gate reproduces
instance-level sampling (T10, monitor/DefaultLogMonitor.java:203-224).

`run_adaptive` is the reference's poll loop (B3): drain-everything-available
cycles with exponential backoff on empty cycles
(processor/DefaultLogStreamProcessor.java:365-402), log-retention cleanup
after each drained cycle (O5, DefaultLogStreamProcessor.java:252-255), and a
live decider check per cycle (O2, config/Decider.java:50-148).
"""

from __future__ import annotations

import atexit
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from singer_spark import sinks, sources
from singer_spark.config import LogConfig, ReaderConfig, SingerConfig
from singer_spark.fsutil import fs_exists, fs_listdir
from singer_spark.partitioners import get_partitioner
from singer_spark.transforms import (
    drop_oversize,
    filter_message_regex,
    inject_headers,
    prepend_fields,
    regex_based_modifier,
    sample_messages,
)


def _percent_hash(basis: str) -> int:
    """Deterministic 0-99 bucket from md5 — the same 60-bit md5 integer the
    engine uses everywhere (functions.md5_int), computed driver-side."""
    return int(hashlib.md5(basis.encode("utf-8")).hexdigest()[:15], 16) % 100


class Decider:
    """Live-reloadable decider values (O2) — parity with the reference's
    watched decider JSON (config/Decider.java:50-148): a flat
    ``{"decider_name": percent}`` file, re-read whenever its mtime changes,
    so operators flip sampling at runtime without restarting the agent.
    A missing file means all-default (fail open, like the reference)."""

    def __init__(self, path: str | os.PathLike | None, default: int = 100) -> None:
        self.path = str(path) if path else None
        self.default = default
        self._mtime: float | None = None
        self._values: dict[str, int] = {}

    def _maybe_reload(self) -> None:
        if not self.path:
            return
        try:
            mtime = os.path.getmtime(self.path)
        except OSError:
            self._mtime, self._values = None, {}
            return
        if mtime != self._mtime:
            try:
                with open(self.path) as f:
                    raw = json.load(f)
                self._values = {str(k): int(v) for k, v in raw.items()}
                self._mtime = mtime
            except (ValueError, OSError):
                pass  # keep last good values — a half-written file must not flap

    def value(self, name: str) -> int:
        self._maybe_reload()
        return self._values.get(name, self.default)

    def is_enabled(self, name: str, basis: str) -> bool:
        """Deterministic percent gate: same (decider, basis) always lands in
        the same bucket, so flipping the file is the only state change."""
        return _percent_hash(basis) < self.value(name)


def enforce_retention(log_dir: str, retention_seconds: int,
                      glob: str = "*", now: float | None = None) -> list[str]:
    """O5: delete log files older than ``processor.logRetentionSeconds``
    (Singer's ``logRetentionInSeconds``,
    processor/DefaultLogStreamProcessor.java:252-255, config.thrift:270-274).

    Call it after a drained cycle (run_adaptive does): everything older than
    the cutoff has necessarily been processed, so deletion never races the
    reader.  A tailing agent that never deletes fills the disk.  Returns the
    deleted paths."""
    if retention_seconds is None or retention_seconds < 0:
        return []
    cutoff = (now if now is not None else time.time()) - retention_seconds
    removed: list[str] = []
    for p in sorted(Path(log_dir).glob(glob)):
        if p.is_file() and p.stat().st_mtime < cutoff:
            p.unlink()
            removed.append(str(p))
    return removed


def _source_glob(cfg: LogConfig) -> str:
    """The glob under `log_dir` that the tail reader reads, and so the files
    retention may delete.  D8: with `reader.pod_metadata` log_dir is the
    pods root, one <ns>_<pod>_<uid>/ directory per pod."""
    return f"*/{cfg.log_stream_regex}" if cfg.reader.pod_metadata else cfg.log_stream_regex


def build_source(spark: SparkSession, cfg: LogConfig) -> DataFrame:
    r = cfg.reader
    if r.type not in ("text", "tail", "tail_thrift", "thrift"):
        raise ValueError(f"unsupported reader type: {r.type} "
                         f"(expected text, tail, tail_thrift or thrift)")
    if r.type == "thrift" and not r.pod_metadata:
        return sources.thrift_stream(spark, cfg.log_dir, glob=cfg.log_stream_regex,
                                     max_message_size=r.max_message_size,
                                     max_files_per_trigger=cfg.processor.batch_size)
    # the rest, pod logs of thrift included: the tail reader (per-inode offsets, S7/S2)
    from singer_spark.streaming.tail import tail_stream

    mode = "thrift" if r.type in ("thrift", "tail_thrift") else "text"
    df = tail_stream(spark, cfg.log_dir, glob=_source_glob(cfg), mode=mode,
                     max_message_size=r.max_message_size,
                     max_bytes_per_trigger=r.max_bytes_per_trigger,
                     message_start_regex=r.message_start_regex)
    if r.pod_metadata:
        df = sources.with_pod_metadata(df, "file" if mode == "thrift" else "path")
    return df


def _kube_fields(r: ReaderConfig) -> tuple[str, ...]:
    """`reader.kube_metadata_fields` as its colon field paths."""
    return tuple(f.strip() for f in (r.kube_metadata_fields or "").split(",")
                 if f.strip())


def build_transforms(df: DataFrame, cfg: LogConfig,
                     pod_fetcher=None) -> DataFrame:
    """The LogConfig's per-message settings as column expressions on the
    `value` column, in the reference's order: filter → rewrite → prepend
    → sample → oversize drop → pod headers → partition (T1-T11, D8, P1-P10;
    utils/LogConfigUtils.java parses the reference's equivalents).  No
    reader yields line ends, so nothing trims a newline."""
    r, t = cfg.reader, cfg.transformer
    out = df
    if r.filter_message_regex:
        out = filter_message_regex(out, "value", r.filter_message_regex)
    if t.type == "regex" and t.regex and t.modified_message_format is not None:
        out = out.withColumn("value", regex_based_modifier(
            "value", t.regex, t.modified_message_format))
    prefixes: list[Column] = []
    if r.prepend_timestamp:  # the read time: the micro-batch's timestamp
        prefixes.append(F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss"))
    if r.prepend_hostname:
        prefixes.append(F.lit("localhost"))
    if prefixes:
        out = out.withColumn("value", prepend_fields(
            "value", prefixes, r.prepend_field_delimiter))
    if cfg.processor.sample_percent < 100:
        out = sample_messages(out, "value", cfg.processor.sample_percent)
    if r.max_message_size:
        out = drop_oversize(out, "value", r.max_message_size)
    if r.pod_metadata:
        # pod identity headers from the path columns; pod-SPEC fields
        # (labels/annotations) from the kubelet fetcher when configured.
        # Enrichment snapshots at plan build — a restart (config reload,
        # failure recovery) picks up fresh labels.
        hdrs = dict(sources.pod_headers())
        fields = _kube_fields(r)
        if pod_fetcher is not None and fields:
            out = sources.with_pod_spec_metadata(out, pod_fetcher)
            hdrs.update(sources.pod_spec_headers(tuple(f.split(":")[-1] for f in fields)))
        out = inject_headers(out, hdrs)
    w = cfg.writer
    part_name = w.partitioner
    if part_name is None and w.type in ("kafka", "kafka_direct"):
        part_name = "crc32"  # the reference's default Kafka partitioner
    if w.type in ("kafka", "kafka_direct", "pulsar") and part_name:
        import inspect

        key = F.col("key") if "key" in out.columns else F.col("value")
        fn = get_partitioner(part_name)
        kwargs = {}
        # locality-aware partitioners take the configured rack-local list
        if "local_partitions" in inspect.signature(fn).parameters:
            kwargs["local_partitions"] = w.local_partitions
        out = out.withColumn("partition", fn(key, w.num_partitions, **kwargs))
    return out


class PipelineManager:
    """The DefaultLogMonitor/LogStreamManager analog: owns the query registry."""

    def __init__(self, spark: SparkSession, config: SingerConfig | None = None,
                 checkpoint_root: str | None = None,
                 decider: Decider | None = None,
                 kafka_producer_factory=None,
                 pulsar_client_factory=None,
                 pod_fetcher=None,
                 properties_path: str | None = None,
                 conf_d: str | None = None) -> None:
        self.spark = spark
        self.config = config or SingerConfig()
        self.pod_fetcher = pod_fetcher
        # lazily-built kubelet fetchers, one per (pods_url, fields)
        self._pod_fetchers: dict[tuple, object] = {}
        if checkpoint_root is None:
            # no other process can resume from a made-up root: remove it
            # when this interpreter exits
            checkpoint_root = tempfile.mkdtemp(prefix="singer_ckpt_")
            atexit.register(shutil.rmtree, checkpoint_root, ignore_errors=True)
        self.checkpoint_root = checkpoint_root
        self.queries: dict[str, StreamingQuery] = {}
        self.decider = decider or Decider(None)
        self.kafka_producer_factory = kafka_producer_factory
        self.pulsar_client_factory = pulsar_client_factory
        self._draining = False
        # O4 live reload: watched config files (None → reload disabled)
        self.properties_path = str(properties_path) if properties_path else None
        self.conf_d = str(conf_d) if conf_d else None
        self._config_mtimes = self._snapshot_config_mtimes()
        # registry of the LogConfig/audit sink each query was started with,
        # so reload (O4) and failure restart (O6) can rebuild it
        self.log_configs: dict[str, LogConfig] = {}
        self._audit_sinks: dict[str, object] = {}
        # D7 MissingDirChecker: logs whose dir didn't exist at start time
        self.pending_dirs: dict[str, LogConfig] = {}
        # O6: per-query failure counters
        self.failures: dict[str, int] = {}
        # file writers' bytes/row by path, across restarts (sinks.file_deliver)
        self._bytes_per_row: dict[str, float] = {}

    # -- instance-level decider gate (T10/O2) ------------------------------
    def _instance_enabled(self, cfg: LogConfig) -> bool:
        import socket

        basis = f"{socket.gethostname()}:{cfg.name}"
        # live decider (per-log key) overrides the static config percent
        decider_key = f"singer_{cfg.name}_decider"
        if self.decider.path:
            return self.decider.is_enabled(decider_key, basis)
        pct = self.config.instance_sample_percent
        if pct >= 100:
            return True
        # deterministic per (host, log) like the reference's host-hashed decider
        return _percent_hash(basis) < pct

    def _pod_fetcher_for(self, cfg: LogConfig):
        """Kubelet fetcher for a pod-metadata log (D8): the injected one
        (tests pass a fake-server-backed instance) or one built lazily
        from the reader config's pods URL + field paths.  Lazy fetchers
        cache per (pods_url, fields) — a second LogConfig with a
        different URL or field set gets its OWN fetcher, never a silent
        reuse of the first log's."""
        r = cfg.reader
        if not r.pod_metadata:
            return None
        if self.pod_fetcher is not None:  # injected: shared by design
            return self.pod_fetcher
        fields = _kube_fields(r)
        if not fields:
            return None
        from singer_spark.sources import PodMetadataFetcher

        key = (r.kube_pods_url, fields)
        if key not in self._pod_fetchers:
            self._pod_fetchers[key] = PodMetadataFetcher(
                pods_url=r.kube_pods_url, fields=fields)
        return self._pod_fetchers[key]

    def start_log(self, cfg: LogConfig, audit_sink=None) -> StreamingQuery | None:
        """Wire one LogConfig end-to-end and start its query.  A configured
        shadow destination (O8) starts a SECOND query on the same source
        with its own checkpoint — duplicate delivery to the shadow topic/
        path, unaudited, exactly the reference's shadow-serverset remap
        (config.thrift:524-532, SHADOW_MODE_ENABLED).

        A log whose directory doesn't exist yet is DEFERRED, not failed —
        it parks in `pending_dirs` and `check_missing_dirs` starts it when
        the dir appears (D7, monitor/MissingDirChecker.java:40-48: the
        SingerLog goes to singerLogsWithoutDir and a checker thread retries
        initializeLogStreams once the dir exists)."""
        if not self._instance_enabled(cfg):
            return None
        self.log_configs[cfg.name] = cfg
        self._audit_sinks[cfg.name] = audit_sink
        if not os.path.isdir(cfg.log_dir):
            self.pending_dirs[cfg.name] = cfg
            return None
        self.pending_dirs.pop(cfg.name, None)
        query = self._start_query(cfg, audit_sink)
        shadow_cfg = self._shadow_config(cfg)
        if shadow_cfg is not None:
            self._start_query(shadow_cfg)
        return query

    def _checkpoint(self, cfg: LogConfig) -> str:
        return cfg.checkpoint_dir or os.path.join(self.checkpoint_root, cfg.name)

    def _start_query(self, cfg: LogConfig, audit_sink=None,
                     available_now: bool = False) -> StreamingQuery:
        """source → transforms → writer for one LogConfig, started under
        its name against its checkpoint and registered in `queries`."""
        ckpt = self._checkpoint(cfg)
        df = build_transforms(build_source(self.spark, cfg), cfg,
                              pod_fetcher=self._pod_fetcher_for(cfg))
        writer = self._build_writer(cfg, df, ckpt, audit_sink)
        if available_now:
            writer = writer.trigger(availableNow=True)
        query = self.queries[cfg.name] = writer.queryName(cfg.name).start()
        return query

    def _shadow_config(self, cfg: LogConfig) -> LogConfig | None:
        """The O8 shadow twin of `cfg`: same source, the shadow
        destination, no audit, checkpointed next to the log's own
        checkpoint (`<checkpoint>_shadow`) so it resumes wherever the
        log does."""
        import dataclasses

        w = cfg.writer
        if not (w.shadow_topic or w.shadow_path):
            return None
        return dataclasses.replace(
            cfg,
            name=f"{cfg.name}_shadow",
            checkpoint_dir=f"{self._checkpoint(cfg)}_shadow",
            writer=dataclasses.replace(
                w,
                topic=w.shadow_topic or w.topic,
                path=w.shadow_path or w.path,
                audit_topic=None, shadow_topic=None, shadow_path=None,
            ),
        )

    @staticmethod
    def _hot_key_cap(cfg: LogConfig):
        """Per-micro-batch hot-key guard (processor.maxEventsPerKey): keep
        at most N messages per key per trigger — queries.cap_events_per_key
        on the message key (payload as the fallback key).  The order
        columns append the source-position columns (path/pos for text
        tails, file/offset for thrift frames) so ties on the payload break
        on a DISTINCT total order — ordering by the partition column alone
        would make every row tie and which rows survive nondeterministic
        (ADVICE r6).  None when the knob is off."""
        mk = cfg.processor.max_events_per_key
        if not mk:
            return None
        from singer_spark.queries import cap_events_per_key

        def cap(batch_df: DataFrame) -> DataFrame:
            key = "key" if "key" in batch_df.columns else "value"
            order_cols = ["value"] + [c for c in ("path", "pos", "file", "offset")
                                      if c in batch_df.columns]
            return cap_events_per_key(batch_df, key, order_cols, mk)

        return cap

    def _build_writer(self, cfg: LogConfig, df: DataFrame, ckpt: str, audit_sink=None):
        """`memory` and `noop` are direct writeStream sinks; every other
        writer is one foreachBatch handler composed as cap? → deliver →
        audit? (sinks.foreach_batch_sink).  The delivery returns the
        messages it wrote, and the audit row carries that count — counted
        after the successful write, the reference's accounting point
        (writer/KafkaWriter.java:641-693)."""
        w = cfg.writer
        cap = self._hot_key_cap(cfg)
        audit = (sinks.auditor(w.audit_topic, audit_sink)
                 if w.audit_topic and audit_sink is not None else None)
        if w.type in ("memory", "noop"):
            # the cap and the audit are per-micro-batch hooks, and these
            # direct writeStream sinks have none.  Fail at config time — a
            # guard that silently doesn't guard is worse than an error the
            # operator sees on deploy.
            if cap is not None or w.audit_topic:
                raise ValueError(
                    f"processor.maxEventsPerKey and writer.auditTopic are not "
                    f"supported with writer.type={w.type}; use kafka, file, or pulsar")
            if w.type == "memory":
                return sinks.memory_sink(df, cfg.name, ckpt)
            return sinks.noop_sink(df, ckpt)
        trigger_seconds = None
        if w.type in ("kafka", "kafka_direct"):
            factory = self.kafka_producer_factory

            def deliver(batch_df: DataFrame, batch_id: int) -> int:
                return sinks.kafka_write_batch(batch_df, w.bootstrap_servers, w.topic,
                                               factory, w.producer_configs,
                                               transactional=w.transaction_enabled)
        elif w.type == "pulsar":
            # W4/P11: the partitioner-computed `partition` column routes to
            # sub-topic producers inside pulsar_write_batch (the reference's
            # MessageRouter-wrapping-partitioner composition)
            client_factory = self.pulsar_client_factory

            def deliver(batch_df: DataFrame, batch_id: int) -> int:
                return sinks.pulsar_write_batch(batch_df, w.bootstrap_servers, w.topic,
                                                client_factory=client_factory)
        elif w.type in ("file", "s3"):
            # one overwrite per micro-batch into <path>/batch=<id> (a replay
            # replaces its output), files sized by maxFileSizeMB, on the
            # minUploadTime trigger (sinks.file_deliver).  Spark's file sink
            # leaves a _spark_metadata log that readers follow instead of
            # listing the dir, which would hide the batch dirs: refuse it.
            if fs_exists(self.spark, f"{w.path}/_spark_metadata"):
                raise ValueError(
                    f"writer.path {w.path} holds a _spark_metadata log from "
                    f"Spark's file sink; point the writer at a new path")
            trigger_seconds = w.min_upload_seconds
            deliver = sinks.file_deliver(w.path, w.format, w.max_file_size_mb,
                                         self._bytes_per_row)
        else:
            raise ValueError(f"unsupported writer type: {w.type}")
        writer = sinks.foreach_batch_sink(df, ckpt, deliver, cap=cap, audit=audit)
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer

    def _start_isolated(self, cfg: LogConfig) -> bool:
        """`start_log` with the audit sink the log was registered with,
        isolated: one broken log (a typo'd writer type, an unbuildable
        reader) must not take down the healthy pipelines or the caller's
        loop.  The error goes to stderr; returns whether start_log ran
        through."""
        try:
            self.start_log(cfg, audit_sink=self._audit_sinks.get(cfg.name))
            return True
        except Exception as e:
            sys.stderr.write(f"singer_spark: could not start {cfg.name}: {e}\n")
            return False

    def start_all(self, audit_sink=None) -> None:
        for cfg in self.config.logs:
            self.start_log(cfg, audit_sink=audit_sink)

    # -- adaptive poll loop (B3) + retention (O5) + live decider (O2) ------
    def run_cycle(self, cfg: LogConfig, audit_sink=None) -> int:
        """One drain-everything-available cycle (Trigger.AvailableNow against
        the log's checkpoint — resumes where the last cycle stopped), then
        the same cycle for its shadow twin (O8), if one is configured.
        Returns the log's own summed `numInputRows`: source rows, which is
        messages for every reader except `thrift` without `pod_metadata`,
        whose `binaryFile` source yields one row per FILE."""
        rows = self._cycle_query(cfg, audit_sink)
        shadow_cfg = self._shadow_config(cfg)
        if shadow_cfg is not None:
            self._cycle_query(shadow_cfg)
        return rows

    def _cycle_query(self, cfg: LogConfig, audit_sink=None) -> int:
        """`run_cycle` for one query.  A checkpoint whose newest
        `offsets/<n>` has no `commits/<n>` (a crash between the two
        writes) makes Spark's `availableNow` query replay batch n and stop
        there, so the cycle runs a second query for what arrived since.
        A fresh or clean checkpoint starts one."""
        ckpt = self._checkpoint(cfg)
        offsets = [n for n in fs_listdir(self.spark, f"{ckpt}/offsets") if n.isdigit()]
        replay = bool(offsets) and (max(offsets, key=int)
                                    not in fs_listdir(self.spark, f"{ckpt}/commits"))
        rows = 0
        for _ in range(2 if replay else 1):
            query = self._start_query(cfg, audit_sink, available_now=True)
            query.awaitTermination()
            for p in query.recentProgress:
                if isinstance(p, str):
                    p = json.loads(p)
                rows += int(p.get("numInputRows", 0) or 0)
        return rows

    def run_adaptive(self, cfg: LogConfig, audit_sink=None, cycles: int = 1,
                     sleep_fn=time.sleep) -> list[dict]:
        """The reference's poll loop (B3,
        processor/DefaultLogStreamProcessor.java:365-402): each cycle drains
        everything available, then sleeps.  An EMPTY cycle doubles the sleep
        up to ``max_processing_interval_secs``; a cycle that saw data resets
        it to ``processing_interval_secs``.  After every drained cycle,
        retention (O5) deletes log files older than
        ``log_retention_seconds``, and the live decider (O2) is re-read — a
        disabled log skips processing but keeps polling at the backoff
        ceiling.  Returns per-cycle
        {rows, interval_secs, deleted, enabled} for observability/tests."""
        p = cfg.processor
        interval = p.processing_interval_secs
        history: list[dict] = []
        for _ in range(cycles):
            enabled = self._instance_enabled(cfg)
            failed = False
            try:
                rows = self.run_cycle(cfg, audit_sink) if enabled else 0
            except Exception:
                # O6: a failed cycle counts against num_failures_allowed;
                # within the allowance the NEXT cycle re-creates the query
                # from the same checkpoint (the failed micro-batch re-runs —
                # at-least-once), beyond it the error surfaces
                # (writer/KafkaWriter.java:598-602)
                self.failures[cfg.name] = self.failures.get(cfg.name, 0) + 1
                if not (self.config.restart_on_failures
                        and self.failures[cfg.name] <= self.config.num_failures_allowed):
                    raise
                self.queries.pop(cfg.name, None)
                failed, rows = True, 0
            if rows > 0:
                interval = p.processing_interval_secs   # reset on data
            else:
                interval = min(max(interval, 1) * 2, p.max_processing_interval_secs)
            # retention must only touch files THIS query's source glob covers:
            # a second LogConfig sharing log_dir with a different glob has its
            # own drain schedule, and deleting its files here would be silent
            # data loss (the drained-implies-processed invariant only holds
            # per-glob)
            # ... and never after a FAILED cycle — the drained-implies-
            # processed invariant doesn't hold for it
            deleted = (enforce_retention(cfg.log_dir, p.log_retention_seconds,
                                         glob=_source_glob(cfg))
                       if enabled and not failed else [])
            history.append({"rows": rows, "interval_secs": interval,
                            "deleted": deleted, "enabled": enabled,
                            "failed": failed})
            sleep_fn(interval)
        return history

    # -- O4 config live reload ---------------------------------------------
    def _snapshot_config_mtimes(self) -> dict[str, float]:
        """mtimes of singer.properties + every conf.d/*.properties — the
        cheap change probe (same mtime-gate pattern as Decider._maybe_reload;
        the reference polls and re-parses on an interval,
        config/SingerDirectoryWatcher.java:66-90)."""
        snap: dict[str, float] = {}
        paths = []
        if self.properties_path:
            paths.append(Path(self.properties_path))
        if self.conf_d:
            paths.extend(sorted(Path(self.conf_d).glob("*.properties")))
        for p in paths:
            try:
                snap[str(p)] = os.path.getmtime(p)
            except OSError:
                pass  # deleted between glob and stat — next poll sees truth
        return snap

    def poll_config_changes(self) -> dict[str, list[str]]:
        """Re-read the watched config if any file changed, then reconcile:
        restart queries whose LogConfig CHANGED (stop → rebuild from the
        same checkpoint, so delivery resumes exactly where it left off),
        start NEW logs, stop REMOVED ones.  Unchanged queries keep running —
        finer-grained than the reference, which exits the whole agent on any
        config change and relies on the supervisor to restart it
        (config/SingerDirectoryWatcher.java:72-90,
        config/DirectorySingerConfigurator.java).  Returns the actions taken.
        """
        from singer_spark.config import load_singer_config

        actions: dict[str, list[str]] = {"restarted": [], "started": [],
                                         "stopped": [], "failed": []}
        if not self.properties_path:
            return actions
        snap = self._snapshot_config_mtimes()
        if snap == self._config_mtimes:
            return actions
        try:
            new_config = load_singer_config(self.properties_path, self.conf_d)
        except (OSError, ValueError):
            return actions  # half-written config must not flap the agent
        self._config_mtimes = snap
        new_logs = {c.name: c for c in new_config.logs}
        old_logs = dict(self.log_configs)
        # preserve agent-level knobs parsed from singer.properties
        self.config = new_config

        for name, cfg in new_logs.items():
            if name not in old_logs:
                bucket = "started"
            elif cfg != old_logs[name]:
                self._stop_query(name)
                bucket = "restarted"
            else:
                continue
            actions[bucket if self._start_isolated(cfg) else "failed"].append(name)
        for name in old_logs:
            if name not in new_logs:
                self._stop_query(name)
                self.log_configs.pop(name, None)
                self.pending_dirs.pop(name, None)
                actions["stopped"].append(name)
        return actions

    def _stop_query(self, name: str, timeout_secs: int = 60) -> None:
        """Stop a query (and its shadow twin) if running."""
        for qname in (name, f"{name}_shadow"):
            q = self.queries.pop(qname, None)
            if q is not None and q.isActive:
                q.stop()
                q.awaitTermination(timeout_secs)

    # -- D7 MissingDirChecker ----------------------------------------------
    def check_missing_dirs(self) -> list[str]:
        """Start every parked log whose directory has appeared (D7,
        monitor/MissingDirChecker.java:40-48).  Returns the names started."""
        started = []
        for name, cfg in list(self.pending_dirs.items()):
            # still parked after a clean start_log: decider-disabled, or
            # its dir went away again
            if (os.path.isdir(cfg.log_dir) and self._start_isolated(cfg)
                    and name not in self.pending_dirs):
                started.append(name)
        return started

    # -- O6 restart-after-failure ------------------------------------------
    def supervise_once(self) -> dict[str, list[str]]:
        """Restart queries that terminated with an exception, from their own
        checkpoint (at-least-once: the failed micro-batch re-runs).  A query
        that has failed more than ``num_failures_allowed`` times stays down
        and is reported — the reference counterpart counts failures and
        triggers an agent-level restart beyond the allowance
        (writer/KafkaWriter.java:598-602, monitor/DefaultLogMonitor.java:
        499-507 daily/failure restart)."""
        actions: dict[str, list[str]] = {"restarted": [], "gave_up": [], "failed": []}
        if not self.config.restart_on_failures:
            return actions
        for name, q in list(self.queries.items()):
            if self.queries.get(name) is not q:
                continue  # replaced by an earlier restart in this same pass
            if q.isActive or q.exception() is None:
                continue
            base = name.removesuffix("_shadow")
            cfg = self.log_configs.get(base)
            if cfg is None:
                self.queries.pop(name, None)
                continue
            # failures count per LOG (a main+shadow pair dying together is
            # ONE failure, and the pair restarts as a unit)
            self.failures[base] = self.failures.get(base, 0) + 1
            self._stop_query(base)  # clears both registry entries
            if self.failures[base] > self.config.num_failures_allowed:
                actions["gave_up"].append(base)
                continue
            actions["restarted" if self._start_isolated(cfg) else "failed"].append(base)
        return actions

    # -- drain / stop (O3 admin `stop`) -----------------------------------
    def drain(self, timeout_secs: int = 120) -> None:
        """Process everything available, then stop — the reference's
        drainAndStopLogStreams."""
        self._draining = True
        for q in list(self.queries.values()):
            q.processAllAvailable()
            q.stop()
            q.awaitTermination(timeout_secs)
        self._draining = False

    def is_draining(self) -> bool:
        return self._draining

    def stop_all(self) -> None:
        for q in list(self.queries.values()):
            q.stop()
        self.queries.clear()
