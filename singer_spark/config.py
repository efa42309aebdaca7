"""Config system — reference parity for SURVEY.md §2.8 O4.

The reference parses `singer.properties` + `conf.d/*.properties` into Thrift
SingerConfig/SingerLogConfig structs (utils/LogConfigUtils.java:176,614-657;
config.thrift:261-310,434-567).  Here the IR is dataclasses, loadable from
the same flat `key=value` properties shape (`processor.batchSize=200`,
`writer.kafka.topic=...`) or from a plain dict/JSON.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class ReaderConfig:
    # config.thrift:32-88 (LogStreamReaderConfig / Text+ThriftReaderConfig)
    # text ≡ tail: lines or multi-line messages from the tail reader;
    # tail_thrift: framed LogMessages from it; thrift: whole files via
    # binaryFile, or the tail reader with pod_metadata (sources module doc)
    type: str = "text"                      # text | tail | tail_thrift | thrift
    message_start_regex: str | None = None  # text/tail: starts a message (S3/S4)
    filter_message_regex: str | None = None # T1
    max_message_size: int = 102400          # common/SingerConfigDef.java:106-107
    # tail readers: per-file per-trigger catch-up budget (0/None = unlimited)
    max_bytes_per_trigger: int | None = None
    prepend_timestamp: bool = False         # T3: the read time
    prepend_hostname: bool = False
    prepend_field_delimiter: str = " "
    # D8: kubernetes pod log streams — parse <ns>_<pod>_<uid> from the
    # path and inject podNamespace/podName/podUid headers; when
    # `kube_metadata_fields` is set (comma-separated colon paths, e.g.
    # "labels:app,annotations:owner" — KubeConfig.podMetadataFields), a
    # kubelet PodMetadataFetcher additionally injects those fields
    pod_metadata: bool = False
    kube_metadata_fields: str | None = None
    kube_pods_url: str = "http://localhost:10255/pods"


@dataclass
class TransformerConfig:
    # config.thrift:92-110 (MessageTransformerConfig, REGEX_BASED_MODIFIER)
    type: str | None = None                 # None | regex
    regex: str | None = None
    modified_message_format: str | None = None


@dataclass
class WriterConfig:
    # config.thrift:121-225 (enum + Kafka/S3/Pulsar writer configs)
    # kafka ≡ kafka_direct: sinks.kafka_write_batch under foreachBatch
    type: str = "kafka"                     # kafka | kafka_direct | s3 | file | noop | memory | pulsar
    topic: str | None = None
    bootstrap_servers: str | None = None
    # partitioners.PARTITIONER_REGISTRY key.  None = writer-type default:
    # kafka falls back to crc32 (the reference's default partitioner);
    # pulsar uses the broker's own routing unless a partitioner is set
    # EXPLICITLY (sub-topic routing assumes `{topic}-partition-N` exists —
    # never silently redirect a config that didn't opt in)
    partitioner: str | None = None
    num_partitions: int = 16
    # P8-P10: rack-local partition ids (None → all partitions)
    local_partitions: list[int] | None = None
    # kwargs for the producer factory (kafka-python names for the default
    # KafkaProducer; they override the reference defaults)
    producer_configs: dict[str, str] = field(default_factory=dict)
    # W2: wrap each task's sends in a Kafka transaction
    # (common.thrift:29 transactionEnabled)
    transaction_enabled: bool = False
    # S3/file writer (config.thrift:149-185)
    path: str | None = None
    format: str = "parquet"
    max_file_size_mb: int = 50
    min_upload_seconds: int = 30
    # audit (loggingaudit_config.thrift)
    audit_topic: str | None = None
    # O8 shadow mode (config.thrift:524-532): duplicate delivery to a shadow
    # destination — shadow_topic for kafka writers, shadow_path for file/s3
    shadow_topic: str | None = None
    shadow_path: str | None = None


@dataclass
class ProcessorConfig:
    # config.thrift:23-26 + DefaultLogStreamProcessor defaults
    batch_size: int = 200                   # maxFilesPerTrigger analog
    processing_interval_secs: int = 1       # run_adaptive's base poll interval (B3)
    max_processing_interval_secs: int = 60  # adaptive backoff ceiling (B3)
    sample_percent: int = 100               # T9 decider percentage
    log_retention_seconds: int = -1         # O5
    # hot-key guard: per micro-batch, keep at most this many messages per
    # key (queries.cap_events_per_key on the message key, payload value as
    # the fallback key) — the per-record-bound discipline of the
    # reference's oversize drop (reader/ThriftLogFileReader.java:152-157)
    # applied to a runaway single producer.  None = off (plan-identical).
    # conf.d: `processor.maxEventsPerKey=10000`.
    max_events_per_key: int | None = None


@dataclass
class LogConfig:
    """One configured log = one streaming query (SingerLogConfig,
    config.thrift:261-310)."""
    name: str
    log_dir: str
    log_stream_regex: str = "*"             # pathGlobFilter form
    reader: ReaderConfig = field(default_factory=ReaderConfig)
    transformer: TransformerConfig = field(default_factory=TransformerConfig)
    writer: WriterConfig = field(default_factory=WriterConfig)
    processor: ProcessorConfig = field(default_factory=ProcessorConfig)
    checkpoint_dir: str | None = None


@dataclass
class SingerConfig:
    """Agent-level config (config.thrift:434-567)."""
    logs: list[LogConfig] = field(default_factory=list)
    heartbeat_enabled: bool = True
    heartbeat_interval_secs: int = 60
    # instance-level decider sampling (T10): None → always on
    instance_sample_percent: int = 100
    # O4: how often the live config watcher re-checks singer.properties +
    # conf.d mtimes (SingerConfig.logConfigPollIntervalSecs)
    log_config_poll_interval_secs: int = 10
    # O6: SingerRestartConfig.restartOnFailures/numOfFailuesAllowed — a
    # query that failed is restarted from its checkpoint until it has
    # failed more than num_failures_allowed times
    restart_on_failures: bool = False
    num_failures_allowed: int = 3


_BOOLS = {"true": True, "false": False}


def _coerce(v: str):
    s = v.strip()
    if s.lower() in _BOOLS:
        return _BOOLS[s.lower()]
    if re.fullmatch(r"-?\d+", s):
        return int(s)
    return s


def parse_properties(text: str) -> dict:
    """Flat `a.b.c=value` properties → nested dict (the reference's
    LogConfigUtils property-walking, minus Thrift)."""
    out: dict = {}
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#") or "=" not in line:
            continue
        key, _, val = line.partition("=")
        node = out
        parts = key.strip().split(".")
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = _coerce(val)
    return out


_SNAKE_RE = re.compile(r"(?<!^)(?=[A-Z])")


def _snake(name: str) -> str:
    return _SNAKE_RE.sub("_", name).lower()


def _build(cls, data: dict):
    fields = {f for f in cls.__dataclass_fields__}
    kwargs = {}
    for k, v in data.items():
        k = _snake(k)
        if k not in fields:
            continue
        f = cls.__dataclass_fields__[k]
        sub = {"reader": ReaderConfig, "transformer": TransformerConfig,
               "writer": WriterConfig, "processor": ProcessorConfig}.get(k)
        kwargs[k] = _build(sub, v) if sub and isinstance(v, dict) else v
    return cls(**kwargs)


def load_log_config(name: str, data: dict | str) -> LogConfig:
    """Build a LogConfig from a nested dict or properties text."""
    if isinstance(data, str):
        data = parse_properties(data)
    data = dict(data)
    data.setdefault("name", name)
    return _build(LogConfig, data)


def load_singer_config(properties_path: str | Path, conf_d: str | Path | None = None) -> SingerConfig:
    """singer.properties + conf.d/*.properties → SingerConfig, mirroring
    DirectorySingerConfigurator (config/DirectorySingerConfigurator.java)."""
    root = parse_properties(Path(properties_path).read_text())
    singer = root.get("singer", root)
    restart = singer.get("singerRestartConfig", singer.get("restart", {}))
    cfg = SingerConfig(
        heartbeat_enabled=bool(singer.get("heartbeatEnabled", singer.get("heartbeat_enabled", True))),
        heartbeat_interval_secs=int(singer.get("heartbeatIntervalInSeconds", 60)),
        log_config_poll_interval_secs=int(singer.get("logConfigPollIntervalSecs", 10)),
        restart_on_failures=bool(restart.get("restartOnFailures", False)),
        num_failures_allowed=int(restart.get("numOfFailuesAllowed", 3)),
    )
    if conf_d:
        for p in sorted(Path(conf_d).glob("*.properties")):
            cfg.logs.append(load_log_config(p.stem, p.read_text()))
    return cfg
