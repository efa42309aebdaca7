"""Sources — reference parity for SURVEY.md §2.1 (S1-S9) and §2.2 discovery.

One file-reading model: the tail reader (`streaming.tail`), which keys each
file position by inode and byte offset like the reference's LogPosition.
`reader.type` text and tail (lines, or multi-line messages framed by
``message_start_regex``, S3/S4) and tail_thrift (framed LogMessages) all
run on it, and so does `reader.pod_metadata` (a ``*/<glob>`` over the pod
log directories, pod columns parsed from `path`), for every reader type.
It delivers what is appended to a growing file and keeps its offset across
rename rotation and restart.

One reader still ships whole files through Spark's `binaryFile` source,
seeing a file once, when it is first listed: `thrift_stream`
(``reader.type=thrift``, S1/S2).  `engine.run_cycle` counts its input rows
as files, and the benchmark pins that count, so it moves to the tail
reader together with that pin.

`pathGlobFilter` plays the role of the reference's logStreamRegex
(common/LogStream.java); `maxFilesPerTrigger` bounds a micro-batch like the
reference's batchSize (B1); `latestFirst=false` keeps oldest-first
ordering, matching LogStream's (mtime, reversed-name) sort
(common/LogStream.java:179-184).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from singer_spark.framing import decode_thrift_blobs


def thrift_stream(spark: SparkSession, log_dir: str, glob: str = "*",
                  max_message_size: int | None = None,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming framed-thrift LogMessage source. Columns: LOG_MESSAGE_SCHEMA."""
    reader = (
        spark.readStream.format("binaryFile")
        # a streaming binaryFile source needs an explicit schema
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("latestFirst", "false")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return decode_thrift_blobs(reader.load(log_dir), max_message_size=max_message_size)


# ---------------------------------------------------------------------------
# Kubernetes-style multi-dir discovery (D8): the tail reader globs over pod
# log dirs (``*/<glob>``) and the pod metadata comes from the kubelet path
# convention, replacing KubeService+PodWatcher.  The kubelet names each
# pod's log directory `<namespace>_<pod-name>_<pod-uid>` (underscores are
# safe separators — DNS-1123 names cannot contain them), which is exactly
# the metadata the reference fetches from the kubelet API and injects as
# message headers.
# Reference: kubernetes/KubeService.java:232-289, PodMetadataFetcher.java.
# ---------------------------------------------------------------------------
def with_pod_metadata(df: DataFrame, path_col: str = "path") -> DataFrame:
    """Add pod_namespace / pod_name / pod_uid columns parsed from the name
    of the directory holding each row's file.  A directory without the
    3-part convention yields null namespace/name and the whole directory
    name as uid (bare-uid layouts)."""
    dirpart = F.regexp_extract(F.col(path_col), r"([^/]+)/[^/]+$", 1)
    parts = F.split(dirpart, "_")
    has3 = F.size(parts) >= 3
    return (
        df.withColumn("pod_namespace",
                      F.when(has3, F.element_at(parts, 1)).otherwise(F.lit(None)))
        .withColumn("pod_name",
                    F.when(has3, F.element_at(parts, 2)).otherwise(F.lit(None)))
        .withColumn("pod_uid",
                    F.when(has3, F.element_at(parts, 3)).otherwise(dirpart))
    )


def pod_headers():
    """Header map entries for the pod metadata columns — what the reference
    injects into every message from a kubernetes log
    (KubeService.java:232-289).  Feed to transforms.inject_headers."""
    return {
        "podNamespace": F.col("pod_namespace").cast("binary"),
        "podName": F.col("pod_name").cast("binary"),
        "podUid": F.col("pod_uid").cast("binary"),
    }


# ---------------------------------------------------------------------------
# Kubelet pod-SPEC metadata (labels/annotations) — the path convention above
# only yields namespace/name/uid; the reference additionally polls the
# kubelet read-only API and injects selected metadata fields as headers.
# Reference: kubernetes/PodMetadataFetcher.java (lazy per-uid cache, colon
# field paths, putIfAbsent per leaf key), KubeService.java:510-522 (the
# /pods URL).
# ---------------------------------------------------------------------------
class PodMetadataFetcher:
    """Lazy pod-spec metadata from the kubelet `/pods` endpoint.

    `fields` are colon-separated paths into the pod's `metadata` object —
    e.g. ``labels:app`` extracts metadata.labels.app under the leaf key
    ``app``; the first path producing a given leaf key wins (the
    reference's putIfAbsent).  `fetch_pod_list` is injectable (a fake
    kubelet server in tests, urllib against the node kubelet in prod) and
    must return the PodList JSON dict.  Metadata is cached per pod uid;
    `remove` drops an entry on pod deletion (podDeleted parity)."""

    def __init__(self, pods_url: str = "http://localhost:10255/pods",
                 fields: tuple[str, ...] = (),
                 fetch_pod_list=None) -> None:
        self.pods_url = pods_url
        self.fields = tuple(fields)
        self._fetch = fetch_pod_list or self._http_fetch
        self._cache: dict[str, dict[str, str]] = {}

    def _http_fetch(self) -> dict:
        import json
        import urllib.request

        with urllib.request.urlopen(self.pods_url, timeout=10) as resp:
            return json.loads(resp.read().decode("utf-8"))

    @staticmethod
    def extract_fields(metadata: dict, fields: tuple[str, ...]) -> dict[str, str]:
        """Colon-path walk with the reference's exact semantics: descend
        dicts per key, keep only primitive leaves, first path per leaf key
        wins."""
        out: dict[str, str] = {}
        for path in fields:
            cur: object = metadata
            leaf = None
            for key in path.split(":"):
                if not isinstance(cur, dict):
                    cur = None
                    break
                cur = cur.get(key)
                leaf = key
            if leaf is not None and isinstance(cur, (str, int, float, bool)):
                out.setdefault(leaf, str(cur))
        return out

    def refresh(self) -> None:
        """One kubelet poll: (re)cache extracted fields for every listed
        pod.  A fetch failure keeps the existing cache (fail-open, like
        the locality provider's metadata-outage fallback)."""
        try:
            pod_list = self._fetch()
        except Exception:
            return
        for item in pod_list.get("items", []):
            md = item.get("metadata", {}) or {}
            uid = md.get("uid")
            if uid:
                self._cache[str(uid)] = self.extract_fields(md, self.fields)

    def metadata_for(self, pod_uid: str) -> dict[str, str] | None:
        """Cached metadata for one pod, polling the kubelet on a miss
        (the reference's lazy-load shape)."""
        if pod_uid not in self._cache:
            self.refresh()
        return self._cache.get(pod_uid)

    def remove(self, pod_uid: str) -> None:
        self._cache.pop(pod_uid, None)

    def snapshot(self) -> dict[str, dict[str, str]]:
        return dict(self._cache)


def with_pod_spec_metadata(df: DataFrame,
                           fetcher: PodMetadataFetcher) -> DataFrame:
    """Broadcast-join the fetcher's current pod-spec metadata onto rows by
    `pod_uid`: adds one MAP column `pod_meta` (leaf key → value; empty map
    for pods the kubelet does not list).  The kubelet list is node-local —
    at most a few hundred pods — so the lookup side is always a broadcast,
    never a shuffle of the log stream.  Call per batch (foreachBatch) to
    pick up label changes; the plan rebuilds from the refreshed snapshot."""
    spark = df.sparkSession
    fetcher.refresh()
    snap = fetcher.snapshot()
    rows = [(uid, meta) for uid, meta in sorted(snap.items())]
    lookup = spark.createDataFrame(rows or [("", {})],
                                   "pod_uid string, pod_meta map<string,string>")
    if not rows:
        lookup = lookup.where(F.lit(False))
    out = df.join(F.broadcast(lookup), "pod_uid", "left")
    empty = F.create_map().cast("map<string,string>")
    return out.withColumn("pod_meta", F.coalesce(F.col("pod_meta"), empty))


def pod_spec_headers(keys: tuple[str, ...]):
    """Header entries for selected pod-spec metadata leaf keys — what the
    reference injects per message from the fetched pod metadata.  Feed to
    transforms.inject_headers after :func:`with_pod_spec_metadata`."""
    return {key: F.element_at(F.col("pod_meta"), key).cast("binary")
            for key in keys}
