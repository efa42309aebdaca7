"""Shared scalar-function building blocks.

The reference's only scalar functions are regex match/replace, concat-
prepends, and CRC-32 / MD5 / Murmur3 hashing (SURVEY.md §2.7).  Everything
here is a JVM-side built-in expression (whole-stage-codegen friendly); the
only exceptions are the two Arrow-batched VERIFICATION-ONLY cross-
implementations at the bottom (`crc32_py`, `murmur3_py`), which exist so
self-verifying driver queries can compare the JVM hash against an
independent Python implementation — they never run on a production path.

``md5_int`` is the deterministic 60-bit hash used wherever the engine needs
a hash that an external ANSI-SQL oracle can reproduce (sampling, md5
partitioner, minhash, LSH band keys).  CRC-32 / Murmur3 variants delegate to
Spark's built-ins (`crc32`, `hash`) for reference parity where
cross-engine reproducibility is not required.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int(col: Column | str) -> Column:
    """First 60 bits of md5(col) as a non-negative BIGINT.

    Cross-engine reproducible: DuckDB equivalent is
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint")


def windowed_join(arr: Column, start: Column, length, sep: str) -> Column:
    """`array_join(slice(arr, start, length), sep)` rewritten to cost
    O(length) instead of O(len(arr)) — for ATTRIBUTE arrays only.

    Spark's interpreted `Slice.eval` materializes the ENTIRE source array
    on every call, so slice-inside-transform — the natural way to shingle
    (one slice per position) — is quadratic in the array length.  Indexed
    reads (`try_element_at`) are O(1) on Spark's array data, so joining
    `length` indexed lookups restores the linear total.  `try_element_at`
    returns NULL past the end (never raises, ANSI-safe) and `array_join`
    drops NULLs — exactly `slice`'s truncate-at-end behavior.

    CONSTRAINT: `arr` MUST be a materialized column attribute (straight
    from an agg/select boundary), NEVER a computed expression like
    `split(text)` — Catalyst does no common-subexpression elimination
    inside higher-order-function lambdas, so a computed `arr` would be
    RE-EVALUATED on every element lookup and the whole pass goes
    quadratic again.  For computed arrays use :func:`kgram_join_col`,
    whose references are all per-row.  `length` must be a positive
    Python int (window/shingle width)."""
    assert int(length) >= 1
    start = start.cast("int")
    idx = F.sequence(start, start + F.lit(int(length) - 1).cast("int"))
    return F.array_join(
        F.transform(idx, lambda j: F.try_element_at(arr, j)), sep)


def kgram_join_col(arr: Column, k: int, sep: str) -> Column:
    """Array of `sep`-joined k-grams of `arr` (windows starting at
    positions 1..n-k+1, order preserved), built in O(n·k) per row.

    Why not `transform(sequence(1, n-k+1), i -> join(slice(arr, i, k)))`:
    interpreted `Slice` copies the whole array per call, and — worse —
    when `arr` is a computed expression (e.g. `split(text)`), Catalyst
    re-evaluates it inside EVERY lambda invocation (no CSE inside HOF
    lambdas), so the natural shingle loop is O(n²) and a single
    million-token document or 100k-event user wedges its task.  Here
    every reference to `arr` sits at per-ROW scope: k-1 `zip_with`
    merges against progressively shifted copies (each shift a single
    O(n) slice), so the cost is k slices + k element-wise zips per row
    regardless of how `arr` is produced.

    Windows that would run past the end come out NULL (zip_with pads,
    concat propagates) and are trimmed by the final slice to n-k+1
    entries; n < k yields an empty array — callers that want the
    truncated-single-shingle edge (`join(arr)` when shorter than k) add
    it with an outer `when`."""
    assert k >= 1
    if k == 1:
        return arr
    g = arr
    for j in range(1, k):
        shifted = F.slice(arr, j + 1, F.greatest(F.size(arr) - j, F.lit(1)))
        g = F.zip_with(g, shifted, lambda x, y: F.concat(x, F.lit(sep), y))
    n = (F.size(arr) - F.lit(k - 1)).cast("int")
    return F.when(n >= 1, F.slice(g, 1, n)) \
            .otherwise(F.array().cast("array<string>"))


def qround(col: Column, digits: int) -> Column:
    """Quantizing round: floor(x·10^n + 0.5) / 10^n.

    Used instead of `round()` wherever a per-row double must compare equal
    across engines: Spark's ROUND rounds the shortest-decimal representation
    while DuckDB rounds the binary value, so they disagree on exact-half
    inputs; this formula is pure IEEE arithmetic — identical everywhere
    given identical input doubles.  SQL twin: floor(x * 10^n + 0.5) / 10^n.
    """
    scale = 10 ** digits
    return F.floor(col * scale + F.lit(0.5)) / F.lit(scale)


def fan_out(df, min_rows_per_part: int = 0):
    """Raise scan parallelism for compute-heavy per-row operators.

    A small table stored as one parquet file scans as ONE task, serializing
    any expensive downstream work (shingling, hashing, Arrow UDFs) on a
    single core.  Repartition up to the cluster's default parallelism — but
    only when the source has fewer partitions, so on a real cluster reading
    thousands of splits this is a no-op (no shuffle added at 100 TB).

    The parallelism probe is `inputFiles()` (a catalog lookup, ~free) —
    `df.rdd.getNumPartitions()` converts the whole plan to an RDD and costs
    ~1.5 s of driver time PER CALL, which dominated small-corpus queries.
    File count under-counts splits of multi-block files, so the fallback
    only errs toward an extra round-robin exchange on few-file inputs —
    never toward under-parallelism, and never at scale (file count ≫ cores
    there).  Non-scan plans (no input files) fall back to the RDD probe.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = len(df.inputFiles())
    except Exception:
        n = 0
    if n == 0:
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def assert_bounded(df, max_rows: int = 1_000_000, what: str = "global-window operator"):
    """Guard for operators built on a single-task un-partitioned Window
    (exact round-robin counter parity, logstream ordering): they exist for
    bounded parity checks and tests, and must never be reached by a
    production path — a global Window sorts the whole input on ONE task.
    Raises on streaming input or when the input exceeds `max_rows` (one
    count job — acceptable for the bounded inputs these shims are for)."""
    if df.isStreaming:
        raise ValueError(f"{what} requires a bounded input, got a streaming DataFrame")
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"{what} would sort {n} rows on a single task (limit {max_rows}); "
            "use the distributed variant instead")
    return df


def crc32_bytes(col: Column | str) -> Column:
    """CRC-32 of the message payload — parity with
    reference ``writer/KafkaWriter.java:438-465`` (computes/verifies
    ``crc32(message)`` on the raw bytes)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.crc32(c.cast("binary"))


# ---------------------------------------------------------------------------
# Independent cross-implementations for SELF-VERIFYING queries.
#
# The driver's DuckDB oracle cannot register Python UDFs, so engine-specific
# hashes (Spark `crc32`, Spark `hash`) were rows-only checks for six rounds.
# The fix (VERDICT r6 task #1): the query itself computes the operator's
# JVM answer AND an independent Arrow-side answer, emits engine-independent
# agreement booleans, and the driver's plain-SQL oracle value-checks the
# invariant.  Independence is real — java.util.zip.CRC32 vs Python zlib,
# Spark's codegen'd Murmur3_x86_32 vs the pure-Python reimplementation
# below.  These are the engine's only PER-ROW (non-numpy-vectorized)
# Python kernels, used exclusively on verification paths — never in a
# production hot path (the production pandas UDFs in operators/ are all
# numpy-vectorized across the Arrow batch); both transfer via Arrow, not
# row-at-a-time PythonUDF pickling.
# ---------------------------------------------------------------------------
def spark_murmur3_py(data: bytes, seed: int = 42) -> int:
    """Murmur3_x86_32 exactly as Spark's ``hash()`` computes it for strings
    (UTF-8 bytes, seed 42): little-endian 4-byte words, then each TRAILING
    byte mixed individually as a SIGNED int — Spark's hashUnsafeBytes tail
    handling, which differs from the canonical murmur3 tail.  Pure-Python
    reimplementation (independent of the JVM), validated cell-for-cell
    against ``F.hash`` (tests/test_transforms.py)."""
    def rotl32(x: int, r: int) -> int:
        x &= 0xFFFFFFFF
        return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF

    c1, c2 = 0xCC9E2D51, 0x1B873593
    h1 = seed & 0xFFFFFFFF
    n = len(data)
    aligned = n - n % 4
    for i in range(0, aligned, 4):
        k1 = int.from_bytes(data[i:i + 4], "little")
        k1 = rotl32((k1 * c1) & 0xFFFFFFFF, 15)
        h1 ^= (k1 * c2) & 0xFFFFFFFF
        h1 = (rotl32(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    for i in range(aligned, n):
        b = data[i] - 256 if data[i] >= 128 else data[i]
        k1 = rotl32((b * c1) & 0xFFFFFFFF, 15)
        h1 ^= (k1 * c2) & 0xFFFFFFFF
        h1 = (rotl32(h1, 13) * 5 + 0xE6546B64) & 0xFFFFFFFF
    h1 ^= n
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
    h1 ^= h1 >> 16
    h1 &= 0xFFFFFFFF
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def crc32_py(col: Column | str) -> Column:
    """Arrow-batched pandas_udf: ``zlib.crc32`` over the column's UTF-8
    bytes — the Python-side CRC-32, independent of Spark's JVM ``crc32()``
    (java.util.zip.CRC32).  Verification-only (see block comment above)."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _crc(s):
        return s.map(lambda x: zlib.crc32(x.encode("utf-8")) & 0xFFFFFFFF)

    # this module has `from __future__ import annotations`, which would
    # stringify inline hints beyond pandas_udf's inspector — set them here
    _crc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_crc, "bigint")(c)


def murmur3_py(col: Column | str) -> Column:
    """Arrow-batched pandas_udf: pure-Python Spark-semantics Murmur3 over
    the column's UTF-8 bytes, independent of the JVM's codegen'd ``hash()``.
    Verification-only (see block comment above)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mm(s):
        return s.map(lambda x: spark_murmur3_py(x.encode("utf-8"))).astype("int32")

    _mm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    c = F.col(col) if isinstance(col, str) else col
    return pandas_udf(_mm, "int")(c)


_CACHE_HANDLES: "list" = []


def maybe_persist(base, persist: bool = True):
    """Cache an intermediate frame consumed by multiple downstream scans
    (shingle frames, posting lists, centroid tables).  MEMORY_AND_DISK
    spills under pressure; at corpus scale re-deriving the frame per
    consumer costs far more than the cache.

    Lifecycle honesty: Spark's CacheManager holds the cache until an
    explicit unpersist() or spark.catalog.clearCache() — it is NOT
    reclaimed when the plan becomes unreachable, and a LATER query whose
    plan contains a logically-equal subtree will have the cache
    substituted in.  Every frame persisted here is REGISTERED so a
    caller can release them all with :func:`release_cache_handles` once
    the operator's result is consumed (ADVICE r7 #4 — the budgeted
    posting-list cache otherwise accumulates in long-lived drivers);
    `spark.catalog.clearCache()` remains the blunt alternative (the
    curation stream uses it between increments; bench.py and
    plan_audit.py clear between queries so timings and recorded plans
    stay order-independent)."""
    if not persist:
        return base
    from pyspark.storagelevel import StorageLevel

    cached = base.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHE_HANDLES.append(cached)
    return cached


def release_cache_handles() -> int:
    """Unpersist every frame :func:`maybe_persist` registered and drain
    the registry; returns how many were released.  Call after the LAST
    consumer of an operator's result has executed — unpersisting earlier
    just makes downstream scans re-derive the frame (correctness is
    unaffected either way).  Idempotent; double-unpersist is a no-op in
    Spark.

    OWNERSHIP: the registry is driver-global, sized for the
    one-pipeline-per-driver deployments this engine targets — the
    release point is a batch/increment boundary where no registered
    plan is still executing (curate_stream drains per micro-batch).  A
    driver interleaving unrelated persisting operators concurrently
    should rely on `spark.catalog.clearCache()` at its own safe points
    instead."""
    n = 0
    while _CACHE_HANDLES:
        handle = _CACHE_HANDLES.pop()
        # drain even when unpersist throws (stopped SparkContext, a
        # handle whose session died): a failed release must not strand
        # the remaining handles in the registry (ADVICE r8 #3)
        try:
            handle.unpersist()
            n += 1
        except Exception:
            pass
    return n


def clear_all_caches(spark) -> None:
    """`spark.catalog.clearCache()` plus a registry drain — the call the
    clearCache-style drivers (bench.py, plan_audit.py, scale_probe.py)
    should make between queries.  clearCache alone releases the JVM-side
    caches but leaves every handle (and its pinned analyzed-plan object
    graph) in `_CACHE_HANDLES` forever — the driver-heap twin of the
    cache leak the registry was added to fix (ADVICE r8 #3)."""
    release_cache_handles()
    spark.catalog.clearCache()
