"""Stateful streaming operator tests.

Strategy: feed a file-stream source in two phases (the second phase's
timestamps sit far past the first's), run with availableNow triggers, and
assert the flushed first-phase results equal the batch twin on the same
rows — the reference's e2e oracle style (count + content equality), applied
to event-time state.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from singer_spark.streaming import (
    hourly_rollup_stream,
    running_user_stats,
    streaming_sessionize,
)

EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def _write_events(spark, path: str, rows):
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema=EVENTS_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _phase1_rows():
    # two users; user 1 has two sessions (>30 min gap), user 2 has one
    return [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:10:00", 1, "view", 2.0),
        (3, "2024-01-01 11:30:00", 1, "click", 3.0),   # new session (80 min gap)
        (4, "2024-01-01 10:05:00", 2, "click", 5.0),
    ]


def _phase2_rows():
    # far in the future: advances the watermark past all phase-1 sessions
    return [(9, "2024-01-02 12:00:00", 9, "click", 0.5)]


def _run_two_phase(spark, tmp_path, op, query_name: str):
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    _write_events(spark, src, _phase1_rows())
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    out = op(stream)
    q = (out.writeStream.format("memory").queryName(query_name)
         .outputMode("append").option("checkpointLocation", ckpt)
         .start())
    try:
        q.processAllAvailable()
        # phase 2 advances the watermark, flushing phase-1 state
        _write_events(spark, src, _phase2_rows())
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(query_name)


def test_streaming_sessionize_matches_batch_sessions(spark, tmp_path):
    result = _run_two_phase(spark, tmp_path, streaming_sessionize, "sessions_out")
    flushed = result.filter(F.col("user_id").isin(1, 2)).orderBy("user_id", "session_start")
    rows = flushed.collect()
    assert [(r.user_id, r.n_events, r.session_value, r.session_start) for r in rows] == [
        (1, 2, 3.0, "2024-01-01 10:00:00"),
        (1, 1, 3.0, "2024-01-01 11:30:00"),
        (2, 1, 5.0, "2024-01-01 10:05:00"),
    ]


def test_hourly_rollup_stream_matches_batch(spark, tmp_path):
    result = _run_two_phase(spark, tmp_path, hourly_rollup_stream, "rollup_out")
    got = {(r.hour, r.event_type): (r.n, r.sum_value) for r in result.collect()
           if r.hour.startswith("2024-01-01")}
    assert got == {
        ("2024-01-01 10:00:00", "click"): (2, 6.0),
        ("2024-01-01 10:00:00", "view"): (1, 2.0),
        ("2024-01-01 11:00:00", "click"): (1, 3.0),
    }


def test_running_user_stats_accumulates_across_batches(spark, tmp_path):
    src = str(tmp_path / "events_src")
    ckpt = str(tmp_path / "ckpt")
    _write_events(spark, src, _phase1_rows())
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    out = running_user_stats(stream)

    q = (out.writeStream.format("memory").queryName("stats_out")
         .outputMode("update").option("checkpointLocation", ckpt)
         .start())
    try:
        q.processAllAvailable()
        first = {r.user_id: (r.n_events, r.total_value)
                 for r in spark.table("stats_out").collect()}
        assert first[1] == (3, 6.0)
        assert first[2] == (1, 5.0)

        # second batch: user 1 gains one more event; state must carry over
        _write_events(spark, src, [(5, "2024-01-01 12:00:00", 1, "click", 4.0)])
        q.processAllAvailable()
        # update-mode memory sink accumulates emissions; n_events is monotone
        latest = {}
        for r in spark.table("stats_out").collect():
            if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
                latest[r.user_id] = (r.n_events, r.total_value)
        assert latest[1] == (4, 10.0)
    finally:
        q.stop()


def test_streaming_dedup_exact_first_occurrence_wins(spark, tmp_path):
    from singer_spark.streaming import streaming_dedup_exact

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = "doc_id bigint, ts timestamp, value string"

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1) \
            .write.mode("append").parquet(src)

    # batch 1: duplicate inside the batch; batch 2: cross-batch duplicate
    # within the watermark horizon + one new doc
    write([(1, "2024-01-01 10:00:00", "same text"),
           (2, "2024-01-01 10:01:00", "same text"),
           (3, "2024-01-01 10:02:00", "other text")])
    stream = spark.readStream.schema(schema).parquet(src)
    q = (streaming_dedup_exact(stream, text_col="value", watermark="1 hour")
         .writeStream.format("memory").queryName("dd_out")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        write([(4, "2024-01-01 10:10:00", "same text"),
               (5, "2024-01-01 10:11:00", "brand new")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("dd_out").collect()
    delivered = sorted((r.doc_id, r.value) for r in rows)
    # doc 2 (in-batch dup) and doc 4 (cross-batch dup in state) suppressed
    assert delivered == [(1, "same text"), (3, "other text"), (5, "brand new")]


@pytest.mark.soak
def test_streaming_dedup_ttl_suppresses_then_expires(spark, tmp_path):
    """transformWithState TTL dedup: replayed payloads are suppressed across
    batches while the TTL window holds — even with OLDER event timestamps,
    which an event-time watermark dedup would admit — and pass again once
    processing-time TTL expires the digest state."""
    import time

    from singer_spark.streaming import streaming_dedup_ttl

    src = str(tmp_path / "ttl_src")
    ckpt = str(tmp_path / "ttl_ckpt")
    schema = "doc_id bigint, ts timestamp, value string"

    def write(rows):
        pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1) \
            .write.mode("append").parquet(src)

    write([(1, "2024-01-01 10:00:00", "same text"),
           (2, "2024-01-01 10:01:00", "same text"),   # in-batch dup
           (3, "2024-01-01 10:02:00", "other text")])
    stream = spark.readStream.schema(schema).parquet(src)
    q = (streaming_dedup_ttl(stream, text_col="value", ttl_minutes=8 / 60)
         .writeStream.format("memory").queryName("ttl_out")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # replay with an EARLIER event time — inside the 8 s TTL.  An
        # event-time-watermark dedup would admit this row (its timestamp is
        # far behind the watermark); the processing-time TTL suppresses it.
        write([(4, "2023-06-01 00:00:00", "same text")])
        q.processAllAvailable()
        time.sleep(20)  # wall clock passes first-sighting + TTL + margin
        # the processing-time watermark only advances with a data batch —
        # this filler batch moves it past the digests' expiry
        write([(6, "2023-06-03 00:00:00", "watermark filler")])
        q.processAllAvailable()
        write([(5, "2023-06-02 00:00:00", "same text")])
        q.processAllAvailable()
    finally:
        q.stop()
    delivered = sorted((r.doc_id, r.value) for r in spark.table("ttl_out").collect())
    # 2 (in-batch dup) and 4 (replay inside TTL) suppressed; 5 re-admitted
    assert delivered == [(1, "same text"), (3, "other text"),
                         (5, "same text"), (6, "watermark filler")]


def test_streaming_incremental_neardup_accumulates_state(spark, tmp_path):
    """The daily-increment near-dup pattern under the streaming engine:
    each micro-batch runs `minhash_lsh_incremental` against the parquet
    signature table via foreachBatch and appends its survivors' signatures
    — content near-duplicated across BATCHES is dropped without ever
    re-scanning history (state is 8 ints per retained doc)."""
    from singer_spark.operators.dedup import minhash_lsh_incremental

    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "nd_ckpt")
    state = str(tmp_path / "sig_state")
    schema = "doc_id bigint, text string"
    base_text = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                 "lam mu nu xi omicron pi rho sigma tau upsilon")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    def on_batch(batch_df, epoch_id):
        import os

        if os.path.exists(state):
            seen = batch_df.sparkSession.read.parquet(state)
        else:
            seen = batch_df.sparkSession.createDataFrame(
                [], "id bigint, h0 bigint, h1 bigint, h2 bigint, h3 bigint, "
                    "h4 bigint, h5 bigint, h6 bigint, h7 bigint")
        surv = minhash_lsh_incremental(batch_df, seen, threshold=0.5)
        surv.write.mode("append").parquet(state)

    def run_cycle():
        q = (spark.readStream.schema(schema).parquet(src)
             .writeStream.foreachBatch(on_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()

    write([(1, base_text), (2, "totally different words right here now ok")])
    run_cycle()
    # batch 2: near-dup of batch-1 content + one genuinely new doc
    write([(10, base_text + " extra"), (11, "yet another brand new document")])
    run_cycle()

    kept = {r.doc_id for r in spark.read.parquet(state).collect()}
    assert kept == {1, 2, 11}  # 10 dropped against accumulated state


CONV_SCHEMA = "conv_id bigint, r_ts timestamp, user_id bigint, amount double"


def _write_convs(spark, path: str, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "r_ts", "user_id", "amount"])
    pdf["r_ts"] = pd.to_datetime(pdf["r_ts"])
    spark.createDataFrame(pdf, schema=CONV_SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Attribution: conversions join the impression of the same user within
    30 minutes.  Streamed result == batch twin on the same rows."""
    from singer_spark.streaming import streaming_interval_join

    impressions = [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:40:00", 1, "view", 0.0),   # second window, user 1
        (3, "2024-01-01 10:00:00", 2, "view", 0.0),
    ]
    convs = [
        (100, "2024-01-01 10:20:00", 1, 9.99),   # within imp 1's window only
        (101, "2024-01-01 10:55:00", 1, 5.00),   # within imp 2's window only
        (102, "2024-01-01 11:30:00", 2, 1.00),   # outside any window → dropped
    ]
    imp_src = str(tmp_path / "imps")
    conv_src = str(tmp_path / "convs")
    _write_events(spark, imp_src, impressions)
    _write_convs(spark, conv_src, convs)

    out = streaming_interval_join(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(imp_src),
        spark.readStream.schema(CONV_SCHEMA).parquet(conv_src),
        max_delay="30 minutes",
    ).select("event_id", "conv_id", "amount")
    q = (out.writeStream.format("memory").queryName("attrib")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.event_id, r.conv_id, r.amount)
           for r in spark.table("attrib").collect()}

    # batch twin: identical join condition on static frames
    li = spark.read.parquet(imp_src)
    ri = spark.read.parquet(conv_src)
    cond = ((li.user_id == ri.user_id) & (ri.r_ts >= li.ts)
            & (ri.r_ts <= li.ts + F.expr("INTERVAL 30 MINUTES")))
    want = {(r.event_id, r.conv_id, r.amount)
            for r in li.join(ri, cond).select("event_id", "conv_id", "amount").collect()}
    assert got == want == {(1, 100, 9.99), (2, 101, 5.00)}


def test_streaming_interval_join_bounds_state(spark, tmp_path):
    """The join keeps both watermarks — the precondition for state eviction
    (an unbounded stream-stream join would OOM the state store)."""
    from singer_spark.streaming import streaming_interval_join

    imp_src = str(tmp_path / "imps")
    conv_src = str(tmp_path / "convs")
    _write_events(spark, imp_src, _phase1_rows())
    _write_convs(spark, conv_src, [(100, "2024-01-01 10:20:00", 1, 1.0)])
    out = streaming_interval_join(
        spark.readStream.schema(EVENTS_SCHEMA).parquet(imp_src),
        spark.readStream.schema(CONV_SCHEMA).parquet(conv_src))
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("EventTimeWatermark") == 2
    with pytest.raises(ValueError):
        streaming_interval_join(
            spark.readStream.schema(EVENTS_SCHEMA).parquet(imp_src),
            spark.readStream.schema(CONV_SCHEMA).parquet(conv_src),
            how="fullOuter")


@pytest.mark.soak
def test_streaming_heavy_hitters_state_bounds(spark, tmp_path):
    import os
    from collections import Counter

    from singer_spark.streaming.stateful import streaming_heavy_hitters

    src = str(tmp_path / "hh_src")
    state = str(tmp_path / "hh_state")
    ckpt = str(tmp_path / "hh_ckpt")
    os.makedirs(src, exist_ok=True)

    # skewed stream: a few heavy items + a long tail, split over 3 batches
    batches, truth = [], Counter()
    for b in range(3):
        items = (["alpha"] * 120 + ["beta"] * 60 + ["gamma"] * 30
                 + [f"tail{b}_{i}" for i in range(150)])
        batches.append(items)
        truth.update(items)
    n_total = sum(truth.values())
    cap = 16

    stream = spark.readStream.schema("item string").parquet(src)
    q = streaming_heavy_hitters(stream, state, checkpoint=ckpt,
                                item_col="item", capacity=cap).start()
    try:
        for b, items in enumerate(batches):
            stage = str(tmp_path / f"hh_stage{b}")
            spark.createDataFrame([(i,) for i in items], "item string") \
                 .coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
            os.rename(os.path.join(stage, part),
                      os.path.join(src, f"chunk{b}.parquet"))
            q.processAllAvailable()
    finally:
        q.stop()

    from singer_spark.streaming.stateful import read_fold_state

    got = {r.item: r.cnt
           for r in read_fold_state(spark, state).collect()}
    # state stays summary-sized
    assert len(got) <= cap
    # every item above the error threshold is guaranteed present
    thresh = n_total / cap
    for item, c in truth.items():
        if c > thresh:
            assert item in got, f"{item} (true {c}) missing"
    # counts are lower bounds within the mergeable-summaries error
    for item, c in got.items():
        assert c <= truth[item]
        assert c >= truth[item] - thresh


def test_streaming_heavy_hitters_restart_invariance(spark, tmp_path):
    """A fresh availableNow query per chunk (kill + restart between every
    micro-batch) folds the same state as ONE uninterrupted query reading a
    chunk per batch (maxFilesPerTrigger=1 on the reader), and that state
    keeps the Misra-Gries bounds against the true counts."""
    import os
    from collections import Counter

    from singer_spark.streaming.stateful import read_fold_state, streaming_heavy_hitters

    # the warm items make each fold prune, so any other batching of the
    # three chunks (all in one batch) folds a different state
    cap = 8
    chunks = [["alpha"] * 60 + ["beta"] * 30 + [f"hot{b}"] * 20
              + [f"warm{b}_{k}" for k in range(4) for _ in range(6)]
              + [f"tail{b}_{i}" for i in range(40)] for b in range(3)]

    def deliver(tag: str, b: int) -> None:
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src, exist_ok=True)
        stage = str(tmp_path / f"stage_{tag}{b}")
        spark.createDataFrame([(i,) for i in chunks[b]], "item string") \
             .coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"chunk{b}.parquet"))

    def run(tag: str, reader) -> dict:
        q = (streaming_heavy_hitters(
            reader.schema("item string").parquet(str(tmp_path / f"src_{tag}")),
            str(tmp_path / f"state_{tag}"), checkpoint=str(tmp_path / f"ck_{tag}"),
            item_col="item", capacity=cap)
            .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        return {r.item: r.cnt for r in
                read_fold_state(spark, str(tmp_path / f"state_{tag}")).collect()}

    for b in range(len(chunks)):
        deliver("churn", b)
        churned = run("churn", spark.readStream)
        deliver("ref", b)
    ref = run("ref", spark.readStream.option("maxFilesPerTrigger", 1))
    assert churned == ref
    truth = Counter(i for c in chunks for i in c)
    thresh = sum(truth.values()) / cap
    assert len(churned) <= cap
    assert all(truth[i] >= c >= truth[i] - thresh for i, c in churned.items())
    assert all(i in churned for i, c in truth.items() if c > thresh)


@pytest.mark.soak
def test_streaming_heavy_hitters_stale_marker_new_run(spark, tmp_path):
    """Recreating the checkpoint restarts epoch ids at 0; a pointer row
    left by the previous run must not skip the new run's first batch
    (ADVICE r4, re-pinned on the r12 pointer protocol: the row is
    stamped (run_id, epoch), and a mismatched run id means 'the prior
    run's final state' — fold on top, never skip)."""
    import os

    from singer_spark.streaming.stateful import (
        _fold_pointer,
        read_fold_state,
        streaming_heavy_hitters,
    )

    state = str(tmp_path / "hh2_state")

    def run_once(tag: str, items: list[str]):
        src = str(tmp_path / f"hh2_src_{tag}")
        ckpt = str(tmp_path / f"hh2_ckpt_{tag}")
        os.makedirs(src, exist_ok=True)
        stage = str(tmp_path / f"hh2_stage_{tag}")
        spark.createDataFrame([(i,) for i in items], "item string") \
             .coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(os.path.join(stage, part),
                  os.path.join(src, "chunk0.parquet"))
        stream = spark.readStream.schema("item string").parquet(src)
        q = streaming_heavy_hitters(stream, state, checkpoint=ckpt,
                                    item_col="item", capacity=8).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once("a", ["alpha"] * 30 + ["beta"] * 10)
    v_a, meta_a = _fold_pointer(spark, state)
    assert v_a == 0 and int(meta_a["epoch"]) == 0  # run A's epoch 0 row
    # run B: NEW source + NEW checkpoint (fresh query id), epoch 0 again.
    # An un-stamped guard would match (0 == 0) and silently skip.
    run_once("b", ["gamma"] * 25)

    v_b, meta_b = _fold_pointer(spark, state)
    assert v_b == 1 and meta_b["run_id"] != meta_a["run_id"]
    got = {r.item: r.cnt for r in read_fold_state(spark, state).collect()}
    assert "gamma" in got and got["gamma"] >= 25 - (65 / 8)
    assert "alpha" in got  # prior state survived the new run


def test_streaming_debounce_matches_batch_across_batches(spark, tmp_path):
    """Events delivered in ts order over 3 micro-batches through
    streaming_debounce must equal the batch debounce_events over the
    union — the last-seen-ts state survives the batch boundaries (a
    burst straddling two micro-batches still collapses)."""
    import os

    from singer_spark.queries import debounce_events
    from singer_spark.streaming.stateful import streaming_debounce

    # per-key ts-ordered chunks; bursts straddle the chunk boundaries
    def ev(i, minute, user, typ):
        return (i, f"2024-01-01 00:{minute:02d}:00", user, typ)

    chunks = [
        [ev(1, 0, 7, "click"), ev(2, 4, 7, "click")],       # burst start
        [ev(3, 8, 7, "click"),                              # continues burst
         ev(4, 20, 7, "click"),                             # new burst
         ev(5, 0, 8, "click")],
        [ev(6, 24, 7, "click"),                             # within 300s of 4
         ev(7, 40, 7, "click"),                             # new burst
         ev(8, 1, 8, "view")],                              # other key
    ]
    schema = "event_id bigint, ts_s string, user_id bigint, event_type string"

    src = str(tmp_path / "db_src")
    os.makedirs(src, exist_ok=True)
    stream = (spark.readStream.schema(schema).parquet(src)
              .selectExpr("event_id", "cast(ts_s as timestamp) AS ts",
                          "user_id", "event_type"))
    out = str(tmp_path / "db_out")
    q = (streaming_debounce(stream, interval_seconds=300)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "db_ckpt"))
         .trigger(availableNow=True))
    rows_all = []
    for b, rows in enumerate(chunks):
        rows_all += rows
        stage = str(tmp_path / f"db_stage{b}")
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"c{b}.parquet"))
        query = q.start()
        query.awaitTermination()  # fresh query per chunk = restart churn
    got = {r.event_id for r in spark.read.parquet(out).collect()}

    batch_ev = (spark.createDataFrame(rows_all, schema)
                .selectExpr("event_id", "cast(ts_s as timestamp) AS ts",
                            "user_id", "event_type"))
    want = {r.event_id for r in
            debounce_events(batch_ev, interval_seconds=300).collect()}
    assert got == want
    assert got == {1, 4, 5, 7, 8}  # burst 1-2-3 collapses across batches


def test_streaming_debounce_survives_null_timestamp(spark, tmp_path):
    """A NULL-ts event must not kill the always-on query: it is kept (no
    gap evidence) and resets the cadence — the batch lag semantics."""
    import os

    from singer_spark.streaming.stateful import streaming_debounce

    schema = "event_id bigint, ts_s string, user_id bigint, event_type string"
    rows = [(1, "2024-01-01 00:00:00", 7, "click"),
            (2, None, 7, "click"),                   # NULL ts: kept
            (3, "2024-01-01 00:10:00", 7, "click")]  # >300s after 1: kept
    src = str(tmp_path / "nb_src")
    os.makedirs(src, exist_ok=True)
    stage = str(tmp_path / "nb_stage")
    spark.createDataFrame(rows, schema).coalesce(1) \
         .write.mode("overwrite").parquet(stage)
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "c0.parquet"))
    out = str(tmp_path / "nb_out")
    stream = (spark.readStream.schema(schema).parquet(src)
              .selectExpr("event_id", "cast(ts_s as timestamp) AS ts",
                          "user_id", "event_type"))
    q = (streaming_debounce(stream, interval_seconds=300)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "nb_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r.event_id: r.ts_us for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] is None
    # and it matches the batch twin on the same rows
    from singer_spark.queries import debounce_events

    batch_ev = (spark.createDataFrame(rows, schema)
                .selectExpr("event_id", "cast(ts_s as timestamp) AS ts",
                            "user_id", "event_type"))
    want = {r.event_id for r in
            debounce_events(batch_ev, interval_seconds=300).collect()}
    assert set(got) == want


def test_streaming_debounce_null_ts_does_not_reset_cross_batch_state(spark, tmp_path):
    """A corrupt NULL-ts record in a LATER micro-batch must not wipe the
    cadence state: the burst event following it still measures against
    the last timestamped event from the previous batch (the batch twin's
    global nulls-first sort means a NULL can never interpose between two
    timestamped events)."""
    import os

    from singer_spark.queries import debounce_events
    from singer_spark.streaming.stateful import streaming_debounce

    schema = "event_id bigint, ts_s string, user_id bigint, event_type string"
    chunks = [
        [(1, "2024-01-01 00:00:00", 7, "click")],
        [(2, None, 7, "click"),                    # corrupt record: kept
         (3, "2024-01-01 00:01:40", 7, "click")],  # 100s after 1: DROPPED
    ]
    src = str(tmp_path / "nr_src")
    os.makedirs(src, exist_ok=True)
    out = str(tmp_path / "nr_out")
    stream = (spark.readStream.schema(schema).parquet(src)
              .selectExpr("event_id", "cast(ts_s as timestamp) AS ts",
                          "user_id", "event_type"))
    w = (streaming_debounce(stream, interval_seconds=300)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "nr_ckpt"))
         .trigger(availableNow=True))
    rows_all = []
    for b, rows in enumerate(chunks):
        rows_all += rows
        stage = str(tmp_path / f"nr_stage{b}")
        spark.createDataFrame(rows, schema).coalesce(1) \
             .write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(os.path.join(stage, part), os.path.join(src, f"c{b}.parquet"))
        q = w.start()
        q.awaitTermination()
    got = {r.event_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2}
    batch_ev = (spark.createDataFrame(rows_all, schema)
                .selectExpr("event_id", "cast(ts_s as timestamp) AS ts",
                            "user_id", "event_type"))
    want = {r.event_id for r in
            debounce_events(batch_ev, interval_seconds=300).collect()}
    assert got == want


@pytest.mark.soak
def test_streaming_source_kl_detects_drift_with_bounded_state(spark, tmp_path):
    """Two sources stream alike at first, then source B floods a template:
    the state stays <= n_sources*(capacity+1) rows, the per-source totals
    are exact, and B's KL estimate rises strictly above A's (it starts at
    A's level by symmetry)."""
    import os

    from singer_spark.streaming.stateful import (
        source_kl_from_state,
        streaming_source_kl,
    )

    src = str(tmp_path / "kl_src")
    state = str(tmp_path / "kl_state")
    ckpt = str(tmp_path / "kl_ckpt")
    os.makedirs(src, exist_ok=True)

    # THREE sources so the pooled corpus stays anchored by the two stable
    # ones when B drifts — KL-vs-pool is a mixture screen, and with a 50/50
    # two-source split a drifting source moves the pool as much as itself
    shared = "alpha beta gamma delta epsilon"
    stable = [("A", shared)] * 10 + [("C", shared)] * 10
    batches = [
        stable + [("B", shared)] * 10,                        # symmetric
        stable + [("B", shared)] * 10,
        stable + [("B", "spam spam buy now")] * 10            # B drifts
        + [(None, "orphan feed")],                            # NULL source
    ]
    cap = 16

    stream = spark.readStream.schema("source string, value string").parquet(src)
    q = streaming_source_kl(stream, state, checkpoint=ckpt,
                            capacity=cap).start()
    kls = []
    try:
        for b, rows in enumerate(batches):
            stage = str(tmp_path / f"kl_stage{b}")
            spark.createDataFrame(rows, "source string, value string") \
                 .coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
            os.rename(os.path.join(stage, part),
                      os.path.join(src, f"chunk{b}.parquet"))
            q.processAllAvailable()
            kls.append({r.source: (r.n_tokens, r.kl_est)
                        for r in source_kl_from_state(spark, state).collect()})
    finally:
        q.stop()

    from singer_spark.streaming.stateful import read_fold_state

    st = read_fold_state(spark, state).collect()
    assert len(st) <= 4 * (cap + 1)
    totals = {r.source: r.cnt for r in st if r.token is None}
    # exact totals: 30 docs x 5 tokens for A/C; B: 20x5 + 10x4; the
    # sourceless feed lands under the sentinel, never a NULL join key
    assert totals == {"A": 150, "B": 140, "C": 150, "<null>": 2}

    sym, drifted = kls[1], kls[2]
    assert abs(sym["A"][1] - sym["B"][1]) < 1e-9      # symmetric start
    # identical distributions: the coarsened KL is ~0, not an artifact of
    # smoothing-bin mismatch (p and q each sum to 1 on the partition)
    assert sym["B"][1] < 0.01
    assert drifted["B"][1] > drifted["A"][1]          # B stands out...
    assert drifted["B"][1] > drifted["C"][1]
    assert drifted["B"][1] > sym["B"][1] + 0.05       # ...and ROSE sharply
    assert "<null>" in drifted and drifted["<null>"][0] == 2


@pytest.mark.soak
def test_fold_pointer_protocol_guards_and_crash_windows(spark, tmp_path):
    """r12: the versioned-pointer fold protocol, driven batch by batch
    with a pinned run id — retry of a folded epoch skips (at-most-once),
    a crash between the snapshot write and the pointer append serves the
    OLD version and converges on retry, superseded versions GC to
    keep_versions, and a pre-r12 bare-dir state (with its legacy
    run:epoch marker) migrates in place without double-folding."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from singer_spark.streaming.stateful import (
        _fold_on_batch,
        _fold_pointer,
        read_fold_state,
    )

    state = str(tmp_path / "fold_state")

    def fold(sp, batch_df, prior):
        cur = batch_df.groupBy("k").agg(F.sum("n").alias("n"))
        if prior is not None:
            cur = cur.unionByName(prior).groupBy("k") \
                .agg(F.sum("n").alias("n"))
        return cur

    on_batch = _fold_on_batch(state, str(tmp_path / "ck"), fold,
                              keep_versions=2, run_id_fn=lambda: "runA")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, n bigint")

    def snap():
        return {r.k: r.n for r in read_fold_state(spark, state).collect()}

    on_batch(batch([("a", 5)]), 0)
    assert snap() == {"a": 5}
    # retry of the SAME (run, epoch): must skip, not double-count
    on_batch(batch([("a", 5)]), 0)
    assert snap() == {"a": 5}
    on_batch(batch([("a", 1), ("b", 2)]), 1)
    assert snap() == {"a": 6, "b": 2}

    # crash window: snapshot v2 written, pointer append "crashed" —
    # simulate by writing the would-be snapshot without a pointer row
    batch([("junk", 99)]).coalesce(1).write.mode("overwrite") \
        .parquet(f"{state}_v2")
    cur, meta = _fold_pointer(spark, state)
    assert cur == 1                      # reads still resolve v1
    assert snap() == {"a": 6, "b": 2}    # the half-published v2 is invisible
    on_batch(batch([("b", 3)]), 2)       # the retry overwrites v2
    assert snap() == {"a": 6, "b": 5}
    cur, meta = _fold_pointer(spark, state)
    assert cur == 2 and int(meta["epoch"]) == 2

    # GC: keep_versions=2 — after v2+ the earliest snapshots are gone,
    # and the pointer listing stays bounded
    on_batch(batch([("c", 1)]), 3)
    assert not os.path.isdir(f"{state}_v0")
    assert not os.path.isdir(f"{state}_v1")
    assert os.path.isdir(f"{state}_v3")
    assert snap() == {"a": 6, "b": 5, "c": 1}

    # epoch restart under a NEW run id: (runB, epoch 0) must fold
    on_b = _fold_on_batch(state, str(tmp_path / "ck2"), fold,
                          keep_versions=2, run_id_fn=lambda: "runB")
    on_b(batch([("c", 10)]), 0)
    assert snap() == {"a": 6, "b": 5, "c": 11}

    # half-written NEWER pointer partition (crash mid-append): only a
    # _temporary stub — the newest COMMITTED row must still win
    cur_now, _ = _fold_pointer(spark, state)
    os.makedirs(f"{state}_ptr/v={cur_now + 1}/_temporary", exist_ok=True)
    cur2, meta2 = _fold_pointer(spark, state)
    assert cur2 == cur_now
    shutil.rmtree(f"{state}_ptr/v={cur_now + 1}")

    # first-EVER pointer write crashed: ptr dir exists with no committed
    # partition — resolves to never-written, and the retry recovers
    fresh = str(tmp_path / "fresh_state")
    os.makedirs(f"{fresh}_ptr/v=0/_temporary", exist_ok=True)
    assert _fold_pointer(spark, fresh) == (None, None)
    on_f = _fold_on_batch(fresh, str(tmp_path / "ck4"),
                          fold, run_id_fn=lambda: "runA")
    on_f(batch([("z", 4)]), 0)
    assert {r.k: r.n for r in
            read_fold_state(spark, fresh).collect()} == {"z": 4}
    v_f, _ = _fold_pointer(spark, fresh)
    assert v_f == 0

    # legacy (pre-r12 bare dir + run:epoch marker): the marker still
    # guards a same-epoch retry of the upgrade's first fold, a different
    # epoch folds on top of the legacy state and retires the old layout
    legacy = str(tmp_path / "legacy_state")
    batch([("x", 7)]).coalesce(1).write.parquet(legacy)
    with open(legacy + "_epoch", "w") as f:
        f.write("runA:4")
    on_l = _fold_on_batch(legacy, str(tmp_path / "ck3"), fold,
                          run_id_fn=lambda: "runA")
    on_l(batch([("x", 1)]), 4)     # marker says epoch 4 already folded
    assert read_fold_state(spark, legacy) is not None
    assert {r.k: r.n for r in
            read_fold_state(spark, legacy).collect()} == {"x": 7}
    on_l(batch([("x", 1)]), 5)     # genuine next batch: migrate + fold
    assert {r.k: r.n for r in
            read_fold_state(spark, legacy).collect()} == {"x": 8}
    assert not os.path.isdir(legacy)            # bare dir retired
    assert not os.path.exists(legacy + "_epoch")
    shutil.rmtree(str(tmp_path), ignore_errors=True)


@pytest.mark.soak
def test_fold_gc_sweeps_leaks_and_retires_stale_legacy(spark, tmp_path):
    """r13 (ADVICE r12 #2/#3): a crash between the pointer append and
    the GC used to leak that batch's superseded snapshot forever (the
    retry hits the guard and returns before GC) — the sweep now targets
    EVERY version below the retention floor, including on the
    retry-guard path.  Likewise a crash between the pointer append and
    the legacy deletes left the pre-r12 bare dir forever — it is now
    retired opportunistically whenever the pointer rules."""
    import os

    from pyspark.sql import functions as F

    from singer_spark.streaming.stateful import (
        _fold_on_batch,
        read_fold_state,
    )

    state = str(tmp_path / "fold_state")

    def fold(sp, batch_df, prior):
        cur = batch_df.groupBy("k").agg(F.sum("n").alias("n"))
        if prior is not None:
            cur = cur.unionByName(prior).groupBy("k") \
                .agg(F.sum("n").alias("n"))
        return cur

    on_batch = _fold_on_batch(state, str(tmp_path / "ck"), fold,
                              keep_versions=1, run_id_fn=lambda: "runA")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, n bigint")

    for e in range(3):
        on_batch(batch([("a", 1)]), e)
    assert {r.k: r.n for r in
            read_fold_state(spark, state).collect()} == {"a": 3}
    assert not os.path.isdir(f"{state}_v1")

    # simulate the leak: a crash after epoch 2's pointer append but
    # before its GC left v0/v1 artifacts behind; the retry of epoch 2
    # hits the guard — it must STILL sweep them (not fold again)
    batch([("junk", 9)]).coalesce(1).write.parquet(f"{state}_v0")
    spark.createDataFrame([("runA", 0)], "run_id string, epoch bigint") \
        .coalesce(1).write.parquet(f"{state}_ptr/v=0")
    on_batch(batch([("a", 1)]), 2)  # retry: guard path
    assert {r.k: r.n for r in
            read_fold_state(spark, state).collect()} == {"a": 3}  # no refold
    assert not os.path.isdir(f"{state}_v0")          # leak swept
    assert not os.path.isdir(f"{state}_ptr/v=0")

    # stale legacy artifacts with the pointer already ruling (crash
    # after the migrating batch's pointer append, before its deletes):
    # the next batch retires them even though it never takes the
    # legacy branch
    batch([("x", 7)]).coalesce(1).write.parquet(state)
    with open(state + "_epoch", "w") as f:
        f.write("runA:0")
    on_batch(batch([("a", 2)]), 3)
    assert {r.k: r.n for r in
            read_fold_state(spark, state).collect()} == {"a": 5}
    assert not os.path.isdir(state)
    assert not os.path.exists(state + "_epoch")


def test_state_read_retry_classifier(spark, tmp_path):
    """Permanent AnalysisExceptions (schema mismatch, bad options) must
    fail FAST; only the swap-race signatures (path missing/just-emptied,
    part-file moved) retry (ADVICE r8 #4)."""
    import time as _time

    from pyspark.errors import AnalysisException

    from singer_spark.streaming.stateful import (
        _state_read_transient,
        source_kl_from_state,
    )

    # race signatures retry
    assert _state_read_transient(OSError("stale listing"))
    assert _state_read_transient(
        RuntimeError("java.io.FileNotFoundException: part-0001 moved"))
    try:
        spark.read.parquet(str(tmp_path / "never_created")).collect()
        raise AssertionError("expected PATH_NOT_FOUND")
    except AnalysisException as exc:
        assert _state_read_transient(exc)

    # permanent AnalysisExceptions fail fast: a real column-resolution
    # error from the session (never a race signature)
    try:
        spark.range(1).select("no_such_column").collect()
        raise AssertionError("expected resolution failure")
    except AnalysisException as exc:
        assert not _state_read_transient(exc)
    assert not _state_read_transient(ValueError("not spark at all"))

    # end-to-end: a permanent failure returns well under the ~1.2 s
    # six-attempt budget (the dir HOLDS data but of the wrong shape,
    # raising the moment the report selects the fold's columns)
    bad = str(tmp_path / "bad_state")
    spark.range(3).write.parquet(bad)
    t0 = _time.monotonic()
    try:
        source_kl_from_state(spark, bad).collect()
        raise AssertionError("expected failure on wrong-schema state")
    except Exception:
        pass
    assert _time.monotonic() - t0 < 5.0
