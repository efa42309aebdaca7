"""Curation pipeline composition tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_curate_matches_registry_pipeline(spark, sf_dir):
    """curate() with the default config must keep exactly the same doc ids
    as the oracle-checked corpus_pipeline_full registry query."""
    import __spark_entry__ as entry_mod
    from singer_spark.curation import CurationConfig, curate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    out = curate(docs, CurationConfig(), benchmark=bench)
    got = {r.doc_id for r in out.filter(F.col("split") == "train").collect()}
    want = {r.doc_id for r in
            entry_mod.queries()["corpus_pipeline_full"](spark, sf_dir).collect()}
    assert got == want


def test_curate_dedup_backends_and_publish(spark, sf_dir, tmp_path):
    from singer_spark.curation import CurationConfig, curate, curate_and_publish

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = CurationConfig(lang=None, min_quality=None, repetition_screen=False,
                          split=False)
    n_none = curate(docs, base).count()
    assert n_none == docs.count()
    n_min = curate(docs, CurationConfig(lang=None, min_quality=None,
                                        repetition_screen=False, split=False,
                                        dedup="minhash")).count()
    n_sem = curate(docs, CurationConfig(lang=None, min_quality=None,
                                        repetition_screen=False, split=False,
                                        dedup="semantic")).count()
    assert n_min < n_none and n_sem < n_none  # both drop near-dups

    out = str(tmp_path / "curated")
    n_pub = curate_and_publish(docs, out, CurationConfig(), partition_by=["split"])
    back = spark.read.parquet(out)
    assert n_pub == back.count() > 0
    assert set(back.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"}


def test_curate_stream_gates_and_cross_batch_dedup(spark, tmp_path):
    """Streaming curation: quality-gated docs flow through, junk is cut,
    and a batch-2 near-dup of batch-1 content drops against the
    accumulated signature state."""
    from singer_spark.curation import CurationConfig, curate_stream

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    schema = "doc_id bigint, text string"
    good = ("the quick brown fox jumps over the lazy dog and then walks to "
            "the river bank to drink some water in the morning sun today")

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(src)

    cfg = CurationConfig(lang="en", min_quality=0.3, repetition_screen=True,
                         dedup="none", split=False)

    def run_cycle():
        q = (curate_stream(spark.readStream.schema(schema).parquet(src),
                           ckpt, state, out, cfg)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()

    write([(1, good),
           (2, "spam spam spam spam spam spam spam spam spam spam")])  # repetitive
    run_cycle()
    write([(10, good + " extra"),            # near-dup of doc 1 → dropped
           (11, "a completely different well formed english sentence about "
                "the weather and the state of the garden this afternoon")])
    run_cycle()

    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 11]


def test_curate_stream_minhash_threshold_from_config(spark, tmp_path):
    """The stream's minhash backend reads `cfg.minhash_threshold`, as
    batch curate(dedup="minhash") does: a pair at Jaccard 0.39 is one
    doc under threshold 0.3 and two under 0.5, on both paths."""
    from singer_spark.curation import CurationConfig, curate, curate_stream

    schema = "doc_id bigint, text string"
    head = ("the quick brown fox jumps over the lazy dog and then walks "
            "to the river bank")
    rows = [(1, head + " to drink some water in the morning sun today"),
            (2, head + " sits down under an old oak tree to rest for hours")]
    docs = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    docs.coalesce(1).write.parquet(src)
    published = {}
    for t in (0.3, 0.5):
        cfg = CurationConfig(lang=None, min_quality=None,
                             repetition_screen=False, dedup="minhash",
                             minhash_threshold=t, split=False, keep_cols=())
        batch = sorted(r.doc_id for r in curate(docs, cfg).collect())
        out = str(tmp_path / f"out_{t}")
        q = (curate_stream(spark.readStream.schema(schema).parquet(src),
                           str(tmp_path / f"ckpt_{t}"),
                           str(tmp_path / f"state_{t}"), out, cfg)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        published[t] = sorted(r.doc_id for r in spark.read.parquet(out)
                              .collect())
        assert published[t] == batch, t
    assert published == {0.3: [1], 0.5: [1, 2]}


@pytest.mark.soak
def test_curate_stream_spans_backend_rewrites_and_restart_invariance(
        spark, tmp_path):
    """r9 task #4: the `spans` streaming backend cuts duplicated runs
    against the ACCUMULATED span_grams state instead of dropping whole
    docs — a batch-2 doc repeating batch-1 boilerplate is published with
    the boilerplate cut and its unique tail intact; an exact re-send is
    cut to nothing and dropped.  And the streamed (two-cycle) output
    must equal the uninterrupted single-cycle run over the same docs —
    the restart-invariance discipline."""
    from singer_spark.curation import CurationConfig, curate_stream

    schema = "doc_id bigint, text string"
    boiler = " ".join(f"navchrome{j}" for j in range(24))  # 24-token run
    uniq1 = ("the quick brown fox jumps over the lazy dog near the river "
             "bank in the warm morning sun with a gentle breeze blowing")
    uniq2 = ("a completely different well formed english sentence about "
             "the weather and the state of the garden this afternoon")
    batch1 = [(1, uniq1 + " " + boiler)]
    batch2 = [(10, boiler + " " + uniq2),    # boilerplate cut, tail kept
              (11, uniq1 + " " + boiler)]    # exact re-send: cut to nothing

    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, dedup="none", split=False,
                         span_k=8, span_min_run=16)

    def run(tag, batches):
        src = str(tmp_path / f"src_{tag}")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("append").parquet(src)
            q = (curate_stream(
                spark.readStream.schema(schema).parquet(src),
                str(tmp_path / f"ckpt_{tag}"), str(tmp_path / f"state_{tag}"),
                str(tmp_path / f"out_{tag}"), cfg, stream_dedup="spans")
                .trigger(availableNow=True).start())
            q.awaitTermination(120)
            q.stop()
        return {r.doc_id: r.text for r in
                spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()}

    streamed = run("stream", [batch1, batch2])
    assert set(streamed) == {1, 10}
    assert streamed[1] == uniq1 + " " + boiler  # owner keeps its copy
    assert streamed[10] == uniq2                # boilerplate cut, tail kept
    # 11 (exact re-send of 1's content) cut to nothing and dropped

    solid = run("solid", [batch1 + batch2])     # uninterrupted single batch
    assert streamed == solid


@pytest.mark.soak
def test_span_state_compaction_dedupes_without_changing_output(
        spark, tmp_path):
    """Recurring boilerplate re-appends its digests every batch; the
    periodic compaction must shrink the state to distinct digests while
    the stream's published output stays identical to the
    no-compaction run (the probe is a semi-join — duplicates never
    changed results, only state size)."""
    from singer_spark.curation import (
        CurationConfig,
        compact_span_state,
        curate_stream,
    )

    schema = "doc_id bigint, text string"
    boiler = " ".join(f"chrome{j}" for j in range(20))
    batches = [[(100 * b + i,
                 f"unique{b}x{i} " * 10 + boiler)]
               for b in range(3) for i in range(2)]
    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, dedup="none", split=False,
                         span_k=8, span_min_run=16)

    def run(tag, compact_every):
        src = str(tmp_path / f"src_{tag}")
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("append").parquet(src)
            q = (curate_stream(
                spark.readStream.schema(schema).parquet(src),
                str(tmp_path / f"ckpt_{tag}"), str(tmp_path / f"state_{tag}"),
                str(tmp_path / f"out_{tag}"), cfg, stream_dedup="spans",
                span_compact_every=compact_every)
                .trigger(availableNow=True).start())
            q.awaitTermination(120)
            q.stop()
        out = {(r.doc_id, r.text) for r in
               spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()}
        state_rows = spark.read.parquet(
            str(tmp_path / f"state_{tag}")).count()
        return out, state_rows

    plain, n_plain = run("plain", None)
    compacted, n_compacted = run("compact", 2)  # compacts after batches 2,4,6
    assert compacted == plain                   # output identical
    assert n_compacted < n_plain                # state actually shrank
    # a manual compaction is idempotent and distinct-sized
    n1 = compact_span_state(spark, str(tmp_path / "state_plain"))
    n2 = compact_span_state(spark, str(tmp_path / "state_plain"))
    assert n1 == n2 == spark.read.parquet(
        str(tmp_path / "state_plain")).select("g").distinct().count()
    assert n1 < n_plain


def test_span_compaction_aborts_on_failed_rename(spark, tmp_path,
                                                 monkeypatch):
    """r13 (ADVICE r12 #1): Hadoop rename reports failure by returning
    False — a silently dropped move used to let the old-file delete turn
    the span state into a SUBSET of the distinct digests.  A failed move
    must now abort the compaction with the superset state (and the tmp
    scratch) intact; the next compaction sweeps the scratch and
    converges."""
    import pytest

    import singer_spark.fsutil as fsutil
    from singer_spark.curation import compact_span_state

    state = str(tmp_path / "state")
    for _ in range(3):  # duplicated digests across "batches"
        spark.createDataFrame([(f"g{i}",) for i in range(10)], "g string") \
            .coalesce(1).write.mode("append").parquet(state)
    before = {r.g for r in spark.read.parquet(state).collect()}

    real_rename = fsutil.fs_rename
    monkeypatch.setattr(fsutil, "fs_rename", lambda *a, **k: False)
    with pytest.raises(IOError, match="rename.*failed"):
        compact_span_state(spark, state)
    # superset intact: every digest still present (rows still duplicated)
    assert {r.g for r in spark.read.parquet(state).collect()} == before
    assert spark.read.parquet(state).count() > len(before)

    monkeypatch.setattr(fsutil, "fs_rename", real_rename)
    assert compact_span_state(spark, state) == len(before)
    assert spark.read.parquet(state).count() == len(before)


def test_curate_stream_rejects_pre_r12_flat_metrics(spark, tmp_path):
    """r13 (ADVICE r12 #4): pointing metrics_path at a pre-r12 table
    (flat part files, epoch_id as a data column) must fail FAST on the
    first batch — mixing flat files with epoch_id= hive partitions in
    one path breaks partition discovery for every reader."""
    from singer_spark.curation import CurationConfig, curate_stream

    schema = "doc_id bigint, text string"
    legacy = str(tmp_path / "metrics")
    spark.createDataFrame(
        [(0, 0, "ingest", 10, 8, 2)],
        "epoch_id bigint, stage_idx int, stage string, "
        "n_in bigint, n_kept bigint, n_dropped bigint") \
        .coalesce(1).write.parquet(legacy)   # pre-r12 flat layout

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "hello world " * 30)], schema) \
        .coalesce(1).write.parquet(src)
    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, dedup="none", split=False)
    q = (curate_stream(spark.readStream.schema(schema).parquet(src),
                       str(tmp_path / "ck"), str(tmp_path / "state"),
                       str(tmp_path / "out"), cfg, metrics_path=legacy)
         .trigger(availableNow=True).start())
    import pytest
    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="flat part files"):
        q.awaitTermination(120)
    q.stop()


def test_curate_spans_mode_rewrites_instead_of_dropping(spark, sf_dir):
    from pyspark.sql import functions as F

    from singer_spark.curation import CurationConfig, curate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    base = CurationConfig(lang=None, min_quality=None,
                          repetition_screen=False, dedup="none", split=False)
    dropped = curate(docs, base, benchmark=bench)
    spans_cfg = CurationConfig(**{**base.__dict__,
                                  "decontaminate_mode": "spans"})
    rewritten = curate(docs, spans_cfg, benchmark=bench)

    n_docs = docs.count()
    # drop mode loses every contaminated doc; spans mode keeps every doc
    # whose clean remainder is non-empty — strictly more survivors
    assert dropped.count() < rewritten.count() <= n_docs
    # survivors that drop mode removed must have REWRITTEN (shorter) text
    changed = (rewritten.join(dropped.select("doc_id"), "doc_id", "left_anti")
               .join(docs.select("doc_id", F.col("text").alias("orig")), "doc_id"))
    assert changed.count() > 0
    assert changed.where(F.length("text") >= F.length("orig")).count() == 0


def test_curate_spans_mode_keeps_empty_original_docs(spark):
    """A doc whose ORIGINAL text is empty/whitespace-only is uncontaminated
    and must survive spans mode (the empty rebuild means 'nothing to cut',
    not 'cut to nothing') — and untouched docs keep their exact bytes,
    newlines included."""
    from singer_spark.curation import CurationConfig, curate

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "alpha beta\tgamma\ndelta epsilon"),
         (4, "the quick brown fox jumps over the lazy dog again today")],
        "doc_id bigint, text string")
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string")
    cfg = CurationConfig(lang=None, min_quality=None, repetition_screen=False,
                         dedup="none", split=False,
                         decontaminate_mode="spans", decontaminate_k=4,
                         keep_cols=())
    out = {r["doc_id"]: r["text"]
           for r in curate(docs, cfg, benchmark=bench).collect()}
    assert 1 in out and 2 in out          # empty originals survive
    assert out[3] == "alpha beta\tgamma\ndelta epsilon"  # untouched bytes kept
    assert 4 in out and len(out[4]) < 55  # contaminated doc rewritten shorter


def test_curate_spans_dedup_backend(spark):
    """dedup='spans' rewrites duplicated runs >= span_min_run instead of
    dropping docs: the non-owner loses the run, keeps its unique tail,
    and survives; a doc cut to nothing drops; other gates off."""
    from singer_spark.curation import CurationConfig, curate

    boiler = " ".join(f"b{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, f"{boiler} unique one", "s"),
         (2, f"{boiler} other tail", "s"),
         (3, boiler, "s"),
         (4, "independent text entirely", "s")],
        "doc_id bigint, text string, source string")
    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, split=False,
                         dedup="spans", span_k=8, span_min_run=16)
    out = {r.doc_id: r.text for r in curate(docs, cfg).collect()}
    assert out[1] == f"{boiler} unique one"      # owner keeps all
    assert out[2] == "other tail"                 # run cut, tail survives
    assert 3 not in out                           # cut to nothing: dropped
    assert out[4] == "independent text entirely"

    # NULL-text docs pass through like every other backend (review r9 #3)
    with_null = docs.unionByName(spark.createDataFrame(
        [(9, None, "s")], "doc_id bigint, text string, source string"))
    out_n = {r.doc_id: r.text for r in curate(with_null, cfg).collect()}
    assert 9 in out_n and out_n[9] is None
    assert out_n[2] == "other tail"


def test_curate_learned_quality_gate(spark):
    """The CCNet-style NB gate keeps seed-like docs (even from non-seed
    sources) and drops junk, composing with the other gates off."""
    from singer_spark.curation import CurationConfig, curate

    rows = ([(i, "careful structured prose with citations and argument",
              "hq") for i in range(5)]
            + [(10 + i, "click buy spam now free winner claim prize",
                "web") for i in range(5)]
            + [(20, "careful structured prose with argument", "web")])
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, dedup="none", split=False,
                         quality_model_seed="source = 'hq'")
    kept = {r["doc_id"] for r in curate(docs, cfg).collect()}
    assert set(range(5)) <= kept          # seed survives its own model
    assert 20 in kept                     # seed-like text from web kept
    assert not kept & set(range(10, 15))  # junk dropped


def test_curate_learned_gate_null_text_passthrough(spark):
    """NULL-text docs ride through the NB gate (family convention,
    r9 #3) — their fate must not hinge on the corpus seed/rest ratio."""
    from singer_spark.curation import CurationConfig, curate

    rows = ([(i, "careful structured prose with citations", "hq")
             for i in range(2)]
            + [(10 + i, "click buy spam now free winner", "web")
               for i in range(8)]            # seed minority -> prior < 0
            + [(20, None, "web")])
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, dedup="none", split=False,
                         quality_model_seed="source = 'hq'")
    kept = {r["doc_id"] for r in curate(docs, cfg).collect()}
    assert 20 in kept
    assert not kept & set(range(10, 18))


def test_curate_cli_learned_gate_flag(spark, tmp_path, monkeypatch):
    """End-to-end CLI wiring of --quality-model-seed: junk docs drop,
    seed-like docs publish.  The CLI stops its session on exit — no-op
    that so the module's shared fixture session survives."""
    from pyspark.sql import SparkSession

    from singer_spark.curate_cli import main

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    rows = ([(i, "careful structured prose with citations and argument",
              "hq") for i in range(4)]
            + [(10 + i, "click buy spam now free winner claim prize",
                "web") for i in range(4)])
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    docs.write.parquet(src)
    main(["--input", src, "--output", out, "--lang", "",
          "--min-quality", "-1", "--no-repetition-screen",
          "--dedup", "none", "--no-split",
          "--quality-model-seed", "source = 'hq'"])
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == set(range(4))


def test_curate_cli_pack_batches(spark, tmp_path, monkeypatch):
    """r12: --pack-batches LEN publishes the curated docs AND their
    packed training-window layout (corpus_to_batches over the published
    dataset via curated=, so the gates never run twice), with the
    token-budget report columns riding every row."""
    from pyspark.sql import SparkSession

    from singer_spark.curate_cli import main

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    good = ("the quick brown fox jumps over the lazy dog and walks to "
            "the river bank to drink water in the morning sun today")
    docs = spark.createDataFrame(
        [(i, good + f" tail{i}", "src") for i in range(6)],
        "doc_id bigint, text string, source string")
    src = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    docs.write.parquet(src)
    main(["--input", src, "--output", out, "--lang", "",
          "--min-quality", "-1", "--no-repetition-screen",
          "--dedup", "none", "--no-split", "--pack-batches", "16"])
    pub = spark.read.parquet(out)
    packed = spark.read.parquet(out + "_batches")
    assert packed.count() == pub.count() == 6
    r = packed.orderBy("doc_id").collect()
    assert r[0].start_tok == 0 and r[0].n_windows >= 1
    assert all(x.n_docs == 6 for x in r)
    # windows chain: each doc starts where the previous ended
    for prev, cur in zip(r, r[1:]):
        assert cur.start_tok == prev.start_tok + prev.n_pieces


def test_curate_learned_gate_pretrained_model(spark, tmp_path):
    """A stored NB model gates a NEW batch without refitting: the
    model trained on the labeled corpus transfers its decision to an
    unlabeled increment (the curate_stream shape)."""
    from singer_spark.curation import CurationConfig, curate
    from singer_spark.operators.text_analysis import (nb_quality_model,
                                                      save_nb_model)

    train_rows = ([(i, "careful structured prose with citations and "
                       "argument", "hq") for i in range(4)]
                  + [(10 + i, "click buy spam now free winner claim",
                      "web") for i in range(4)])
    train = spark.createDataFrame(
        train_rows, "doc_id bigint, text string, source string")
    path = str(tmp_path / "nbgate")
    save_nb_model(
        nb_quality_model(train, F.col("source") == "hq"), path)

    # a new increment with NO seed labels at all
    inc = spark.createDataFrame(
        [(100, "careful structured prose with argument", "x"),
         (101, "click buy spam free winner", "x"),
         (102, None, "x")],
        "doc_id bigint, text string, source string")
    cfg = CurationConfig(lang=None, min_quality=None,
                         repetition_screen=False, dedup="none", split=False,
                         quality_model_path=path)
    kept = {r["doc_id"] for r in curate(inc, cfg).collect()}
    assert 100 in kept and 101 not in kept
    assert 102 in kept  # NULL pass-through holds on the apply path


def test_quality_model_roundtrip_removes_its_model_at_exit(tmp_path):
    """quality_model_roundtrip saves an NB model under the temp dir and
    reads it lazily; the directory is gone once the interpreter exits."""
    import os
    import subprocess
    import sys

    import pandas as pd

    sf = tmp_path / "sf"
    sf.mkdir()
    pd.DataFrame({
        "doc_id": range(8),
        "text": ["careful structured prose with citations"] * 4
                + ["click buy spam now free winner"] * 4,
        "source": ["src0"] * 4 + ["web"] * 4,
    }).to_parquet(sf / "documents.parquet")
    code = ("import glob, sys, tempfile; from pyspark.sql import SparkSession; "
            "import __spark_entry__ as m; "
            "spark = SparkSession.builder.master('local[1]')"
            ".config('spark.ui.enabled', 'false').getOrCreate(); "
            "(row,) = m.queries()['quality_model_roundtrip'](spark, sys.argv[1]).collect(); "
            "print(row.n_docs, row.llr_match, "
            "len(glob.glob(tempfile.gettempdir() + '/singer_nb_model_*')))")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code, str(sf)], cwd=repo, check=True,
                         capture_output=True, text=True,
                         env={**os.environ, "TMPDIR": str(tmp_path)}).stdout
    assert out.split()[-3:] == ["8", "True", "1"]  # saved, used, then ...
    assert not list(tmp_path.glob("singer_nb_model_*"))  # ... removed at exit


def test_curate_redact_pii_scrubs_published_text_only(spark):
    """r11: the PII stage — applied LAST, so (a) survivor ids are
    identical with and without it (redaction never changes which docs
    pass a gate or which copy is canonical), (b) the published text is
    scrubbed, (c) it composes with a spans backend (redacts the CUT
    text, not the original), and (d) NULL text rides through."""
    from singer_spark.curation import CurationConfig, curate

    boiler = " ".join(f"navchrome{j}" for j in range(24))
    uniq = ("the quick brown fox jumps over the lazy dog near the river "
            "bank in the warm morning sun with a gentle breeze")
    rows = [(1, f"{uniq} {boiler} mail bob@example.com now", "a"),
            (2, f"{boiler} call +1-555-0100-99 and 10.0.0.7 ok", "a"),
            (3, None, "a")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    base_cfg = dict(lang=None, min_quality=None, repetition_screen=False,
                    split=False, span_k=8, span_min_run=16)

    plain = curate(docs, CurationConfig(dedup="none", **base_cfg))
    scrubbed = curate(docs, CurationConfig(dedup="none", redact_pii=True,
                                           **base_cfg))
    assert ({r.doc_id for r in plain.collect()}
            == {r.doc_id for r in scrubbed.collect()})
    t = {r.doc_id: r.text for r in scrubbed.collect()}
    assert "<EMAIL>" in t[1] and "bob@example.com" not in t[1]
    assert "<PHONE>" in t[2] and "<IP>" in t[2]
    assert t[3] is None

    # spans backend: doc 2's boilerplate is cut (doc 1 owns it) AND the
    # published remainder is scrubbed — redaction ran on the CUT text
    spans = curate(docs, CurationConfig(dedup="spans", redact_pii=True,
                                        **base_cfg))
    ts = {r.doc_id: r.text for r in spans.collect()}
    assert "navchrome0" not in ts[2]          # boilerplate cut
    assert "<PHONE>" in ts[2] and "<IP>" in ts[2]  # remainder scrubbed
    assert ts[1].startswith(uniq)             # owner keeps its copy

    # r12: a custom registry through the pipeline — replaces the
    # defaults (email survives, the custom token lands), same survivors
    custom = curate(docs, CurationConfig(
        dedup="none", redact_pii=True,
        pii_patterns=(("ipish", r"\b10\.0\.0\.\d\b", "<NET>"),),
        **base_cfg))
    tc = {r.doc_id: r.text for r in custom.collect()}
    assert {r.doc_id for r in plain.collect()} == set(tc)
    assert "bob@example.com" in tc[1]          # defaults replaced
    assert "<NET>" in tc[2] and "10.0.0.7" not in tc[2]
    assert tc[3] is None


def test_curation_funnel_cfg_matches_curate(spark, sf_dir):
    """The cfg-driven funnel's final stage must equal curate()'s actual
    survivor count for the SAME config — the pin that stops the
    telemetry frame and the pipeline from drifting apart (r11)."""
    from singer_spark.curation import (CurationConfig, curate,
                                       curation_funnel_cfg)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    configs = [
        (CurationConfig(split=False), bench),
        (CurationConfig(dedup="minhash", split=False), None),
        (CurationConfig(lang=None, dedup="spans", split=False,
                        span_min_run=16), None),
        (CurationConfig(min_quality=None, dedup="none", split=False,
                        decontaminate_mode="spans"), bench),
    ]
    for cfg, b in configs:
        rows = sorted(curation_funnel_cfg(docs, cfg, b).collect(),
                      key=lambda r: r.stage_idx)
        assert rows[0].stage == "input" and rows[0].n_in == docs.count()
        for prev, cur in zip(rows, rows[1:]):
            assert cur.n_in == prev.n_kept
            assert cur.n_dropped == cur.n_in - cur.n_kept
        want = curate(docs, cfg, b).count()
        assert rows[-1].n_kept == want, (cfg.dedup, rows)


@pytest.mark.soak
def test_curate_stream_metrics_funnel(spark, tmp_path):
    """r11 (VERDICT r10 task #5): with metrics_path set, every batch
    appends its funnel stage rows — per-epoch chains are consistent,
    epoch input counts sum to the docs fed, the final stream_dedup
    stage's n_kept sums to the rows actually published, and the
    published OUTPUT is byte-identical to a metrics-off run
    (restart-invariance preserved — telemetry must not touch data)."""
    from singer_spark.curation import CurationConfig, curate_stream

    schema = "doc_id bigint, text string"
    good = ("the quick brown fox jumps over the lazy dog and then walks to "
            "the river bank to drink some water in the morning sun today")
    batch1 = [(1, good),
              (2, "spam spam spam spam spam spam spam spam spam spam")]
    batch2 = [(10, good + " extra"),
              (11, "a completely different well formed english sentence "
                   "about the weather and the garden this afternoon")]
    cfg = CurationConfig(lang="en", min_quality=0.3, repetition_screen=True,
                         dedup="none", split=False)

    def run(tag, metrics):
        src = str(tmp_path / f"src_{tag}")
        for rows in (batch1, batch2):
            spark.createDataFrame(rows, schema).coalesce(1) \
                .write.mode("append").parquet(src)
            q = (curate_stream(
                spark.readStream.schema(schema).parquet(src),
                str(tmp_path / f"ckpt_{tag}"), str(tmp_path / f"state_{tag}"),
                str(tmp_path / f"out_{tag}"), cfg,
                metrics_path=(str(tmp_path / f"metrics_{tag}")
                              if metrics else None))
                .trigger(availableNow=True).start())
            q.awaitTermination(120)
            q.stop()
        return {(r.doc_id, r.text) for r in
                spark.read.parquet(str(tmp_path / f"out_{tag}")).collect()}

    with_metrics = run("m", True)
    plain = run("p", False)
    assert with_metrics == plain  # telemetry never touches the data path

    m = spark.read.parquet(str(tmp_path / "metrics_m")).collect()
    by_epoch: dict = {}
    for r in m:
        by_epoch.setdefault(r.epoch_id, []).append(r)
    assert len(by_epoch) == 2  # one funnel per batch
    total_in = 0
    total_pub = 0
    for _epoch, rows in by_epoch.items():
        rows = sorted(rows, key=lambda r: r.stage_idx)
        assert rows[0].stage == "input"
        assert rows[-1].stage == "stream_dedup_minhash"
        for prev, cur in zip(rows, rows[1:]):
            assert cur.n_in == prev.n_kept
            assert cur.n_dropped == cur.n_in - cur.n_kept
        total_in += rows[0].n_in
        total_pub += rows[-1].n_kept
    assert total_in == len(batch1) + len(batch2)
    assert total_pub == len(with_metrics)
    # gate stages appear in the configured order
    stages0 = [r.stage for r in sorted(by_epoch[min(by_epoch)],
                                       key=lambda r: r.stage_idx)]
    assert stages0 == ["input", "lang", "quality", "repetition",
                       "stream_dedup_minhash"]


@pytest.mark.soak
def test_funnel_trend_drift_and_replayed_epoch(spark, tmp_path):
    """r12 (VERDICT r11 task #5): funnel_trend reads the per-epoch
    metrics partitions — a REPLAYED epoch (its partition overwritten by
    the final attempt, the writer's contract) must not double-count,
    survival rates chain per stage, and an epoch whose rate moves > σ
    from its trailing mean flags drift (prior-epochs-only, so the
    drifted epoch can't mask itself)."""
    from singer_spark.curation import funnel_trend

    mp = str(tmp_path / "metrics")
    schema = ("stage_idx int, stage string, n_in bigint, n_kept bigint, "
              "n_dropped bigint")

    def write_epoch(e, rows):
        # the exact writer shape curate_stream uses: per-epoch partition,
        # mode overwrite
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{mp}/epoch_id={e}")

    stable = [(0, "input", 100, 100, 0), (1, "lang", 100, 80, 20),
              (2, "stream_dedup_minhash", 80, 70, 10)]
    for e in range(5):
        write_epoch(e, stable)
    # epoch 5 first attempt: lang gate collapses (0.8 -> 0.3)
    write_epoch(5, [(0, "input", 100, 100, 0), (1, "lang", 100, 30, 70),
                    (2, "stream_dedup_minhash", 30, 25, 5)])
    # epoch 5 REPLAYED: the dedup stage self-matches and publishes 0 —
    # the overwrite replaces the first attempt entirely
    write_epoch(5, [(0, "input", 100, 100, 0), (1, "lang", 100, 30, 70),
                    (2, "stream_dedup_minhash", 30, 0, 30)])

    t = funnel_trend(spark, mp, sigma=3.0, min_epochs=3).collect()
    assert len(t) == 6 * 3  # one attempt per (epoch, stage) — no dupes
    by = {(r.epoch_id, r.stage): r for r in t}
    assert by[(5, "stream_dedup_minhash")].n_kept == 0  # last attempt wins
    # flat history (std 0) then a jump: both changed stages flag
    assert by[(5, "lang")].drift
    assert by[(5, "stream_dedup_minhash")].drift
    # stable epochs never flag; early epochs lack min_epochs history
    assert not by[(4, "lang")].drift
    assert not by[(0, "lang")].drift and by[(0, "lang")].n_prior == 0
    assert by[(1, "lang")].n_prior == 1 and not by[(1, "lang")].drift
    # an unchanged stage in the drifted epoch stays quiet
    assert not by[(5, "input")].drift
    assert abs(by[(4, "lang")].rate - 0.8) < 1e-12
    assert abs(by[(4, "lang")].trailing_mean - 0.8) < 1e-12


@pytest.mark.soak
def test_funnel_trend_cli_gates_on_drift(spark, tmp_path):
    """r13 (VERDICT r12 task #7): the on-call CLI is a pipeline GATE,
    not just a view — exit 1 when any drift row exists in the inspected
    window, exit 0 otherwise (--last restricts both the printout and
    the gate to the newest N epochs, so an acknowledged old incident
    stops paging)."""
    import os
    import subprocess
    import sys

    mp = str(tmp_path / "metrics")
    schema = ("stage_idx int, stage string, n_in bigint, n_kept bigint, "
              "n_dropped bigint")
    stable = [(0, "input", 100, 100, 0), (1, "lang", 100, 80, 20)]
    for e in range(5):
        spark.createDataFrame(stable, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{mp}/epoch_id={e}")
    # epoch 5 drifts, epochs 6-7 recover to the stable rates
    spark.createDataFrame([(0, "input", 100, 100, 0),
                           (1, "lang", 100, 30, 70)], schema) \
        .coalesce(1).write.mode("overwrite").parquet(f"{mp}/epoch_id=5")
    for e in (6, 7):
        spark.createDataFrame(stable, schema).coalesce(1) \
            .write.mode("overwrite").parquet(f"{mp}/epoch_id={e}")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    driver = (
        "import sys; sys.path.insert(0, {repo!r});"
        "from tools.funnel_trend import main;"
        "full = main([{mp!r}]);"
        "recent = main([{mp!r}, '--last', '2']);"
        "print('CODES', full, recent)"
    ).format(repo=repo, mp=mp)
    out = subprocess.run([sys.executable, "-c", driver],
                         capture_output=True, text=True, timeout=600)
    codes = [l for l in out.stdout.splitlines() if l.startswith("CODES")]
    assert codes, out.stdout + out.stderr
    # full window holds epoch 5's drift -> gate fires; the newest-2
    # window is clean -> gate passes
    assert codes[0] == "CODES 1 0", (codes, out.stdout[-2000:])
    assert "DRIFT" in out.stdout


def test_corpus_to_batches_is_the_pinned_composition(spark, tmp_path):
    """r12 (VERDICT r11 task #3): corpus_to_batches must BE curate ->
    unigram_train -> unigram_encode -> pack_sequences(count_col) +
    packing_stats run by hand — a structural identity pin (the
    corpus_pipeline_full discipline applied to the tokenize+pack tail)
    — and the vocab_path branch must reproduce the in-memory result."""
    from singer_spark.curation import (CurationConfig, corpus_to_batches,
                                       curate)
    from singer_spark.operators.packing import pack_sequences, packing_stats
    from singer_spark.operators.text_analysis import (save_vocab,
                                                      unigram_encode,
                                                      unigram_train)

    good = ("the quick brown fox jumps over the lazy dog and walks to "
            "the river bank to drink water in the morning sun today")
    rows = [(i, good + f" banana band{i} bananas", "src") for i in range(8)]
    rows += [(100, "spam spam spam spam spam spam spam spam", "src")]
    docs = spark.createDataFrame(rows,
                                 "doc_id bigint, text string, source string")
    cfg = CurationConfig(lang="en", min_quality=0.3, repetition_screen=True,
                         dedup="none", split=False)
    kw = dict(max_len=16, max_multi=20, max_piece_len=4, em_rounds=1,
              keep_ratio=0.6, max_word_len=16)
    got = corpus_to_batches(docs, cfg, **kw).collect()

    kept = curate(docs, cfg).select("doc_id", "text")
    vocab = unigram_train(kept, max_multi=20, max_piece_len=4,
                          em_rounds=1, keep_ratio=0.6, max_word_len=16)
    enc = unigram_encode(kept, vocab, max_word_len=16)
    packed = pack_sequences(enc.select("doc_id", "n_pieces"), max_len=16,
                            count_col="n_pieces")
    rep = packing_stats(packed, 16).collect()[0]
    want = sorted(
        (r.doc_id, r.n_tokens, r.start_tok, r.first_chunk, r.last_chunk,
         r.n_chunks, r.offset_in_first_chunk, rep.total_tokens,
         rep.n_windows, rep.n_docs, rep.n_straddling)
        for r in packed.collect())
    assert sorted((r.doc_id, r.n_pieces, r.start_tok, r.first_chunk,
                   r.last_chunk, r.n_chunks, r.offset_in_first_chunk,
                   r.total_tokens, r.n_windows, r.n_docs, r.n_straddling)
                  for r in got) == want
    assert len(got) > 0 and got[0].n_windows >= 1

    # production path: a persisted vocab reproduces the in-memory run
    save_vocab(spark, vocab, str(tmp_path / "vocab"))
    got_loaded = corpus_to_batches(docs, cfg,
                                   vocab_path=str(tmp_path / "vocab"),
                                   **kw).collect()
    assert got_loaded == got
    # batches from the train split only: requires the split column
    with pytest.raises(ValueError, match="split"):
        corpus_to_batches(docs, cfg, train_split_only=True, **kw)

    # target_multi (r13): the exact-vocab-size contract routes through
    # unigram_train_to_size — pinned to BE that composition too
    from singer_spark.operators.text_analysis import unigram_train_to_size

    kw2 = dict(kw, em_rounds=3)   # 20 -> 12 -> 8 -> 5 multis
    kw2.pop("keep_ratio")
    got_sz = corpus_to_batches(docs, cfg, target_multi=5, **kw2).collect()
    vocab_sz = unigram_train_to_size(kept, target_multi=5, rounds=3,
                                     max_multi=20, max_piece_len=4,
                                     max_word_len=16)
    assert sum(1 for p, _ in vocab_sz if len(p) > 1) == 5
    enc_sz = unigram_encode(kept, vocab_sz, max_word_len=16)
    packed_sz = pack_sequences(enc_sz.select("doc_id", "n_pieces"),
                               max_len=16, count_col="n_pieces")
    assert sorted((r.doc_id, r.n_pieces, r.start_tok) for r in got_sz) \
        == sorted((r.doc_id, r.n_tokens, r.start_tok)
                  for r in packed_sz.collect())


def test_curation_funnel_counts_are_consistent(spark, sf_dir):
    """Funnel invariants: monotone survivors, chained n_in == previous
    n_kept, and the final stage equals the oracle-checked
    corpus_pipeline_full row count."""
    import __spark_entry__ as entry_mod
    from singer_spark.curation import curation_funnel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = sorted(
        curation_funnel(docs, docs.filter(F.col("doc_id") % 50 == 0))
        .collect(), key=lambda r: r["stage_idx"])
    assert [r["stage"] for r in rows] == [
        "input", "lang", "quality", "repetition", "decontaminate",
        "dedup_exact", "split_train"]
    assert rows[0]["n_in"] == docs.count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_kept"]
        assert cur["n_kept"] <= cur["n_in"]
        assert cur["n_dropped"] == cur["n_in"] - cur["n_kept"]
    full = entry_mod.queries()["corpus_pipeline_full"](spark, sf_dir)
    assert rows[-1]["n_kept"] == full.count()
