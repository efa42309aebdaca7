"""Composable corpus-curation pipeline — the training-data twin of the
log-agent CLI: one configured call runs the standard pre-training gates
(language, quality, repetition, dedup, benchmark decontamination, split)
over a documents table and publishes a layout-controlled dataset.

The registry query `corpus_pipeline_full` is the oracle-checked single-plan
form of the same composition; this module adds the operational surface —
selectable dedup backend, optional gates, dataset write with hive
partitioning — driven from a config object or the `tools/curate.py` CLI.

Every gate composes lazily into ONE plan per run: Catalyst sees the whole
filter chain, so column pruning and predicate pushdown reach the scan no
matter how many gates are enabled.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CurationConfig:
    """Gates default to the corpus_pipeline_full settings; None disables."""

    lang: str | None = "en"               # keep docs whose lang-id predicts this
    min_quality: float | None = 0.5       # quality_features score floor
    # learned quality gate (CCNet-style): a SQL boolean expression over
    # the input columns marking the high-quality SEED subset; when set,
    # a Naive-Bayes model trains on seed-vs-rest in one pass and docs
    # must score llr > quality_model_threshold to survive.  None = off
    # (the heuristic min_quality gate is independent and composes).
    quality_model_seed: str | None = None
    quality_model_threshold: float = 0.0
    quality_model_vocab: int = 50_000
    # pre-trained model directory (save_nb_model): when set, the gate
    # APPLIES the stored model instead of refitting — the right shape
    # for curate_stream, where per-batch refits would drift the gate
    # with batch composition.  Ignored unless quality_model_seed is
    # also set OR this is set alone (either enables the gate).
    quality_model_path: str | None = None
    repetition_screen: bool = True        # C4/Gopher repetition keep-flag
    dedup: str = "exact"                  # none | exact | minhash | semantic | spans
    minhash_threshold: float = 0.5
    # spans backend: cut duplicated runs of >= span_min_run tokens
    # (Lee et al. 2022 style, dedup_spans) instead of dropping whole
    # docs; rewritten docs get whitespace-rejoined text (the
    # decontaminate_mode="spans" caveat), docs cut to nothing drop
    span_k: int = 8
    span_min_run: int = 16
    semantic_threshold: float = 0.995
    decontaminate_k: int = 8              # k-gram size for the benchmark gate
    # drop (whole doc) | spans (cut the shared k-gram windows).  spans
    # caveat: a doc that LOSES a window is rebuilt by token re-join, so
    # its runs of whitespace (newlines/tabs) collapse to single spaces;
    # untouched docs keep their original bytes, and docs cut to nothing
    # are removed (originally-empty docs always survive).
    decontaminate_mode: str = "drop"
    # scrub emails / IPv4s / phone numbers from the PUBLISHED text (the
    # Dolma/CCNet PII stage, text_analysis.redact_pii).  Applied LAST,
    # after every gate and dedup backend: gates and dedup digests see
    # the original bytes (redaction must never change which docs
    # survive or which copy is canonical), only the published text is
    # scrubbed.  Never drops a doc; NULL text passes through.
    redact_pii: bool = False
    # custom PII registry (r12): ((name, regex, token), ...) — when set
    # it REPLACES the default email/ipv4/phone registry for the redact
    # stage (restate the defaults to keep them); the count-then-replace
    # ordering and the cross-engine regex-subset contract are
    # redact_pii()'s.  None = defaults.
    pii_patterns: "tuple[tuple[str, str, str], ...] | None" = None
    split: bool = True                    # train/val/test hash split column
    text_col: str = "text"
    id_col: str = "doc_id"
    keep_cols: tuple[str, ...] = field(default=("source",))


def _nb_keep(docs: DataFrame, cfg: "CurationConfig", text_col: str,
             id_col: str) -> DataFrame:
    """(id, keep) frame from the learned NB quality gate — a stored
    model (quality_model_path) applies without a training pass;
    otherwise the model fits on this input's seed-vs-rest split."""
    if cfg.quality_model_path:
        from singer_spark.operators.text_analysis import (load_nb_model,
                                                          nb_quality_apply)

        model = load_nb_model(docs.sparkSession, cfg.quality_model_path)
        return nb_quality_apply(docs, model,
                                threshold=cfg.quality_model_threshold,
                                text_col=text_col, id_col=id_col
                                ).select(id_col, "keep")
    from singer_spark.operators.text_analysis import nb_quality_scores

    return nb_quality_scores(docs, F.expr(cfg.quality_model_seed),
                             max_vocab=cfg.quality_model_vocab,
                             threshold=cfg.quality_model_threshold,
                             text_col=text_col, id_col=id_col
                             ).select(id_col, "keep")


def _survives_rewrite():
    """A span-rewrite row's doc survives unless it was CUT TO NOTHING."""
    return ((F.col("clean_text") != "") | (F.col("n_removed") == 0)
            | F.col("n_removed").isNull())


def _apply_span_rewrite(out: DataFrame, spans: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """Shared rewrite for the two span gates (benchmark decontamination
    and corpus-internal span dedup): drop only docs that were CUT to
    nothing (n_removed > 0 AND empty rebuild) — a doc whose ORIGINAL
    text was already empty/whitespace-only is untouched and must
    survive, and a NULL-text doc (NULL clean_text/n_removed from the
    span operators) passes through unchanged like every other backend
    (review r9 #3).  Only docs that actually lost a window are
    REWRITTEN — an untouched doc keeps its original bytes (clean_text
    is whitespace-rejoined, which would destroy newlines/tabs
    corpus-wide; rewritten survivors DO get that normalization — see
    CurationConfig.decontaminate_mode docs)."""
    repl = spans.where(_survives_rewrite()).select(
        F.col("id").alias(id_col),
        F.col("clean_text").alias("_clean_text"),
        F.col("n_removed").alias("_n_removed"))
    return (out.join(repl, id_col)
            .withColumn(text_col,
                        F.when(F.col("_n_removed") > 0,
                               F.col("_clean_text"))
                        .otherwise(F.col(text_col)))
            .drop("_clean_text", "_n_removed"))


def _gate_frames(docs: DataFrame, cfg: "CurationConfig",
                 benchmark: "DataFrame | None" = None,
                 persist: bool = False) -> "dict[str, DataFrame]":
    """One raw frame per ENABLED frame gate, in :func:`curate`'s order —
    the single source both :func:`curate` and
    :func:`curation_funnel_cfg` consume, so a pipeline that also emits
    telemetry never runs a frame gate twice.  The per-row gates
    (language, quality) are expressions, not frames: every consumer
    evaluates them in its own projection.  With `persist=True` each
    frame is `maybe_persist`-registered: the caller releases them at its
    batch boundary via `release_cache_handles`.

    Frame shapes (keyed by gate name):

    - ``quality_model``/``repetition`` — (id, keep);
    - ``decontaminate`` — `decontaminate` flags (drop mode) or
      `decontaminate_spans` rewrite rows (spans mode);
    - ``dedup`` — exact: canonical ids; minhash: DROPPED ids;
      semantic: (id, keep); spans: `dedup_spans` rewrite rows."""
    from singer_spark.functions import maybe_persist
    from singer_spark.operators.dedup import dedup_exact, minhash_lsh_pairs
    from singer_spark.operators.text_analysis import (
        decontaminate,
        hash_embed,
        repetition_features,
    )

    id_col, text_col = cfg.id_col, cfg.text_col
    frames: "dict[str, DataFrame]" = {}

    def add(name: str, df: DataFrame) -> None:
        frames[name] = maybe_persist(df, persist)

    if cfg.quality_model_seed is not None or cfg.quality_model_path:
        add("quality_model", _nb_keep(docs, cfg, text_col, id_col))
    if cfg.repetition_screen:
        add("repetition", repetition_features(docs, text_col, id_col)
            .select(id_col, "keep"))
    if benchmark is not None:
        if cfg.decontaminate_mode == "spans":
            from singer_spark.operators.text_analysis import (
                decontaminate_spans,
            )

            add("decontaminate",
                decontaminate_spans(docs, benchmark, k=cfg.decontaminate_k,
                                    text_col=text_col, id_col=id_col))
        elif cfg.decontaminate_mode == "drop":
            add("decontaminate",
                decontaminate(docs, benchmark, k=cfg.decontaminate_k,
                              text_col=text_col, id_col=id_col))
        else:
            raise ValueError(
                f"unknown decontaminate_mode {cfg.decontaminate_mode!r}")
    if cfg.dedup == "exact":
        add("dedup", dedup_exact(docs, text_col, id_col).select(id_col))
    elif cfg.dedup == "minhash":
        pairs = minhash_lsh_pairs(docs, text_col, id_col,
                                  threshold=cfg.minhash_threshold)
        add("dedup", pairs.select(F.col("id_b").alias(id_col)).distinct())
    elif cfg.dedup == "semantic":
        from singer_spark.operators.similarity import semantic_dedup

        emb = hash_embed(docs, dim=16, text_col=text_col, id_col=id_col)
        add("dedup", semantic_dedup(emb, n_clusters=8,
                                    threshold=cfg.semantic_threshold,
                                    id_col=id_col).select(id_col, "keep"))
    elif cfg.dedup == "spans":
        from singer_spark.operators.dedup import dedup_spans

        add("dedup", dedup_spans(docs, k=cfg.span_k, text_col=text_col,
                                 id_col=id_col, min_run=cfg.span_min_run))
    elif cfg.dedup != "none":
        raise ValueError(f"unknown dedup backend {cfg.dedup!r}")
    return frames


def curate(docs: DataFrame, cfg: CurationConfig = CurationConfig(),
           benchmark: DataFrame | None = None,
           _gates: "dict[str, DataFrame] | None" = None) -> DataFrame:
    """Apply the configured gates; returns the surviving docs with their
    gate metadata (predicted_lang, quality_score, split when enabled).

    Dedup backends: `exact` keeps the lowest-id copy of each digest;
    `minhash` drops any doc with a lower-id near-dup at
    `minhash_threshold` Jaccard; `semantic` hash-embeds the text and runs
    SemDeDup.  All three shuffle signatures, never text.

    Language and quality are per-row expressions
    (`text_analysis.lang_pred_col` / `quality_score_col`), gated in the
    projection on every path: no exchange of the text.  `_gates`:
    precomputed :func:`_gate_frames` output, so a caller that also
    builds the telemetry funnel shares ONE pass of each frame gate."""
    from singer_spark.operators.text_analysis import (
        lang_pred_col,
        quality_score_col,
    )

    id_col, text_col = cfg.id_col, cfg.text_col
    gates = _gates if _gates is not None \
        else _gate_frames(docs, cfg, benchmark)
    out = docs.select(id_col, text_col, *[c for c in cfg.keep_cols
                                          if c in docs.columns])
    if cfg.lang is not None:
        out = (out.withColumn("predicted_lang",
                              lang_pred_col(F.col(text_col)))
               .filter(F.col("predicted_lang") == cfg.lang))
    if cfg.min_quality is not None:
        out = (out.withColumn("quality_score",
                              quality_score_col(F.col(text_col)))
               .filter(F.col("quality_score") >= cfg.min_quality))
    if cfg.quality_model_seed is not None or cfg.quality_model_path:
        # learned gate (CCNet-style): NB seed-vs-rest model over the FULL
        # input corpus (training on pre-gate docs keeps the model
        # independent of gate order), broadcast scoring join by id.
        # NULL-text docs PASS THROUGH (the curation family convention,
        # r9 #3): a token-less doc's llr is the corpus-global prior, and
        # dropping or keeping it on an unrelated seed/rest ratio is
        # arbitrary — the other gates and span backends let NULLs ride
        out = (out.join(gates["quality_model"], id_col)
               .filter((F.col("keep") == 1) | F.col(text_col).isNull())
               .drop("keep"))
    if cfg.repetition_screen:
        out = (out.join(gates["repetition"], id_col)
               .filter(F.col("keep")).drop("keep"))
    if benchmark is not None:
        if cfg.decontaminate_mode == "spans":
            # surgical variant: REWRITE contaminated docs (cut the shared
            # k-gram windows) instead of dropping them; docs cut to
            # nothing are removed.  NOTE: dedup gates below still operate
            # on the ORIGINAL text — span-cut survivors keep their
            # original digests for canonical selection.
            out = _apply_span_rewrite(out, gates["decontaminate"],
                                      id_col, text_col)
        else:
            clean = (gates["decontaminate"].filter(~F.col("contaminated"))
                     .select(F.col("id").alias(id_col)))
            out = out.join(clean, id_col, "left_semi")
    if cfg.dedup == "exact":
        out = out.join(gates["dedup"], id_col, "left_semi")
    elif cfg.dedup == "minhash":
        out = out.join(gates["dedup"], id_col, "left_anti")
    elif cfg.dedup == "semantic":
        keep = gates["dedup"].filter(F.col("keep")).select(id_col)
        out = out.join(keep, id_col, "left_semi")
    elif cfg.dedup == "spans":
        out = _apply_span_rewrite(out, gates["dedup"], id_col, text_col)
    elif cfg.dedup != "none":
        raise ValueError(f"unknown dedup backend {cfg.dedup!r}")
    if cfg.redact_pii:
        # redact OUT's current text (a spans backend may already have
        # rewritten it — redacting the original would undo the cuts);
        # regexp_replace(NULL) is NULL, so NULL text rides through
        from singer_spark.operators.text_analysis import redact_pii

        pats = ({n: (r, t) for n, r, t in cfg.pii_patterns}
                if cfg.pii_patterns else None)
        red = redact_pii(out.select(id_col, text_col), text_col, id_col,
                         patterns=pats)
        out = (out.join(red.select(id_col,
                                   F.col("redacted").alias("_red")),
                        id_col)
               .withColumn(text_col, F.col("_red")).drop("_red"))
    if cfg.split:
        # ANNOTATE the split (withColumn, not a self-join): the split is
        # a pure per-row hash of the id (text_analysis.split_cols — the
        # same rule train_val_split wraps), so attaching it needs no
        # join.  The old `out.join(train_val_split(out), id)` shape
        # re-evaluated the whole gate chain under the join's second arm
        # and shuffled the survivor corpus by id twice — at 100 TB two
        # full exchanges of the published text for a value derivable in
        # the projection (r13 optimization; identical rows/values).
        from singer_spark.operators.text_analysis import split_cols

        out = out.withColumn("split", split_cols(id_col)[1])
    return out


def compact_span_state(spark, state_path: str) -> int:
    """Rewrite the accumulated span_grams state as DISTINCT digests.

    The spans stream appends each batch's distinct window digests, so a
    digest shared ACROSS batches (recurring boilerplate — exactly the
    content the backend exists for) accumulates one row per batch it
    appears in.  Correctness never suffers (the probe is a semi-join)
    but the state grows superlinearly in boilerplate-heavy regimes;
    this compaction bounds it back to one row per distinct digest.

    Crash-safe by duplicates-only failure modes: the distinct set is
    written to a scratch dir, its part files MOVE into the state dir
    under fresh names, and only then are the pre-existing files
    deleted — a crash at any point leaves the state a superset of the
    distinct digests (never a subset), which the semi-join reads
    identically.  All listing/moving/deleting goes through the Hadoop
    FileSystem API (`singer_spark.fsutil`), so this runs on whatever FS
    the state actually lives on (HDFS/S3A/…), not just local disk —
    the duplicates-only discipline is exactly what makes S3A's
    non-atomic rename acceptable here (r12, VERDICT r11 "What's wrong
    #1" applied to the span state).  Returns the digest count after
    compaction."""
    import uuid

    from singer_spark.fsutil import (fs_delete, fs_exists, fs_listdir,
                                     fs_rename)

    if not fs_exists(spark, state_path):
        return 0
    # sweep scratch dirs a previously CRASHED compaction left behind —
    # compactions are serialized per stream (foreachBatch), so any
    # existing .compacting.* sibling is dead weight (review r10 #7)
    parent, _, base = state_path.replace("\\", "/").rpartition("/")
    parent = parent or "."
    for name in fs_listdir(spark, parent):
        if name.startswith(f"{base}.compacting."):
            fs_delete(spark, f"{parent}/{name}")
    tmp = f"{state_path}.compacting.{uuid.uuid4().hex[:8]}"
    spark.read.parquet(state_path).select("g").distinct() \
        .write.mode("overwrite").parquet(tmp)
    old_files = [n for n in fs_listdir(spark, state_path)
                 if not n.startswith(("_", "."))]
    tag = uuid.uuid4().hex[:8]
    for i, name in enumerate(sorted(fs_listdir(spark, tmp))):
        if name.startswith(("_", ".")) or not name.endswith(".parquet"):
            continue
        # Hadoop rename reports failure by RETURNING FALSE (unlike
        # os.rename, which raises) — a silently dropped move here would
        # let the old-file delete below turn the state into a SUBSET of
        # the distinct digests, breaking the never-a-subset promise
        # (ADVICE r12 #1).  Abort with the superset intact instead: the
        # tmp dir stays for the next compaction's sweep, nothing old is
        # deleted, and the semi-join keeps reading the duplicates.
        if not fs_rename(spark, f"{tmp}/{name}",
                         f"{state_path}/compact-{tag}-{i}.parquet"):
            raise IOError(
                f"compact_span_state: rename of {tmp}/{name} into "
                f"{state_path} failed (Hadoop rename returned false); "
                f"aborting compaction with the superset state intact")
    for name in old_files:
        fs_delete(spark, f"{state_path}/{name}")
    fs_delete(spark, tmp)
    return spark.read.parquet(state_path).count()


# Bloom prefilter size for the spans stream's history probe (about 1%
# false positives at 400k distinct window digests); a false positive
# only costs an exact-join row, never a wrong cut.
_SPAN_BLOOM_BITS = 1 << 22


def curate_stream(docs_stream: DataFrame, checkpoint: str, state_path: str,
                  out_path: str, cfg: CurationConfig = CurationConfig(),
                  stream_dedup: str = "minhash",
                  span_compact_every: "int | None" = 16,
                  metrics_path: "str | None" = None):
    """Always-on corpus ingestion: per micro-batch, run the stateless
    gates (:func:`curate`), then apply the cross-batch dedup backend,
    append survivors to the dataset and their state rows to the state
    table.

    Backends (`stream_dedup`):

    - ``minhash`` (default) — DROP documents that near-duplicate the
      ACCUMULATED corpus at `cfg.minhash_threshold` Jaccard via the
      MinHash signature state (`dedup.minhash_lsh_incremental`).  State
      is 8 ints per retained doc.
    - ``spans`` (r10) — REWRITE documents instead of dropping them:
      `dedup.dedup_spans_incremental` cuts every duplicated run of
      >= `cfg.span_min_run` tokens whose k-gram digests live in the
      accumulated `span_grams` state OR duplicate within the batch;
      docs cut to nothing drop (same rewrite rule as the batch `spans`
      backend, including the whitespace-normalization caveat).  State
      is the increment's DISTINCT window digests (16 B/token), appended
      per batch — historical text is never re-read, and the probe runs
      behind a broadcast Bloom prefilter of `_SPAN_BLOOM_BITS` bits
      (output is bit-identical to the exact probe).  A FULL
      epoch replay (crash after both writes, before the epoch commit)
      finds its windows already in state, cuts its docs to nothing and
      drops them — the same self-match idempotence the minhash backend
      gets from its signatures (docs shorter than `span_min_run`
      tokens are the blind spot — too short to form a cuttable run).
      Both backends write OUTPUT before STATE: a crash in the window
      between the two re-publishes the batch on replay (at-least-once)
      — the reverse order would silently LOSE it (state present →
      self-match drops docs that were never published; review r10 #2).
      Every `span_compact_every` batches the state is rewritten to
      distinct digests (:func:`compact_span_state`) — recurring
      boilerplate otherwise re-appends its digests each batch; None
      disables.

    History is never re-read by either backend; the stream checkpoint
    makes batch replay idempotent on the offsets side, and
    survivors-only appends keep the output append-only.  Returns the
    configured DataStreamWriter — add a trigger and `.start()`: drive
    with availableNow cycles (the engine's run_adaptive pattern) or a
    continuous trigger.

    This is the streaming twin of :func:`curate_and_publish` — same
    gates, with cross-batch dedup state replacing the one-shot
    in-corpus pass.  Each micro-batch runs the batch :func:`curate` plan
    under `cfg` with `dedup="none"`, with or without telemetry.  With
    ids increasing in arrival order (the natural ingestion shape) the
    streamed output equals the uninterrupted single-batch run —
    `tools/soak_tail.py` pins it under kill/restart churn for both
    backends.

    `metrics_path`: when set, each batch also appends its per-gate
    survivor funnel — :func:`curation_funnel_cfg` stage rows over THIS
    batch, sharing the frame gates' one pass with `curate`, plus a final
    ``stream_dedup`` stage whose n_kept is the row count actually
    published — keyed by `epoch_id`, to a parquet metrics table.  The
    always-on pipeline gets the gate-survivorship observability the
    batch path's funnel report gives.  Telemetry ordering: the metrics
    write runs AFTER the output+state writes (losing a crashed batch's
    metrics is fine; publishing metrics for an unpublished batch would
    lie).  Each epoch's rows land in an OVERWRITTEN ``epoch_id={n}``
    partition: a replayed epoch replaces its prior attempt's rows, so
    readers see exactly one attempt per epoch — the final one — with
    no ordering or dedup assumptions; epoch_id returns as the
    hive-partition column.  :func:`funnel_trend` is the reader."""
    from singer_spark.fsutil import read_parquet_or_none

    if stream_dedup not in ("minhash", "spans"):
        raise ValueError(f"unknown stream_dedup backend {stream_dedup!r}")
    id_col, text_col = cfg.id_col, cfg.text_col
    batch_cfg = CurationConfig(**{**cfg.__dict__, "dedup": "none"})
    metrics_checked = []  # closure flag: probe the metrics layout once

    def check_metrics_layout(spark) -> None:
        # fail FAST on a pre-r12 metrics table (ADVICE r12 #4): the old
        # writer appended flat part files with epoch_id as a DATA
        # column; this writer lands each epoch in a hive
        # ``epoch_id={n}`` partition.  Mixing the two in one path breaks
        # partition discovery for every reader, so an upgraded
        # deployment must regenerate (or relocate) the table rather
        # than silently corrupt it.  One listing, once per stream.
        from singer_spark.fsutil import fs_listdir

        flat = [n for n in fs_listdir(spark, metrics_path)
                if not n.startswith(("_", ".", "epoch_id="))]
        if flat:
            raise ValueError(
                f"metrics_path {metrics_path} holds flat part files from "
                f"a pre-r12 curate_stream ({flat[:3]}...); the writer now "
                f"uses hive epoch_id= partitions and the two layouts "
                f"cannot mix — point metrics_path at a fresh directory "
                f"(the old table stays readable as a standalone dataset)")
        metrics_checked.append(True)

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # WRITE ORDER is load-bearing (review r10 #2): output FIRST,
        # state SECOND.  A crash between the two then re-publishes the
        # batch on replay (at-least-once, the streaming contract the
        # soak documents) — the reverse order silently LOSES the batch
        # forever: its windows/signatures are already state, so the
        # replay's docs self-match and drop without ever having been
        # published.  A crash after both writes but before the epoch
        # commits replays against complete state, where the self-match
        # correctly drops the already-published docs (no duplicates).
        from singer_spark.functions import maybe_persist, release_cache_handles

        spark = batch_df.sparkSession
        if metrics_path and not metrics_checked:
            check_metrics_layout(spark)
        # when telemetry is on, the frame gates are computed ONCE and
        # shared between the data path (curate) and the funnel;
        # released with the rest at the batch boundary below
        gates = (_gate_frames(batch_df, batch_cfg, persist=True)
                 if metrics_path else None)
        kept = maybe_persist(curate(batch_df, batch_cfg, _gates=gates), True)
        if stream_dedup == "spans":
            from singer_spark.operators.dedup import (
                dedup_spans_incremental,
                span_grams,
            )

            # FS-agnostic first-batch probe (r12): a missing state table
            # is normal, anything else raises (fsutil discipline)
            seen = read_parquet_or_none(spark, state_path)
            has_state = seen is not None
            if seen is None:
                seen = spark.createDataFrame([], "g string")
            # ONE window-explode pass serves the probe, the owner agg,
            # the intra hit join AND the state append (review r10 #5)
            grams = maybe_persist(
                span_grams(kept.select(id_col, text_col), k=cfg.span_k,
                           text_col=text_col, id_col=id_col,
                           positional=True), True)
            spans = dedup_spans_incremental(
                kept.select(id_col, text_col), seen,
                k=cfg.span_k, min_run=cfg.span_min_run,
                text_col=text_col, id_col=id_col,
                num_bits=_SPAN_BLOOM_BITS if has_state else None,
                base_grams=grams)
            out = maybe_persist(
                _apply_span_rewrite(kept, spans, id_col, text_col),
                metrics_path is not None)
            out.write.mode("append").parquet(out_path)
            n_published = out.count() if metrics_path else 0
            # state grows by the increment's ORIGINAL window digests
            # (owners keep their text, so cut copies' digests must stay
            # probeable — the dedup_spans_incremental state discipline)
            grams.select("g").distinct() \
                .write.mode("append").parquet(state_path)
            # recurring boilerplate re-appends its digests every batch;
            # periodic compaction bounds the state back to one row per
            # distinct digest (duplicates-only crash modes — see
            # compact_span_state)
            if span_compact_every and \
                    epoch_id % span_compact_every == span_compact_every - 1:
                compact_span_state(spark, state_path)
        else:
            from singer_spark.operators.dedup import minhash_lsh_incremental

            seen = read_parquet_or_none(spark, state_path)
            if seen is None:
                seen = spark.createDataFrame(
                    [], f"{id_col} bigint, " + ", ".join(
                        f"h{i} bigint" for i in range(8)))
            surv_sigs = maybe_persist(minhash_lsh_incremental(
                kept.select(id_col, text_col), seen,
                id_col=id_col, text_col=text_col,
                threshold=cfg.minhash_threshold), True)
            out = maybe_persist(
                kept.join(surv_sigs.select(id_col), id_col, "left_semi"),
                metrics_path is not None)
            out.write.mode("append").parquet(out_path)
            n_published = out.count() if metrics_path else 0
            surv_sigs.write.mode("append").parquet(state_path)
        if metrics_path:
            # funnel telemetry LAST (see docstring: output+state are the
            # contract, metrics are observability): the batch's stateless
            # gate funnel + the cross-batch dedup outcome as a final
            # stage.  The funnel frame is <= n_gates+1 rows by
            # construction — the collect is bounded
            stage_rows = sorted(
                curation_funnel_cfg(batch_df, batch_cfg,
                                    _gates=gates).collect(),
                key=lambda r: r.stage_idx)
            rows = [(int(r.stage_idx), r.stage,
                     int(r.n_in), int(r.n_kept), int(r.n_dropped))
                    for r in stage_rows]
            last_kept = rows[-1][3]
            rows.append((rows[-1][0] + 1,
                         f"stream_dedup_{stream_dedup}", last_kept,
                         int(n_published), last_kept - int(n_published)))
            # per-epoch OVERWRITTEN partition (ADVICE r11 #3): a replayed
            # epoch REPLACES its rows instead of appending a second
            # attempt, so "the rows for epoch_id" is deterministic — the
            # last attempt wins structurally, no attempt column or
            # reader-side dedup needed.  epoch_id comes back as the
            # hive-partition column on read.
            spark.createDataFrame(
                rows, "stage_idx int, stage string, "
                      "n_in bigint, n_kept bigint, n_dropped bigint") \
                .coalesce(1).write.mode("overwrite") \
                .parquet(f"{metrics_path}/epoch_id={int(epoch_id)}")
        # batch boundary: the writes above are the last consumers of
        # anything this batch's gates persisted — drain the registry so
        # a long-lived ingestion driver doesn't accumulate one cache
        # (plus its pinned plan objects) per increment (review r8 #1)
        release_cache_handles()

    return (docs_stream.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", checkpoint))


def corpus_to_batches(docs: DataFrame,
                      cfg: CurationConfig = CurationConfig(),
                      benchmark: "DataFrame | None" = None,
                      vocab: "list[tuple[str, int]] | None" = None,
                      vocab_path: "str | None" = None,
                      train_split_only: bool = False,
                      curated: "DataFrame | None" = None,
                      max_len: int = 2048,
                      max_multi: int = 30_000, max_piece_len: int = 6,
                      em_rounds: int = 1, keep_ratio: float = 0.8,
                      max_word_len: int = 16,
                      bucket_width: int = 10_000,
                      target_multi: "int | None" = None) -> DataFrame:
    """Corpus → training batches, end to end (r12, VERDICT r11 task #3)
    — the one query a pretraining-data engineer actually runs: curate
    (the configured gate chain), train or load the unigram tokenizer,
    encode every surviving document, and lay the pieces out as
    fixed-length training windows with a token-budget report.

    Stages (each separately oracle-checked; this composition is pinned
    equal to running them by hand):

    1. :func:`curate` under `cfg` (+ optional benchmark
       decontamination); with `train_split_only` the published split
       gate applies, so batches come from train only;
    2. tokenizer: `vocab` (in-memory) or `vocab_path`
       (:func:`~singer_spark.operators.text_analysis.load_vocab` — the
       production path: train once, reuse per run) or
       :func:`~singer_spark.operators.text_analysis.unigram_train` on
       the CURATED corpus (training on post-gate text keeps junk out of
       the vocabulary), or — with ``target_multi`` set (r13) —
       :func:`~singer_spark.operators.text_analysis
       .unigram_train_to_size`, the shrink-to-exact-vocab-size outer
       loop (`em_rounds` then counts the (EM, shrink) cycles);
    3. :func:`~singer_spark.operators.text_analysis.unigram_encode` —
       one broadcast-vocab Arrow pass;
    4. :func:`~singer_spark.operators.packing.pack_sequences` over the
       per-doc PIECE counts (`count_col` — the unit batches are cut
       in), windows every `max_len` pieces.

    100 TB shape: the survivors persist once and feed trainer + encode;
    the encode is shuffle-free; packing shuffles only (id, n_pieces);
    the 1-row budget report broadcasts onto the output.  Output: one
    row per surviving doc — (doc_id, n_pieces, start_tok, first_chunk,
    last_chunk, n_chunks, offset_in_first_chunk) plus the constant
    report columns (total_tokens, n_windows, n_docs, n_straddling)."""
    from singer_spark.functions import maybe_persist
    from singer_spark.operators.packing import pack_sequences, packing_stats
    from singer_spark.operators.text_analysis import (
        load_vocab,
        unigram_encode,
        unigram_train,
    )

    id_col, text_col = cfg.id_col, cfg.text_col
    # `curated`: an ALREADY-curated frame (e.g. the published dataset a
    # prior curate_and_publish wrote) — skips the gate chain so the CLI
    # can pack what it just published without running the gates twice
    kept = curated if curated is not None else curate(docs, cfg, benchmark)
    if train_split_only:
        if "split" not in kept.columns:
            raise ValueError("train_split_only requires a split column "
                             "(cfg.split=True, or a curated frame that "
                             "carries one)")
        kept = kept.filter(F.col("split") == "train")
    kept = maybe_persist(kept.select(id_col, text_col), True)
    if vocab is None:
        if vocab_path:
            vocab = load_vocab(docs.sparkSession, vocab_path)
        elif target_multi is not None:
            # exact-size contract (r13): the SentencePiece --vocab_size
            # outer loop instead of the one-shot keep_ratio prune.
            # Rounds = enough 0.6-shrinks to reach the target from the
            # seed cap (extra cycles are size-idempotent by
            # construction), or em_rounds if the caller asked for more.
            import math as _math

            from singer_spark.operators.text_analysis import (
                unigram_train_to_size,
            )

            n, need = max_multi, 0
            while n > target_multi and need < 64:
                n, need = _math.ceil(0.6 * n), need + 1
            vocab = unigram_train_to_size(
                kept, target_multi=target_multi,
                rounds=max(1, em_rounds, need), max_multi=max_multi,
                max_piece_len=max_piece_len,
                max_word_len=max_word_len,
                text_col=text_col, id_col=id_col)
        else:
            vocab = unigram_train(kept, max_multi=max_multi,
                                  max_piece_len=max_piece_len,
                                  em_rounds=em_rounds,
                                  keep_ratio=keep_ratio,
                                  max_word_len=max_word_len,
                                  text_col=text_col, id_col=id_col)
    # counts-only encode: packing needs n_pieces, never the piece text —
    # emit_pieces=False keeps the re-tokenized corpus on the Python side
    # instead of shipping it across Arrow to be projected away (guide §4)
    enc = unigram_encode(kept, vocab, max_word_len=max_word_len,
                         text_col=text_col, id_col=id_col,
                         emit_pieces=False)
    # persist the packed layout: packing_stats and the published frame
    # each consumed it — unpersisted, the per-bucket prefix-sum window
    # (one shuffle of the id/count frame) ran twice (guide §2.4)
    packed = maybe_persist(pack_sequences(enc.select(id_col, "n_pieces"),
                                          max_len=max_len, id_col=id_col,
                                          bucket_width=bucket_width,
                                          count_col="n_pieces"), True)
    report = packing_stats(packed, max_len)
    return (packed.withColumnRenamed("n_tokens", "n_pieces")
            .crossJoin(F.broadcast(report))
            .orderBy(id_col))


def funnel_trend(spark, metrics_path: str, sigma: float = 3.0,
                 min_epochs: int = 3) -> DataFrame:
    """Consume the :func:`curate_stream` ``metrics_path`` table (r12,
    VERDICT r11 task #5): per-stage survival rates over epochs plus a
    drift flag — the alert a production curation pipeline pages on
    (a gate suddenly eating 40% more of the stream means upstream
    content shifted or a model/config regressed).

    For each (stage, epoch): ``rate = n_kept / n_in`` (NULL on an empty
    batch), the TRAILING mean/stddev of that stage's rate over all
    PRIOR epochs (the current epoch is excluded — a drifted epoch must
    not mask itself), and ``drift`` true when at least `min_epochs`
    prior epochs exist and |rate − trailing_mean| > `sigma` ·
    trailing_std (flat history ⇒ std 0 ⇒ any change flags).

    Epoch identity is structural: the writer overwrites each epoch's
    hive partition, so exactly one attempt per epoch is ever visible —
    a replayed epoch REPLACES its rows rather than appending a second,
    contradictory attempt (ADVICE r11 #3; pre-r12 append-mode tables
    with differing duplicate attempts are not supported — regenerate).
    A defensive ``distinct()`` absorbs byte-identical leftovers.

    Scale: the metrics table holds ≤ n_gates+2 rows per epoch — years
    of per-minute batches is ~10⁶ rows, driver-trivial; the per-stage
    window partitions on `stage` (never a global window)."""
    from pyspark.sql import Window

    m = spark.read.parquet(metrics_path).distinct()
    rate = F.when(F.col("n_in") > 0,
                  F.col("n_kept").cast("double") / F.col("n_in"))
    w = (Window.partitionBy("stage_idx", "stage")
         .orderBy("epoch_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    out = (m.withColumn("rate", rate)
           .withColumn("trailing_mean", F.avg("rate").over(w))
           .withColumn("trailing_std", F.stddev_samp("rate").over(w))
           .withColumn("n_prior", F.count("rate").over(w)))
    drift = ((F.col("n_prior") >= int(min_epochs))
             & F.col("rate").isNotNull()
             & F.col("trailing_mean").isNotNull()
             & (F.abs(F.col("rate") - F.col("trailing_mean"))
                > F.lit(float(sigma)) * F.coalesce(F.col("trailing_std"),
                                                   F.lit(0.0))))
    return (out.select(F.col("epoch_id").cast("bigint").alias("epoch_id"),
                       "stage_idx", "stage", "n_in", "n_kept", "rate",
                       "trailing_mean", "trailing_std",
                       F.col("n_prior").cast("int").alias("n_prior"),
                       drift.alias("drift"))
            .orderBy("epoch_id", "stage_idx"))


def curate_and_publish(docs: DataFrame, path: str,
                       cfg: CurationConfig = CurationConfig(),
                       benchmark: DataFrame | None = None,
                       partition_by: list[str] | None = None,
                       zorder_by: list[str] | None = None,
                       target_file_mb: float | None = None) -> int:
    """Run :func:`curate` and publish the survivors through the
    layout-controlled writer (hive partitioning / Z-order / file sizing —
    `sinks.write_dataset`).  Returns the number of rows published."""
    from singer_spark.sinks import write_dataset

    kept = curate(docs, cfg, benchmark)
    write_dataset(kept, path, partition_by=partition_by, zorder_by=zorder_by,
                  target_file_mb=target_file_mb)
    return kept.sparkSession.read.parquet(path).count()


def _funnel_from_stages(docs: DataFrame,
                        stages: "list[tuple[str, DataFrame]]",
                        id_col: str = "doc_id") -> DataFrame:
    """Tidy (stage_idx, stage, n_in, n_kept, n_dropped) rows from an
    ordered list of (name, id+`flag` boolean frame) gate stages — the
    ONE copy of the funnel aggregation (:func:`curation_funnel` and the
    cfg-driven :func:`curation_funnel_cfg` both route through it): every
    flag joined once, cumulative conjunctions aggregated in a single
    pass, literal-array explode for the stage rows.  A doc missing from
    a stage frame (or flagged NULL) counts as dropped at that stage."""
    flags = docs.select(F.col(id_col))
    for i, (_name, fr) in enumerate(stages):
        flags = flags.join(
            fr.select(id_col, F.col("flag").alias(f"_g{i+1}")),
            id_col, "left")
    g = [F.coalesce(F.col(f"_g{i+1}"), F.lit(False))
         for i in range(len(stages))]
    cums = []
    acc = None
    for gi in g:
        acc = gi if acc is None else (acc & gi)
        cums.append(acc)
    agg = flags.agg(
        F.count("*").alias("_n0"),
        *[F.sum(c.cast("long")).alias(f"_n{i+1}")
          for i, c in enumerate(cums)])
    rows = [F.struct(F.lit(0).alias("stage_idx"),
                     F.lit("input").alias("stage"),
                     F.col("_n0").alias("n_in"),
                     F.col("_n0").alias("n_kept"))]
    for i, (name, _fr) in enumerate(stages, start=1):
        rows.append(F.struct(F.lit(i).alias("stage_idx"),
                             F.lit(name).alias("stage"),
                             F.col(f"_n{i-1}").alias("n_in"),
                             F.col(f"_n{i}").alias("n_kept")))
    return (agg.select(F.explode(F.array(*rows)).alias("_s"))
            .select(F.col("_s.stage_idx").alias("stage_idx"),
                    F.col("_s.stage").alias("stage"),
                    F.col("_s.n_in").cast("bigint").alias("n_in"),
                    F.col("_s.n_kept").cast("bigint").alias("n_kept"),
                    (F.col("_s.n_in") - F.col("_s.n_kept")).cast("bigint")
                    .alias("n_dropped")))


def _funnel_stages(docs: DataFrame, cfg: CurationConfig,
                   benchmark: "DataFrame | None" = None,
                   _gates: "dict[str, DataFrame] | None" = None
                   ) -> "list[tuple[str, DataFrame]]":
    """The configured gate chain as ordered (name, id+`flag`) stage
    frames, in :func:`curate`'s order.  The per-row gates read one
    persisted projection of `docs` (id plus one boolean per gate); the
    frame gates read :func:`_gate_frames` output."""
    from singer_spark.functions import fan_out, maybe_persist
    from singer_spark.operators.text_analysis import (
        lang_pred_col,
        quality_score_col,
    )

    id_col, text_col = cfg.id_col, cfg.text_col
    gates = _gates if _gates is not None \
        else _gate_frames(docs, cfg, benchmark)

    def survivors(spans: DataFrame) -> DataFrame:
        return spans.select(F.col("id").alias(id_col),
                            _survives_rewrite().alias("flag"))

    row_gates = {}
    if cfg.lang is not None:
        row_gates["lang"] = lang_pred_col(F.col(text_col)) == cfg.lang
    if cfg.min_quality is not None:
        row_gates["quality"] = (quality_score_col(F.col(text_col))
                                >= cfg.min_quality)
    stages: "list[tuple[str, DataFrame]]" = []
    if row_gates:
        flags = maybe_persist(fan_out(docs).select(
            F.col(id_col), *[c.alias(n) for n, c in row_gates.items()]),
            True)
        stages += [(n, flags.select(id_col, F.col(n).alias("flag")))
                   for n in row_gates]
    if cfg.quality_model_seed is not None or cfg.quality_model_path:
        # NULL-text docs pass (the curate() convention)
        stages.append(("quality_model",
                       docs.join(gates["quality_model"], id_col, "left")
                       .select(id_col,
                               ((F.col("keep") == 1)
                                | F.col(text_col).isNull()).alias("flag"))))
    if cfg.repetition_screen:
        stages.append(("repetition", gates["repetition"]
                       .select(id_col, F.col("keep").alias("flag"))))
    if benchmark is not None:
        if cfg.decontaminate_mode == "spans":
            stages.append(("decontaminate",
                           survivors(gates["decontaminate"])))
        else:
            stages.append(("decontaminate", gates["decontaminate"].select(
                F.col("id").alias(id_col),
                (~F.col("contaminated")).alias("flag"))))
    if cfg.dedup == "exact":
        stages.append(("dedup_exact", gates["dedup"]
                       .select(id_col, F.lit(True).alias("flag"))))
    elif cfg.dedup == "minhash":
        stages.append(("dedup_minhash", docs.join(
            gates["dedup"].withColumn("_hit", F.lit(True)), id_col, "left")
            .select(id_col, F.col("_hit").isNull().alias("flag"))))
    elif cfg.dedup == "semantic":
        stages.append(("dedup_semantic", gates["dedup"]
                       .select(id_col, F.col("keep").alias("flag"))))
    elif cfg.dedup == "spans":
        stages.append(("dedup_spans", survivors(gates["dedup"])))
    return stages


def curation_funnel(docs: DataFrame, benchmark: "DataFrame | None" = None,
                    lang: str = "en", min_quality: float = 0.5,
                    decontaminate_k: int = 8, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-gate survivor funnel for the standard curation chain — the
    first diagnostic a pipeline owner reads when a corpus build keeps
    too little (which gate ate the data?) or too much: for each stage
    in `curate()`'s order (lang → quality → repetition →
    decontaminate → exact-dedup → train-split), the docs entering,
    surviving, and dropped.

    The stages are :func:`curation_funnel_cfg`'s for the default
    config, plus two fixed extras: an all-pass ``decontaminate`` row
    when no benchmark is given, and ``split_train``.  Output:
    (stage_idx, stage, n_in, n_kept, n_dropped)."""
    from singer_spark.operators.text_analysis import split_cols

    cfg = CurationConfig(lang=lang, min_quality=min_quality,
                         decontaminate_k=decontaminate_k,
                         text_col=text_col, id_col=id_col)
    stages = _funnel_stages(docs, cfg, benchmark)
    if benchmark is None:  # before the last (dedup_exact) stage
        stages.insert(-1, ("decontaminate",
                           docs.select(id_col, F.lit(True).alias("flag"))))
    stages.append(("split_train", docs.select(
        id_col, (split_cols(id_col)[1] == "train").alias("flag"))))
    return _funnel_from_stages(docs, stages, id_col)


def curation_funnel_cfg(docs: DataFrame, cfg: CurationConfig,
                        benchmark: "DataFrame | None" = None,
                        _gates: "dict[str, DataFrame] | None" = None
                        ) -> DataFrame:
    """Per-gate survivor funnel for the CONFIGURED gate chain — the
    cfg-driven sibling of :func:`curation_funnel` (which reports the
    fixed default chain the oracle checks): stages appear exactly when
    the config enables them, in :func:`curate`'s order, so the funnel's
    final stage count equals `curate(docs, cfg, benchmark).count()` —
    pinned by the consistency pytest, which is what keeps this frame
    and the pipeline from drifting apart.  The split stage is NOT
    reported: `curate` only annotates the split column, it never
    filters on it, and the streaming metrics (:func:`curate_stream`
    `metrics_path`) need final-stage == published.

    100 TB shape: one narrow id+flag frame per enabled gate, one join
    chain, ONE aggregation, tidy rows via :func:`_funnel_from_stages`.
    A caller that already ran `curate` hands the SAME frame-gate frames
    in via `_gates`, so this funnel costs no second frame-gate pass."""
    return _funnel_from_stages(
        docs, _funnel_stages(docs, cfg, benchmark, _gates), cfg.id_col)
