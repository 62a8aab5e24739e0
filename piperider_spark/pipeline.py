"""End-to-end transcript quality-filter pipeline.

spark-submit entry (north rule): read transcripts → signals (pandas UDFs) →
heuristic rules (native exprs + one lag window) → keep/drop + reasons →
scrub → write decisions / scrubbed text / per-bucket metrics + lineage rows,
resumable from the lineage table.

Scale design (SURVEY.md §3.1 "Spark rebuild lifecycle"):
* One logical plan per bucket-wave; Catalyst fuses the signal UDF projection,
  rule expressions, and scrub into a minimal number of stages. The only wide
  exchange is the (conv_id, turn_idx) window shuffle for duplicate-turn.
* Skew: conversations are Zipf-skewed. Work is partitioned by
  ``bucket = pmod(xxhash64(conv_id), n_buckets)`` — a salted, uniform
  re-keying of conv space (all turns of a conv stay together, buckets are
  balanced in expectation) — plus AQE skew handling for the residual tail.
* Lineage/resume: each completed bucket writes one lineage row (run_id,
  bucket, counts, wall ms). A restarted run anti-joins finished buckets and
  only processes the remainder — the Iceberg-snapshot checkpoint model of
  SURVEY.md §2.9 expressed over parquet in this sandbox.
* At 10^12 turns: n_buckets scales to ~10^4; each wave is an independent
  job over ~10^8 turns, bounded memory, restartable at bucket granularity.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from piperider_spark.functions.text import fingerprint
from piperider_spark.operators import bpe, classifier, dedup, dsir, langid_model
from piperider_spark.rules.heuristics import apply_rules
from piperider_spark.rules.spec import DEFAULT_SPEC, RuleSpec

TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def build_decisions(df: DataFrame, spec: RuleSpec = DEFAULT_SPEC) -> DataFrame:
    """The core logical plan: JVM rules → one fused python stage (signals +
    conditional scrub) → reasons/keep.

    Plan shape (see PLANS.md / BASELINE.md scaling notes):
    * Window FIRST: the duplicate-turn lag is the plan's only wide exchange,
      and everything downstream then runs at shuffle-partition parallelism
      (2-3× cores, hash-balanced on conv_id) instead of input-split
      parallelism.
    * The five JVM-evaluable rules are computed as native expressions, and
      their disjunction rides INTO the fused python UDF so scrub is only
      applied to rows that will actually be kept (Spark would otherwise
      evaluate a CASE-guarded scrub UDF unconditionally — UDF extraction).
    * ONE Arrow crossing total: text + one boolean in; lang/ppl/token
      stats/scrubbed out.

    Input contract: ``turn_idx`` is unique within a conversation. With a
    duplicate ``turn_idx`` the lag-1 duplicate-turn rule compares rows in
    an unspecified order, so its result is undefined (the streaming filter
    states the same).
    """
    from piperider_spark.rules.heuristics import duplicate_turn_col, rule_columns
    from piperider_spark.signals.udfs import make_process_udf

    cols = rule_columns(spec)
    jvm_rules = ("role_invalid", "text_empty", "too_long", "tool_json_invalid")
    flagged = df.withColumns(
        {f"r_{name}": F.coalesce(cols[name], F.lit(False)) for name in jvm_rules}
    )
    if "r_duplicate_turn" not in flagged.columns:
        flagged = flagged.withColumn(
            "r_duplicate_turn", F.coalesce(duplicate_turn_col(spec), F.lit(False))
        )
    jvm_drop = (
        F.col("r_role_invalid")
        | F.col("r_text_empty")
        | F.col("r_too_long")
        | F.col("r_tool_json_invalid")
        | F.col("r_duplicate_turn")
    )

    process = make_process_udf(spec)
    sig = (
        flagged.withColumn("_sig", process(F.col("text"), jvm_drop))
        .withColumns(
            {
                "lang": F.col("_sig.lang"),
                "ppl": F.col("_sig.ppl"),
                "n_tok": F.col("_sig.n_tok"),
                "rep_ratio": F.col("_sig.rep_ratio"),
                "text_scrubbed": F.col("_sig.text_scrubbed"),
            }
        )
        .drop("_sig")
    )
    decided = apply_rules(sig, spec)
    # The UDF delta-encodes its scrub output (NULL = byte-identical to the
    # input, the common case) to shrink the Arrow return payload; restore
    # the full contract here: kept rows always carry their (possibly
    # unchanged) scrubbed text, dropped rows NULL. keep ⇒ text IS NOT NULL
    # (the text_empty rule drops null/blank text), so the coalesce is total.
    return decided.withColumn(
        "text_scrubbed",
        F.when(F.col("keep"), F.coalesce(F.col("text_scrubbed"), F.col("text"))),
    )


def conversation_rollup(
    decided: DataFrame, min_keep_frac: float = 0.5
) -> DataFrame:
    """Conversation-grain decisions over per-turn ones: keep a conversation
    iff its kept-turn fraction reaches ``min_keep_frac`` — the curation
    policy for corpora where a mostly-bad conversation poisons the rest
    of its turns.

    Scale shape: every aggregate here is partial/map-side combinable
    (including n_roles — collect_set over a bounded enum, NOT a distinct
    aggregate), so the turn-grain rows are collapsed to conversation-grain
    partial rows BEFORE the aggregate's exchange; the only data this
    groupBy shuffles is ~one row per conversation per task. (AQE's
    post-window partition coalescing means Spark still plans that exchange
    rather than reusing the window's — measured; the exchange is narrow.)
    Plan-asserted in test_pipeline: exchanges on conv_id only, never on
    (conv_id, role)."""
    agg = decided.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        # NOT count_distinct: a distinct aggregate re-exchanges on
        # (conv_id, role), breaking the window-exchange reuse. collect_set
        # partial-aggregates map-side and roles are a bounded enum.
        F.size(F.collect_set("role")).alias("n_roles"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )
    frac = F.col("n_kept") / F.col("n_turns").cast("double")
    return agg.withColumns(
        {
            "keep_frac": F.round(frac, 6),
            "conv_keep": frac >= F.lit(min_keep_frac),
        }
    )


@dataclass
class PipelineResult:
    run_id: str
    n_buckets: int
    buckets_processed: int
    buckets_skipped: int
    decisions_path: str
    metrics_path: str
    lineage_path: str


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def read_input(spark: SparkSession, input_path: str) -> DataFrame:
    """Resolve the pipeline input: ``table:<identifier>`` reads a catalog
    table (``spark.read.table``) — with an Iceberg catalog configured this
    IS the north rule's Iceberg input, no code change; the staging write
    then snapshots the referenced table state for the run, so resume stays
    consistent even if the live table advances. Anything else is a parquet
    path/dir."""
    if input_path.startswith("table:"):
        return spark.read.table(input_path[len("table:"):])
    return spark.read.parquet(input_path)


def _input_key(input_path: str) -> str:
    """Stable identity for the staging manifest (table ids are not paths)."""
    if input_path.startswith("table:"):
        return input_path
    return os.path.abspath(input_path)


def _artifact_key(path: str) -> str:
    """CONTENT identity for a loaded artifact (bloom snapshot / dsir ratio
    / bpe merges / clf / langid model): abspath plus an md5 over the sorted
    (relpath, size, mtime_ns) listing. Mode strings carry this so an
    artifact updated IN PLACE at the same path invalidates resume and the
    dup_convs sidecar — the documented "resuming against a different
    snapshot reprocesses" contract, which bare path identity cannot keep
    (review finding: epoch workflows that overwrite latest.bloom reused
    stale sidecars)."""
    h = hashlib.md5()
    if os.path.isdir(path):
        for root, dirs, files in sorted(os.walk(path)):
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                rel = os.path.relpath(fp, path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return f"{os.path.abspath(path)}@{h.hexdigest()[:12]}"


def _artifact(arg: str, path: str) -> str:
    """``_artifact_key`` of the artifact a ``run_pipeline`` argument names,
    checked for existence first: a mistyped path fails here, naming the
    argument, before staging writes anything."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"{arg}: no artifact at {path!r}")
    return _artifact_key(path)


def _spec_sig(spec: RuleSpec) -> str:
    """Deterministic digest of the frozen rule thresholds — lineage rows
    carry it so resuming with a CHANGED RuleSpec reprocesses instead of
    serving decisions computed under the old policy (review finding: every
    other knob was tracked, the spec itself was not)."""
    return hashlib.md5(repr(spec).encode()).hexdigest()[:12]


def _sidecar(
    path: str, name: str, meta: dict, fit: Callable[[str], None], reuse: bool = True
) -> bool:
    """The reuse gate of every derived directory (staged input and stage
    sidecars): keep ``path`` iff it committed (``_SUCCESS``) under an equal
    ``_<name>_meta.json`` manifest — never on mere existence. Otherwise
    ``fit(path)`` overwrites it and the manifest follows the commit.
    Returns whether it wrote."""
    meta_path = os.path.join(path, f"_{name}_meta.json")
    if reuse and os.path.exists(os.path.join(path, "_SUCCESS")):
        try:
            with open(meta_path) as fh:
                if json.load(fh) == meta:
                    return False
        except (OSError, ValueError):
            pass
    fit(path)
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return True


def _write_small(df: DataFrame, path: str) -> None:
    """A fitted table (≤ a few thousand rows) as one tiny file."""
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _write_by_bucket(df: DataFrame, path: str, overwrite: str = "static") -> None:
    """Overwrite ``path`` partitioned by ``bucket``: the whole directory
    (``"static"``), or only the buckets ``df`` holds (``"dynamic"``)."""
    (
        df.repartition("bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", overwrite)
        .partitionBy("bucket")
        .parquet(path)
    )


def _epoch_snapshot(hist: dict | None, build, expected: int | None, out: str) -> None:
    """Write the next epoch's Bloom snapshot: history ∪ this corpus in the
    history's layout; the first epoch (no history) sizes the layout from
    ``expected``. Derived from the staged input and the history artifact
    only, so a resumed or no-op run rewrites the same content (save_bloom
    renames atomically)."""
    cur = build(
        expected=None if hist else expected,
        fpp=hist["fpp"] if hist else 0.01,
        layout=(hist["m_bits"], hist["k"]) if hist else None,
    )
    dedup.save_bloom(dedup.bloom_or(hist, cur) if hist else cur, out)


@dataclass
class _Stage:
    """One optional stage of ``run_pipeline`` (its docstring states the
    contract they share). ``mode`` is the stage's identity, "none" when
    off; lineage records it as ``<name>_mode`` and the sidecar manifest is
    ``_<name>_meta.json``."""

    name: str
    mode: str
    # per-wave projection: (wave input, loaded state, wave buckets) → input
    apply: Callable[[DataFrame, Any, list[int]], DataFrame]
    load: Callable[[str], Any]  # artifact or sidecar path → state for apply
    out_cols: tuple[str, ...] = ()  # columns it adds to decisions/
    artifact: str | None = None  # externally supplied artifact, loaded as is
    sidecar: str | None = None  # else `fit` writes this dir under output_dir
    fit: Callable[[DataFrame, str], None] | None = None  # (staged input, sidecar path)
    # after the waves, whether or not the stage is on: (staged input, state)
    finish: Callable[[DataFrame, Any], None] | None = None


_DUP_SCHEMA = (
    "conv_id string, canonical_conv_id string, fp string, "
    "group_size long, method string, bucket int"
)


def _dedup_stage(
    spark: SparkSession,
    n_buckets: int,
    exact: bool,
    near: bool,
    threshold: float,
    history: str | None,
    out: str | None,
    expected: int | None,
) -> _Stage:
    mode = "+".join(
        part
        for part in (
            "exact" if exact else "",
            f"near:{threshold}" if near else "",
            f"bloom:{_artifact('bloom_history', history)}" if history else "",
        )
        if part
    )

    def fit(src: DataFrame, path: str) -> None:
        # ONE corpus-wide pass. Exact leg: conversation rollup (single
        # shuffle on conv_id, map-side partial collect_list) + fingerprint
        # groupBy on a 16-byte key + join back. Near leg: MinHash-LSH pairs
        # over the rollup (bucket-capped banded join, exact-Jaccard verify
        # — eager-materializing) + label-propagation components; canonical
        # = the cluster's min conv_id, matching the exact leg's policy.
        legs = []
        # the conversation rollup (one shuffle on conv_id) is shared by the
        # exact and bloom legs; persist only when both consume it
        rolled = dedup.conversation_text(src, sep="\x1e") if (exact or history) else None
        if exact and history:
            rolled = rolled.persist()
        if exact:
            convs = rolled.select("conv_id", fingerprint("conv_text").alias("fp"))
            stats = convs.groupBy("fp").agg(
                F.count(F.lit(1)).alias("group_size"),
                F.min("conv_id").alias("canonical_conv_id"),
            )
            legs.append(
                convs.join(stats, "fp")
                .where(
                    (F.col("group_size") > 1)
                    & (F.col("conv_id") != F.col("canonical_conv_id"))
                )
                .select(
                    "conv_id",
                    "canonical_conv_id",
                    "fp",
                    "group_size",
                    F.lit("exact").alias("method"),
                )
            )
        if near:
            pairs = dedup.conversation_near_dup_pairs(src, threshold=threshold)
            clusters = dedup.connected_components(pairs, id_a="id_a", id_b="id_b")
            sizes = clusters.groupBy("cluster_id").agg(
                F.count(F.lit(1)).alias("group_size")
            )
            legs.append(
                clusters.where(F.col("id") != F.col("cluster_id"))
                .join(sizes, "cluster_id")
                .select(
                    F.col("id").alias("conv_id"),
                    F.col("cluster_id").alias("canonical_conv_id"),
                    F.lit(None).cast("string").alias("fp"),
                    "group_size",
                    F.lit("near").alias("method"),
                )
            )
        if history:
            # cross-run leg: probe each conversation's transcript
            # fingerprint against the history snapshot — map-side (one
            # conv rollup shuffle, ZERO shuffle against the archive).
            # canonical_conv_id is NULL: the keeper lives in a previous
            # epoch's output. group_size NULL likewise (unknown here).
            legs.append(
                dedup.bloom_seen_flags(rolled, dedup.load_bloom(history), text_col="conv_text")
                .where(F.col("maybe_seen"))
                .select(
                    "conv_id",
                    F.lit(None).cast("string").alias("canonical_conv_id"),
                    fingerprint("conv_text").alias("fp"),
                    F.lit(None).cast("long").alias("group_size"),
                    F.lit("bloom_history").alias("method"),
                )
            )
        dups = legs[0]
        for leg in legs[1:]:
            dups = dups.unionByName(leg)
        # bucket is a pure function of conv_id, so the sidecar partitions
        # align with the staged input's
        _write_by_bucket(dups.withColumn("bucket", _bucket_col(n_buckets)), path)
        if exact and history:
            rolled.unpersist()

    def apply(part: DataFrame, dups: DataFrame, wave: list[int]) -> DataFrame:
        # left-anti on conv_id: both sides pruned to this wave's buckets; no
        # broadcast hint — the dup list is usually tiny (AQE broadcasts it)
        # but is corpus-shaped in the worst case
        wave_dups = dups.where(F.col("bucket").isin(wave)).select("conv_id")
        return part.join(wave_dups, "conv_id", "left_anti")

    def finish(src: DataFrame, _: Any) -> None:
        build = functools.partial(
            dedup.build_fingerprint_bloom,
            dedup.conversation_text(src, sep="\x1e"),
            text_col="conv_text",
        )
        hist = dedup.load_bloom(history) if history else None
        _epoch_snapshot(hist, build, expected, out)

    return _Stage(
        "dedup",
        mode or "none",
        apply,
        # explicit schema: a dup-free corpus writes a file-less sidecar
        # (only _SUCCESS), which schema inference cannot read
        load=lambda path: spark.read.schema(_DUP_SCHEMA).parquet(path),
        sidecar="dup_convs",
        fit=fit,
        finish=finish if out else None,
    )


def _mode(arg: str, path: str | None, fitted: str | None) -> str:
    """``path:<artifact identity>`` for a stage that loads ``path``, else
    ``fitted`` (the identity of its in-run fit), else "none"."""
    return f"path:{_artifact(arg, path)}" if path else fitted or "none"


def _dsir_stage(
    spark: SparkSession, predicate: str | None, ratio_path: str | None, n: int
) -> _Stage:
    mode = _mode("dsir_ratio_path", ratio_path, predicate and f"fit:{predicate}")

    def fit(src: DataFrame, path: str) -> None:
        target = src.where(F.expr(predicate))
        _write_small(dsir.fit_bucket_log_ratio(src, target, text_col="text", n_buckets=n), path)

    return _Stage(
        "dsir",
        mode if mode == "none" else f"{mode}:{n}",
        lambda part, arr, wave: part.withColumn("dsir_score", dsir.dsir_score_col("text", arr)),
        # bounded collect (≤ n rows) → one array literal in every wave's plan
        load=lambda path: dsir.log_ratio_array(spark.read.parquet(path), n_buckets=n),
        out_cols=("dsir_score",),
        artifact=ratio_path,
        sidecar="dsir_ratio",
        fit=fit,
    )


def _substr_stage(
    spark: SparkSession,
    history: str | None,
    out: str | None,
    expected: int | None,
    k_tokens: int,
) -> _Stage:
    def load(path: str) -> tuple[dict, Any]:
        bloom = dedup.load_bloom(path)
        if bloom.get("grain") != "window":
            raise ValueError(
                f"--substr-bloom-history needs a window-grain artifact "
                f"(build_window_bloom), got grain="
                f"{bloom.get('grain', 'fingerprint')!r} from {path}"
            )
        # ONE broadcast of the (potentially GB-scale) bitset for the whole
        # run — window_seen_stats would otherwise re-broadcast it every wave
        return bloom, spark.sparkContext.broadcast(bloom["bits"])

    def apply(part: DataFrame, state: tuple[dict, Any], wave: list[int]) -> DataFrame:
        bloom, bits_bc = state
        return (
            dedup.window_seen_stats(
                part, bloom, k_tokens=int(bloom["k_tokens"]), bits_bc=bits_bc
            )
            .withColumnRenamed("seen_frac", "substr_seen_frac")
            .drop("n_tokens", "seen_windows", "seen_token_cov")
        )

    def finish(src: DataFrame, state: tuple[dict, Any] | None) -> None:
        # epoch 1 sets k_tokens + layout, later epochs inherit both
        hist = state[0] if state else None
        k = int(hist["k_tokens"]) if hist else k_tokens
        build = functools.partial(dedup.build_window_bloom, src, k_tokens=k)
        _epoch_snapshot(hist, build, expected, out)

    return _Stage(
        "substr",
        f"bloom:{_artifact('substr_bloom_history', history)}" if history else "none",
        apply,
        load,
        out_cols=("substr_seen_frac",),
        artifact=history,
        finish=finish if out else None,
    )


def _bpe_stage(spark: SparkSession, path: str | None, n_merges: int | None) -> _Stage:
    def fit(src: DataFrame, out: str) -> None:
        counts = bpe.bpe_word_counts(src, "text", min_count=2, top_words=50_000)
        merges = bpe.train_bpe(counts, n_merges=int(n_merges))
        _write_small(bpe.merges_to_df(spark, merges), out)

    return _Stage(
        "bpe",
        _mode("bpe_merges_path", path, n_merges and f"train:{int(n_merges)}"),
        lambda part, merges, wave: part.withColumn(
            "n_bpe_subwords", bpe.bpe_subword_count_col(merges, "text")
        ),
        load=lambda p: bpe.load_merges(spark, p),
        out_cols=("n_bpe_subwords",),
        artifact=path,
        sidecar="bpe_merges",
        fit=fit,
    )


def _clf_stage(
    spark: SparkSession, spec: RuleSpec, path: str | None, epochs: int | None
) -> _Stage:
    def fit(src: DataFrame, out: str) -> None:
        # self-distillation: the frozen spec's keep labels
        labeled = build_decisions(src, spec).select("text", "keep")
        model = classifier.fit_quality_classifier(labeled, epochs=int(epochs))
        _write_small(classifier.model_to_df(spark, model), out)

    return _Stage(
        "clf",
        _mode("clf_model_path", path, epochs and f"train:{int(epochs)}"),
        lambda part, model, wave: part.withColumn(
            "clf_score", classifier.classifier_score_col("text", model)
        ),
        load=lambda p: classifier.model_from_df(spark.read.parquet(p)),
        out_cols=("clf_score",),
        artifact=path,
        sidecar="clf_model",
        fit=fit,
    )


def _langid_stage(
    spark: SparkSession, spec: RuleSpec, path: str | None, epochs: int | None
) -> _Stage:
    def fit(src: DataFrame, out: str) -> None:
        # distills the frozen heuristic's lang labels
        labeled = build_decisions(src, spec).select("text", "lang")
        model = langid_model.fit_langid_model(labeled, label_col="lang", epochs=int(epochs))
        _write_small(langid_model.langid_model_to_df(spark, model), out)

    return _Stage(
        "langid",
        _mode("langid_model_path", path, epochs and f"train:{int(epochs)}"),
        # the frozen `lang` column is untouched: ft_lang rides next to it
        lambda part, model, wave: langid_model.langid_scored(part, model, "text"),
        load=lambda p: langid_model.langid_model_from_df(spark.read.parquet(p)),
        out_cols=("ft_lang", "ft_lang_prob"),
        artifact=path,
        sidecar="langid_model",
        fit=fit,
    )


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    spec: RuleSpec = DEFAULT_SPEC,
    n_buckets: int = 16,
    run_id: str | None = None,
    resume: bool = True,
    wave_buckets: int = 8,
    conv_rollup: bool = False,
    conv_min_keep_frac: float = 0.5,
    conv_dedup: bool = False,
    conv_near_dedup: bool = False,
    conv_near_threshold: float = 0.85,
    bloom_history: str | None = None,
    bloom_out: str | None = None,
    bloom_expected: int | None = None,
    dsir_fit: str | None = None,
    dsir_ratio_path: str | None = None,
    dsir_buckets: int = 4096,
    substr_bloom_history: str | None = None,
    substr_bloom_out: str | None = None,
    substr_bloom_expected: int | None = None,
    substr_bloom_k: int = 8,
    bpe_merges_path: str | None = None,
    bpe_train: int | None = None,
    clf_model_path: str | None = None,
    clf_train: int | None = None,
    langid_model_path: str | None = None,
    langid_train: int | None = None,
) -> PipelineResult:
    """Execute (or resume) the filter job over a transcripts parquet/dir.

    Outputs under ``output_dir``:
      decisions/      conv_id, turn_idx, role, ts, keep, reasons, lang, ppl,
                      text_scrubbed (+ the active stages' columns) —
                      partitioned by bucket
      metrics/        per-bucket PipeRider-style profile rows
      lineage/        one row per completed (run, bucket)
      conversations/  (when ``conv_rollup``) conversation-grain stats +
                      conversation-level keep — partitioned by bucket, same
                      idempotent dynamic-overwrite contract as metrics
      dup_convs/      (when dedup is on) the dropped duplicate conversations
                      (conv_id, canonical_conv_id, fp, group_size, method)
                      — the audit record of what dedup removed

    Six optional stages ride the waves, all off by default: dedup, DSIR,
    substring Bloom, BPE, classifier and learned langid. They share one
    contract:
    * Mode. A stage's arguments reduce to a mode string ("none" = off). A
      loaded artifact enters it by content identity (path + listing
      digest), so an artifact swapped in place counts as a new mode; a
      missing artifact raises FileNotFoundError naming the argument before
      anything is written.
    * Fit once per staging. A stage that learns from the corpus writes its
      sidecar directory under ``output_dir`` once and reuses it while the
      sidecar's ``_<stage>_meta.json`` records the same mode. A restage
      (new input, new ``n_buckets`` or ``resume=False``) purges every
      sidecar along with the outputs and lineage.
    * Resume. Lineage rows record every stage's mode as ``<stage>_mode``.
      A bucket is done only if its LATEST lineage row matches the current
      modes, the RuleSpec digest and, with ``conv_rollup``, the rollup
      fraction, so a mode flip reprocesses rather than mixing outputs.
    * Zero shuffle per wave. Each stage is a row-local projection of the
      wave's input (dedup: an anti-join pruned to the wave's buckets); a
      fitted table rides the plan as a literal or a broadcast.

    The stages:
    * Dedup (sidecar dup_convs/). ``conv_dedup`` drops exactly-duplicated
      conversations (stable-turn-order transcript fingerprint, \\x1e-joined
      so turn boundaries stay in the key); ``conv_near_dedup`` also drops
      NEAR-duplicates (MinHash-LSH at ``conv_near_threshold`` Jaccard +
      label-propagation components). Each cluster keeps its lexically-first
      conv_id. ``bloom_history`` dedups ACROSS runs: conversations whose
      fingerprint probes seen in a previous epoch's Bloom snapshot
      (operators/dedup.save_bloom) are dropped (method ``bloom_history``,
      canonical NULL) with zero shuffle against the archive; ~fpp of new
      conversations are falsely dropped. ``bloom_out`` writes the next
      epoch's snapshot (history ∪ this corpus, inherited layout) after the
      waves; on the first epoch ``bloom_expected`` sizes it for the
      archive's growth horizon.
    * DSIR (sidecar dsir_ratio/). ``dsir_fit``, a SQL predicate selecting
      the TARGET slice (e.g. ``"role = 'assistant'"``), fits the
      ``dsir_buckets``-bucket log-ratio table; ``dsir_ratio_path`` loads
      an externally fitted one. Adds ``dsir_score``.
    * Substring Bloom. ``substr_bloom_history``, a WINDOW-grain snapshot
      (operators/dedup.build_window_bloom), adds ``substr_seen_frac``: the
      fraction of each turn's tokens covered by k-token windows already in
      the archive. A score, not a drop. ``substr_bloom_out`` writes the
      next epoch's window snapshot; epoch 1 sizes it from
      ``substr_bloom_expected`` / ``substr_bloom_k``.
    * BPE (sidecar bpe_merges/). ``bpe_train`` learns that many merges
      (one word-count shuffle, then the driver merge loop);
      ``bpe_merges_path`` loads a merge table. Adds ``n_bpe_subwords``,
      each turn's model-token count.
    * Classifier (sidecar clf_model/). ``clf_train`` distills the frozen
      spec's keep labels into a hashed-n-gram logistic regression for that
      many epochs; ``clf_model_path`` loads one. Adds ``clf_score``, the
      learned keep-probability.
    * Learned langid (sidecar langid_model/). ``langid_train`` distills the
      frozen heuristic's ``lang`` labels into the fastText-style n-gram
      softmax; ``langid_model_path`` loads one. Adds ``ft_lang`` /
      ``ft_lang_prob`` next to the untouched frozen ``lang``."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    run_id = run_id or uuid.uuid4().hex[:12]
    decisions_path = os.path.join(output_dir, "decisions")
    metrics_path = os.path.join(output_dir, "metrics")
    lineage_path = os.path.join(output_dir, "lineage")
    staged_path = os.path.join(output_dir, "staged")
    conversations_path = os.path.join(output_dir, "conversations")

    # List order = order of the decisions/ columns, the lineage mode
    # columns and the per-wave projections. Built before staging, so a
    # missing artifact fails before anything is written.
    stages = [
        _dedup_stage(
            spark, n_buckets, conv_dedup, conv_near_dedup, conv_near_threshold,
            bloom_history, bloom_out, bloom_expected,
        ),
        _dsir_stage(spark, dsir_fit, dsir_ratio_path, dsir_buckets),
        _substr_stage(
            spark, substr_bloom_history, substr_bloom_out,
            substr_bloom_expected, substr_bloom_k,
        ),
        _bpe_stage(spark, bpe_merges_path, bpe_train),
        _clf_stage(spark, spec, clf_model_path, clf_train),
        _langid_stage(spark, spec, langid_model_path, langid_train),
    ]
    active = [s for s in stages if s.mode != "none"]

    # Stage the input ONCE, partitioned by bucket, so every wave (and every
    # resume) prunes to its bucket directories at the scan. The previous
    # design filtered on a derived bucket column, which cannot prune files —
    # each wave re-scanned the full input (O(waves) scans; at the documented
    # 10^4-bucket scale that is the pipeline's dominant cost). One extra
    # full write buys O(1) scans of each byte. Reuse is gated on a staging
    # manifest (input path + n_buckets): a resumed run must not silently
    # read stale data staged from a different input or with a different
    # bucket modulus, and resume=False always restages.
    restaged = _sidecar(
        staged_path,
        "staging",
        {"input_path": _input_key(input_path), "n_buckets": n_buckets},
        lambda path: _write_by_bucket(
            read_input(spark, input_path).withColumn("bucket", _bucket_col(n_buckets)), path
        ),
        reuse=resume,
    )
    if restaged:
        # Restaging means the prior run's work does not apply — clear ALL
        # prior outputs. Stale lineage would mark buckets done and return
        # the old outputs wholesale; stale decisions/metrics/conversations
        # partitions would survive dynamic overwrite wherever the new input
        # puts zero rows in a bucket the old input populated; a sidecar's
        # gate records only its mode, so it would serve a fit of the OLD
        # corpus.
        for stale in (
            lineage_path,
            decisions_path,
            metrics_path,
            conversations_path,
            *(os.path.join(output_dir, s.sidecar) for s in stages if s.sidecar),
        ):
            shutil.rmtree(stale, ignore_errors=True)
    src = spark.read.parquet(staged_path)

    # each active stage reads a supplied artifact or fits its sidecar once
    # per staging+mode, then loads what its per-wave projection needs
    state: dict[str, Any] = {}
    for s in active:
        path = s.artifact or os.path.join(output_dir, s.sidecar)
        if s.artifact is None:
            _sidecar(path, s.name, {"mode": s.mode}, functools.partial(s.fit, src))
        state[s.name] = s.load(path)

    spec_sig = _spec_sig(spec)
    done: set[int] = set()
    if resume and os.path.isdir(lineage_path):
        try:
            # mergeSchema: lineage written before a column existed must
            # still read
            lin = spark.read.option("mergeSchema", "true").parquet(lineage_path)

            def recorded(name: str, default: Any) -> F.Column:
                # a column absent from older lineage, or NULL in it, reads
                # as the default it was produced under
                if name in lin.columns:
                    return F.coalesce(F.col(name), F.lit(default))
                return F.lit(default)

            fields = {f"{s.name}_mode": recorded(f"{s.name}_mode", "none") for s in stages}
            if "dedup_mode" not in lin.columns:  # pre-mode lineage: boolean flag
                flag = recorded("conv_dedup", False)
                fields["dedup_mode"] = F.when(flag, "exact").otherwise("none")
            fields["spec_sig"] = recorded("spec_sig", _spec_sig(DEFAULT_SPEC))
            fields["conv_rollup"] = recorded("conv_rollup", False)
            fields["rollup_frac"] = recorded("rollup_frac", 0.5)
            # Judge each bucket by its LATEST lineage row only: lineage is
            # append-only, so after a mode flip (e.g. dedup on → off → on)
            # both mode values exist for a bucket, but decisions/ holds
            # only the most recent processing's content.
            last = lin.groupBy("bucket").agg(
                F.max_by(
                    F.struct(*(c.alias(k) for k, c in fields.items())),
                    recorded("ts", 0.0),
                ).alias("s")
            )
            # decisions depend on the rule thresholds themselves: a changed
            # RuleSpec must reprocess every bucket
            ok = F.col("s.spec_sig") == F.lit(spec_sig)
            for s in stages:
                ok &= F.col(f"s.{s.name}_mode") == F.lit(s.mode)
            if conv_rollup:
                # the rollup threshold shapes conversations/ content; only
                # binding when the rollup is requested
                ok &= F.col("s.conv_rollup") & (
                    F.col("s.rollup_frac") == F.lit(float(conv_min_keep_frac))
                )
            done = {r["bucket"] for r in last.where(ok).collect()}
        except Exception:
            done = set()

    out_cols = [
        "bucket", "conv_id", "turn_idx", "role", "ts",
        "keep", "reasons", "lang", "ppl", "text_scrubbed",
        *(c for s in active for c in s.out_cols),
    ]
    lineage_row = (conv_rollup, *(s.mode for s in stages), spec_sig, float(conv_min_keep_frac))
    lineage_schema = (
        "run_id string, bucket int, elapsed_ms long, conv_rollup boolean, "
        + "".join(f"{s.name}_mode string, " for s in stages)
        + "spec_sig string, rollup_frac double, ts double"
    )
    todo = [b for b in range(n_buckets) if b not in done]
    processed = 0
    # Process pending buckets in waves: ONE job per wave (not per bucket — a
    # per-bucket loop would rescan the input n_buckets times). The wave size
    # bounds how much work a crash can lose; lineage commits per wave.
    for w in range(0, len(todo), max(wave_buckets, 1)):
        wave = todo[w : w + max(wave_buckets, 1)]
        t0 = time.time()
        # partition-column predicate → directory pruning at the scan
        part = src.where(F.col("bucket").isin(wave))
        for s in active:
            part = s.apply(part, state[s.name], wave)
        # Make dynamic overwrite EXACT for reprocessed buckets: a mode-flip
        # reprocess that yields ZERO rows for a bucket writes no partition
        # at all, and dynamic overwrite would leave the previous
        # processing's rows behind while lineage records the bucket done
        # under the new mode (review finding). Every bucket in this wave is
        # in `todo` — i.e. NOT committed under the current modes — so
        # purging its partitions is safe; a crash before the lineage append
        # leaves the bucket not-done and it reprocesses.
        for base in (decisions_path, metrics_path, conversations_path):
            for b in wave:
                shutil.rmtree(os.path.join(base, f"bucket={b}"), ignore_errors=True)

        # persist: decisions write AND the metrics groupBy both consume
        # `decided`; without it the fused signals/scrub UDF stage and the
        # lag-window shuffle would execute twice per wave
        decided = build_decisions(part, spec).persist()
        (
            decided.select(*out_cols)
            .repartition("bucket")
            .sortWithinPartitions("conv_id", "turn_idx")  # stable north-rule ordering
            .write.mode("overwrite")  # dynamic: replaces only this wave's buckets
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(decisions_path)
        )

        # per-bucket metrics: PipeRider's run.json per partition (SURVEY §7.1
        # item 5) — one groupBy(bucket) over the wave (partial agg map-side)
        reason_aggs = [
            F.sum(F.col(f"r_{name}").cast("long")).alias(f"n_{name}")
            for name in spec.reason_order
        ]
        metrics = (
            decided.groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum(F.col("keep").cast("long")).alias("n_kept"),
                F.count_distinct("conv_id").alias("n_convs"),
                F.min("ts").alias("ts_min"),
                F.max("ts").alias("ts_max"),
                *reason_aggs,
            )
            .withColumn("run_id", F.lit(run_id))
        )
        # dynamic overwrite: idempotent under crash-resume
        _write_by_bucket(metrics, metrics_path, "dynamic")
        if conv_rollup:
            # bucket is a pure function of conv_id — recompute it on the
            # conversation-grain rows (no join back to the turn-grain data)
            rollup = conversation_rollup(decided, conv_min_keep_frac)
            _write_by_bucket(
                rollup.withColumn("bucket", _bucket_col(n_buckets)),
                conversations_path,
                "dynamic",
            )
        decided.unpersist()

        elapsed = int((time.time() - t0) * 1000)
        spark.createDataFrame(
            [(run_id, b, elapsed, *lineage_row, time.time()) for b in wave],
            lineage_schema,
        ).write.mode("append").parquet(lineage_path)
        processed += len(wave)

    for s in stages:
        if s.finish:
            s.finish(src, state.get(s.name))

    return PipelineResult(
        run_id=run_id,
        n_buckets=n_buckets,
        buckets_processed=processed,
        buckets_skipped=len(done),
        decisions_path=decisions_path,
        metrics_path=metrics_path,
        lineage_path=lineage_path,
    )


def main() -> None:  # pragma: no cover — spark-submit entry
    import argparse

    from piperider_spark.session import get_spark

    p = argparse.ArgumentParser(description="transcript quality-filter pipeline")
    p.add_argument(
        "--input",
        required=True,
        help="parquet path/dir, or table:<catalog identifier> "
        "(an Iceberg table when an Iceberg catalog is configured)",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--conv-rollup",
        action="store_true",
        help="also write conversations/ (conversation-grain stats + keep)",
    )
    p.add_argument(
        "--conv-min-keep-frac",
        type=float,
        default=0.5,
        help="kept-turn fraction a conversation needs for conv_keep "
        "(with --conv-rollup; default 0.5)",
    )
    p.add_argument(
        "--wave-buckets",
        type=int,
        default=8,
        help="buckets per wave job (bounds crash-loss granularity; default 8)",
    )
    p.add_argument(
        "--conv-dedup",
        action="store_true",
        help="drop exactly-duplicated conversations before the rules run "
        "(dropped list written to dup_convs/)",
    )
    p.add_argument(
        "--conv-near-dedup",
        action="store_true",
        help="also drop NEAR-duplicate conversations (MinHash-LSH + "
        "connected components at --conv-near-threshold Jaccard)",
    )
    p.add_argument("--conv-near-threshold", type=float, default=0.85)
    p.add_argument(
        "--bloom-history",
        default=None,
        help="Bloom snapshot of previous epochs' conversation fingerprints "
        "(save_bloom artifact): seen conversations are dropped map-side — "
        "cross-run dedup with zero shuffle against the archive",
    )
    p.add_argument(
        "--bloom-out",
        default=None,
        help="write the next epoch's snapshot (history ∪ this corpus) here "
        "after the waves complete",
    )
    p.add_argument(
        "--bloom-expected",
        type=int,
        default=None,
        help="first-epoch bitset sizing: expected TOTAL conversations over "
        "the archive's growth horizon (later epochs inherit the layout)",
    )
    p.add_argument(
        "--dsir-fit",
        default=None,
        metavar="PREDICATE",
        help="SQL predicate selecting the DSIR target slice (e.g. "
        "\"role = 'assistant'\"); fits once per staging and adds a "
        "dsir_score column to decisions/",
    )
    p.add_argument(
        "--dsir-ratio-path",
        default=None,
        help="externally fitted (bucket, log_ratio) parquet — score with "
        "it instead of fitting in-run",
    )
    p.add_argument("--dsir-buckets", type=int, default=4096)
    p.add_argument(
        "--substr-bloom-history",
        default=None,
        help="WINDOW-grain Bloom snapshot (build_window_bloom artifact) of "
        "the archive's k-token windows: adds a substr_seen_frac column to "
        "decisions/ — per-turn fraction of tokens covered by substrings "
        "already in history, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--substr-bloom-out",
        default=None,
        help="write the next epoch's window snapshot (history ∪ this "
        "corpus' turn windows) here after the waves complete",
    )
    p.add_argument(
        "--substr-bloom-expected",
        type=int,
        default=None,
        help="first-epoch window-bitset sizing: expected TOTAL windows "
        "(~tokens) over the archive's growth horizon",
    )
    p.add_argument(
        "--substr-bloom-k",
        type=int,
        default=8,
        help="window width in tokens for the FIRST epoch (later epochs "
        "inherit the artifact's k_tokens)",
    )
    p.add_argument(
        "--bpe-merges",
        default=None,
        help="path to a trained BPE merge-table artifact "
        "(operators/bpe.merges_to_df parquet): adds an n_bpe_subwords "
        "column to decisions/ — per-turn model-token count under the "
        "frozen tokenizer, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--bpe-train",
        type=int,
        default=None,
        help="train a BPE tokenizer of this many merges ONCE per staging "
        "(word counts: one shuffle; merge loop: driver-side on the "
        "bounded frequency table), write it to <output>/bpe_merges, and "
        "score n_bpe_subwords with it",
    )
    p.add_argument(
        "--clf-model",
        default=None,
        help="path to a trained quality-classifier artifact "
        "(operators/classifier.model_to_df parquet): adds a clf_score "
        "column to decisions/ — keep-probability under the learned "
        "model, scored map-side with zero shuffle",
    )
    p.add_argument(
        "--clf-train",
        type=int,
        default=None,
        help="distill the rule layer ONCE per staging: the frozen spec's "
        "keep labels train a hashed-n-gram logistic regression for this "
        "many epochs (one B-bounded shuffle each), written to "
        "<output>/clf_model and scored as clf_score",
    )
    p.add_argument(
        "--langid-model",
        default=None,
        help="path to a trained learned-langid artifact "
        "(operators/langid_model.langid_model_to_df parquet): adds "
        "ft_lang / ft_lang_prob columns to decisions/ — the fastText-"
        "style model's prediction next to the frozen lang column, "
        "scored map-side with zero shuffle",
    )
    p.add_argument(
        "--langid-train",
        type=int,
        default=None,
        help="distill the frozen langid heuristic ONCE per staging: its "
        "lang labels train the hashed char+word n-gram softmax for this "
        "many epochs (one bounded shuffle each), written to "
        "<output>/langid_model and scored as ft_lang / ft_lang_prob",
    )
    args = p.parse_args()

    spark = get_spark("piperider_spark.pipeline")
    res = run_pipeline(
        spark,
        args.input,
        args.output,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        conv_rollup=args.conv_rollup,
        conv_min_keep_frac=args.conv_min_keep_frac,
        wave_buckets=args.wave_buckets,
        conv_dedup=args.conv_dedup,
        conv_near_dedup=args.conv_near_dedup,
        conv_near_threshold=args.conv_near_threshold,
        bloom_history=args.bloom_history,
        bloom_out=args.bloom_out,
        bloom_expected=args.bloom_expected,
        dsir_fit=args.dsir_fit,
        dsir_ratio_path=args.dsir_ratio_path,
        dsir_buckets=args.dsir_buckets,
        substr_bloom_history=args.substr_bloom_history,
        substr_bloom_out=args.substr_bloom_out,
        substr_bloom_expected=args.substr_bloom_expected,
        substr_bloom_k=args.substr_bloom_k,
        bpe_merges_path=args.bpe_merges,
        bpe_train=args.bpe_train,
        clf_model_path=args.clf_model,
        clf_train=args.clf_train,
        langid_model_path=args.langid_model,
        langid_train=args.langid_train,
    )
    print(json.dumps(res.__dict__))


if __name__ == "__main__":  # pragma: no cover
    main()
