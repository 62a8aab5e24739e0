"""The benchmark's workloads and the layer probes of its traced run.

Everything is driven from outside through the package's public functions:
``get_spark``, ``run_pipeline``, ``read_input``, ``build_decisions``,
``rule_columns``/``duplicate_turn_col``, the batch signal and scrub functions
and ``profile_table``. The program sees only the seeded parquet input.
"""

from __future__ import annotations

import os
import statistics
import time

import files
from measure import Tracer

BATCH_ROWS = 5000  # the session's Arrow batch size
MICRO_BATCHES = 4
PROFILE_TYPE_COLUMNS = {
    "string": "lang",
    "integer": "turn_idx",
    "numeric": "ppl",
    "datetime": "ts",
    "boolean": "keep",
    "array": "reasons",
}


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Context:
    """One Spark session and the paths of one run."""

    def __init__(self, spark, input_path: str, work_dir: str):
        import pyarrow.parquet as pq

        self.spark = spark
        self.input_path = input_path
        self.out_dir = os.path.join(work_dir, "out")
        self.input_rows = pq.ParquetFile(input_path).metadata.num_rows
        self.input_bytes = os.path.getsize(input_path)
        self.waves: list[list[int]] = []  # bucket waves of the last fresh run

    def fresh_run(self) -> None:
        from piperider_spark.pipeline import run_pipeline

        res = run_pipeline(self.spark, self.input_path, self.out_dir, resume=False)
        if res.buckets_processed != res.n_buckets:
            raise RuntimeError(f"fresh run processed {res.buckets_processed} of {res.n_buckets} buckets")
        self.waves = files.lineage_waves(self.out_dir)

    def traced_fresh_run(self, tracer: Tracer, parent: int | None) -> None:
        with tracer.span("pipeline.run_pipeline", parent) as sid:
            self.fresh_run()
        files.pipeline_spans(tracer, self.out_dir, sid, self.waves)

    def resume_run(self) -> int:
        from piperider_spark.pipeline import run_pipeline

        return run_pipeline(self.spark, self.input_path, self.out_dir, resume=True).buckets_processed


class FilterFresh:
    """``run_pipeline(resume=False)`` with default stages: the production job."""

    name = "filter_fresh"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.reference = None

    def setup(self) -> None:
        from piperider_spark.pipeline import build_decisions, read_input

        ctx = self.ctx
        decided = build_decisions(read_input(ctx.spark, ctx.input_path))
        self.reference = files.table_digest(decided.select(*files.DIGEST_COLUMNS).toArrow())
        ctx.fresh_run()  # warm-up: one full-size rep
        if problems := self.problems():
            raise RuntimeError("; ".join(problems))

    def rep(self) -> int:
        self.ctx.fresh_run()
        return self.ctx.input_rows

    def problems(self) -> list[str]:
        got = files.decisions_digest(self.ctx.out_dir)
        out = [] if got == self.reference else [f"decisions digest {got} != reference {self.reference}"]
        return out + files.metrics_problems(self.ctx.out_dir)

    def write_amp(self) -> float:
        return files.tree_bytes(self.ctx.out_dir)[1] / self.ctx.input_bytes

    def traced_rep(self, tracer: Tracer, parent: int) -> int:
        self.ctx.traced_fresh_run(tracer, parent)
        return self.ctx.input_rows


class ProfileDecisions:
    """``profile_table`` over the decisions/ table a fresh run wrote."""

    name = "profile_decisions"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.expected = None
        self.profile = None

    def _decisions(self):
        return self.ctx.spark.read.parquet(os.path.join(self.ctx.out_dir, "decisions"))

    def setup(self) -> None:
        from piperider_spark.profiler.core import profile_table

        self.ctx.fresh_run()
        if problems := files.metrics_problems(self.ctx.out_dir):
            raise RuntimeError("; ".join(problems))
        self.expected = files.profile_expectations(self.ctx.out_dir)
        # the generated loops tier up to C2 over many passes: CPU per row
        # of passes 1-5 measured 398, 226, 178, 158, 142 us at 50k turns,
        # so three warm passes run before timing
        for _ in range(3):
            profile_table(self._decisions(), "decisions")

    def rep(self) -> int:
        from piperider_spark.profiler.core import profile_table

        self.profile = profile_table(self._decisions(), "decisions")
        return self.profile["row_count"]

    def problems(self) -> list[str]:
        return files.profile_problems(self.profile, self.expected)

    def write_amp(self) -> float:
        # nothing is written: the bytes of the decisions table the filter
        # wrote, per input byte. A filter output figure, not a profiler one.
        return files.tree_bytes(os.path.join(self.ctx.out_dir, "decisions"))[1] / self.ctx.input_bytes

    def traced_rep(self, tracer: Tracer, parent: int) -> int:
        with tracer.span("profiler.profile_table", parent):
            return self.rep()


WORKLOADS = {w.name: w for w in (FilterFresh, ProfileDecisions)}


def _best_of(fn, reps: int) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def _us_per_row(fn, batches) -> float:
    fn(batches[0])  # first call builds the model tables
    times = []
    for b in batches:
        t0 = time.perf_counter()
        fn(b)
        times.append((time.perf_counter() - t0) / len(b))
    return statistics.median(times) * 1e6


def python_stage_probes(input_path: str) -> dict[str, float]:
    """In-process timings of the fused Arrow stage's functions on 5k-row
    batches of the input text: no Spark."""
    import pyarrow.parquet as pq

    from piperider_spark.scrub.rules import scrub_series
    from piperider_spark.signals.core import (
        detect_lang_batch,
        perplexity_batch,
        text_signals_and_ppl_batch,
        token_stats_batch,
    )

    texts = pq.read_table(input_path, columns=["text"]).column("text")
    texts = texts.slice(0, BATCH_ROWS * MICRO_BATCHES).to_pandas()
    batches = [texts.iloc[i : i + BATCH_ROWS] for i in range(0, len(texts), BATCH_ROWS)]
    out = {
        "signals.fused_us_per_row": _us_per_row(text_signals_and_ppl_batch, batches),
        "signals.langid_us_per_row": _us_per_row(detect_lang_batch, batches),
        "signals.token_stats_us_per_row": _us_per_row(token_stats_batch, batches),
        "signals.perplexity_us_per_row": _us_per_row(perplexity_batch, batches),
        "scrub.us_per_row": _us_per_row(scrub_series, batches),
    }
    present = texts.notna()
    scrubbed = scrub_series(texts)
    out["scrub.changed_frac"] = float((scrubbed[present] != texts[present]).sum() / present.sum())
    return out


def plan_probes(ctx: Context, tracer: Tracer, parent: int) -> dict[str, float]:
    """Noop-sink timings of the decision plan cut at each layer."""
    from pyspark.sql import functions as F

    from piperider_spark.pipeline import build_decisions, read_input
    from piperider_spark.rules.heuristics import duplicate_turn_col, rule_columns

    def rules():
        # the rules that need no signal column, plus the lag window
        cols = {
            f"r_{k}": c
            for k, c in rule_columns().items()
            if k in ("role_invalid", "text_empty", "too_long", "tool_json_invalid")
        }
        src = read_input(ctx.spark, ctx.input_path).withColumns(cols)
        return src.withColumn("r_duplicate_turn", F.coalesce(duplicate_turn_col(), F.lit(False)))

    out = {}
    # best of two where the first pass compiles a plan no earlier step ran;
    # build_decisions already ran in set-up or inside run_pipeline
    for name, plan, reps in (
        ("pipeline.read_input_s", lambda: read_input(ctx.spark, ctx.input_path), 2),
        ("rules.window_rules_s", rules, 2),
        ("pipeline.build_decisions_s", lambda: build_decisions(read_input(ctx.spark, ctx.input_path)), 1),
    ):
        with tracer.span(name, parent):
            out[name] = _best_of(lambda: noop(plan()), reps)
    out["pipeline.python_stage_s"] = out["pipeline.build_decisions_s"] - out["rules.window_rules_s"]
    return out


def pipeline_span_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-run means of the file-mtime spans of the traced fresh reps."""
    runs = [s for s in tracer.spans if s.name == "pipeline.run_pipeline"]
    n = len(runs)
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s.duration)
    return {
        "pipeline.staging_s": sum(by_name["pipeline.staging"]) / n,
        "pipeline.wave_s": statistics.median(by_name["pipeline.wave"]),
        "pipeline.decisions_write_s": sum(by_name["pipeline.decisions_write"]) / n,
        "pipeline.metrics_write_s": sum(by_name["pipeline.metrics_write"]) / n,
        "pipeline.lineage_append_s": sum(by_name["pipeline.lineage_append"]) / n,
        "pipeline.residual_s": sum(tracer.self_time(s.id) for s in runs) / n,
    }


def output_counts(out_dir: str) -> dict[str, float]:
    """Exact counts from metrics/ and the size of what the run wrote."""
    import pyarrow.dataset as ds

    from piperider_spark.rules.spec import DEFAULT_SPEC

    met = ds.dataset(os.path.join(out_dir, "metrics"), format="parquet", partitioning="hive").to_table()
    out = {
        "pipeline.rows_in": met.column("n_turns").to_numpy().sum(),
        "pipeline.rows_kept": met.column("n_kept").to_numpy().sum(),
    }
    for reason in DEFAULT_SPEC.reason_order:
        out[f"pipeline.drops.{reason}"] = met.column(f"n_{reason}").to_numpy().sum()
    out["pipeline.bytes_staged"] = files.tree_bytes(os.path.join(out_dir, "staged"))[1]
    out["pipeline.files_decisions"], out["pipeline.bytes_decisions"] = files.tree_bytes(
        os.path.join(out_dir, "decisions")
    )
    return {k: float(v) for k, v in out.items()}


def resume_probes(ctx: Context, tracer: Tracer, parent: int) -> tuple[dict[str, float], list[str]]:
    """A no-op resume over a complete output, then a crash after wave 1:
    the last wave's lineage files are deleted and a resumed run must
    reprocess exactly those buckets and converge to the same decisions."""
    before = files.decisions_digest(ctx.out_dir)
    with tracer.span("pipeline.resume_gate", parent) as sid:
        n = ctx.resume_run()
    gate = tracer.spans[sid].duration
    problems = [f"no-op resume reprocessed {n} buckets"] if n else []
    last = ctx.waves[-1]
    if not files.drop_wave_lineage(ctx.out_dir, last):
        problems.append("no lineage file held only last-wave buckets")
    with tracer.span("pipeline.resume_wave", parent) as sid:
        n = ctx.resume_run()
    if n != len(last):
        problems.append(f"crash resume reprocessed {n} buckets, expected {len(last)}")
    if files.decisions_digest(ctx.out_dir) != before:
        problems.append("crash resume did not converge to the fresh decisions")
    problems += files.metrics_problems(ctx.out_dir)
    metrics = {
        "pipeline.resume_gate_s": gate,
        "pipeline.resume_wave_s": tracer.spans[sid].duration,
    }
    return metrics, problems


def profiler_probes(ctx: Context, tracer: Tracer, parent: int) -> dict[str, float]:
    """One ``profile_table`` pass over the whole decisions table and one over
    a single column of each generic type."""
    from piperider_spark.profiler.core import profile_table

    df = ctx.spark.read.parquet(os.path.join(ctx.out_dir, "decisions"))
    out = {}
    for name, proj in [("profiler.profile_table_s", df)] + [
        (f"profiler.type.{generic}_s", df.select(col)) for generic, col in PROFILE_TYPE_COLUMNS.items()
    ]:
        with tracer.span(name, parent) as sid:
            profile_table(proj, "decisions")
        out[name] = tracer.spans[sid].duration
    return out
