"""End-to-end benchmark of the transcript quality filter and its profiler.

    python3 e2ebench/run.py --workload filter_fresh --seed 1 --seconds 4 --trace 0

Run from the repository root. The run makes seeded transcripts, starts one
Spark session at local[nproc] with 8 shuffle partitions, sets the workload
up (untimed warm-up included), then repeats the workload in a closed loop
(one caller, each rep starts when the last ends) for ``--seconds``,
checking every rep's output. The last line of stdout is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The traced run first repeats the untraced loop, then runs traced reps and
the layer probes, prints each layer's self time and the tracing overhead,
and writes its spans to ``e2ebench/.work/``. See METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
N_TURNS = 50_000


def log(msg: str) -> None:
    print(f"[e2ebench] {msg}", file=sys.stderr, flush=True)


def bootstrap() -> None:
    """Point Spark's Python workers at the package under test and keep every
    scratch file inside the checkout."""
    if not os.path.isfile(os.path.join(ROOT, "piperider_spark", "__init__.py")):
        log(f"package piperider_spark not found under {ROOT}")
        sys.exit(2)
    sys.path.insert(0, ROOT)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"


def start_spark(cores: int):
    from piperider_spark.session import get_spark

    return get_spark(
        "e2ebench",
        cores=cores,
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker it forked, and wait
    until each has ended."""
    from pyspark import SparkContext

    from measure import descendants

    pids = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def timed_loop(workload, seconds: float, rep) -> tuple[int, int, list[dict]]:
    """Closed loop: reps back to back until ``seconds`` have passed (at least
    one rep). A rep that raises or fails its output check counts as failed.
    Returns (attempted, failed, per-rep wall seconds, rows and CPU seconds
    of the process tree)."""
    from measure import tree_cpu_s

    attempted = failed = 0
    samples = []
    t_end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < t_end:
        attempted += 1
        try:
            cpu0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            rows = rep()
            wall = time.perf_counter() - t0
            cpu = tree_cpu_s(os.getpid()) - cpu0
            problems = workload.problems()
        except Exception:
            log(traceback.format_exc())
            failed += 1
            continue
        if problems:
            log(f"{workload.name} rep {attempted} failed its check: {problems}")
            failed += 1
            continue
        samples.append({"wall": wall, "rows": rows, "cpu": cpu})
    return attempted, failed, samples


def traced_phase(args, ctx, workload, untraced_walls) -> tuple[dict, int, int, list]:
    """Traced reps, then the layer probes, all recorded as spans. With no
    successful traced rep it returns no metrics."""
    import workloads as W
    from measure import Tracer

    tracer = Tracer()
    with tracer.span("bench.traced_reps") as root:
        attempted, failed, samples = timed_loop(
            workload, args.seconds / 2, lambda: workload.traced_rep(tracer, root)
        )
    walls = [s["wall"] for s in samples]
    if not walls:
        return {}, attempted, failed, []
    metrics = {"bench.trace_overhead_s": statistics.median(walls) - statistics.median(untraced_walls)}
    with tracer.span("bench.probes") as probes:
        if not any(s.name == "pipeline.run_pipeline" for s in tracer.spans):
            ctx.traced_fresh_run(tracer, probes)
        metrics.update(W.pipeline_span_metrics(tracer))
        metrics.update(W.output_counts(ctx.out_dir))
        resume, problems = W.resume_probes(ctx, tracer, probes)
        metrics.update(resume)
        attempted += 1
        failed += bool(problems)
        if problems:
            log(f"crash-resume probe failed its check: {problems}")
        metrics.update(W.plan_probes(ctx, tracer, probes))
        with tracer.span("signals+scrub.batches", probes):
            metrics.update(W.python_stage_probes(ctx.input_path))
        metrics.update(W.profiler_probes(ctx, tracer, probes))
    fresh = statistics.mean(s.duration for s in tracer.spans if s.name == "pipeline.run_pipeline")
    metrics["pipeline.python_stage_share"] = metrics["pipeline.python_stage_s"] / fresh
    tracer.dump(os.path.join(WORK, f"spans_{args.workload}_{args.seed}.json"))
    lines = report_lines(tracer, root, probes, metrics, untraced_walls, walls)
    return metrics, attempted, failed, lines


def report_lines(tracer, root: int, probes: int, metrics: dict, untraced_walls, traced_walls) -> list[str]:
    """Self time per layer over the traced reps, and how the layers account
    for the rep wall time. A rep's own span keeps as self time what no layer
    span covers: the residual."""
    reps = [s for s in tracer.spans if s.parent == root]
    below = {s.id for s in reps}
    for s in tracer.spans:  # a child span is always added after its parent
        if s.parent in below:
            below.add(s.id)
    selfs: dict[str, float] = {}
    for s in tracer.spans:
        if s.id in below:
            selfs[s.name] = selfs.get(s.name, 0.0) + tracer.self_time(s.id) / len(reps)
    wall = statistics.median(untraced_walls)
    traced = statistics.mean(traced_walls)
    residual = sum(tracer.self_time(s.id) for s in reps) / len(reps)
    total = sum(selfs.values())
    lines = [f"traced reps: {len(reps)}; self time per rep (s), share of the untraced median rep:"]
    lines += [f"  {name:<32} {sec:8.3f}  {sec / wall:6.1%}" for name, sec in selfs.items()]
    lines.append(
        f"  layers {total - residual:.3f} s + residual {residual:.3f} s = {total:.3f} s:"
        f" {total / traced:.1%} of the traced rep wall {traced:.3f} s,"
        f" {total / wall:.1%} of the untraced median wall {wall:.3f} s"
    )
    lines.append(f"  tracing overhead (traced - untraced median): {metrics['bench.trace_overhead_s']:+.3f} s")
    lines.append(
        f"  python stage (build_decisions - window rules, noop sink): "
        f"{metrics['pipeline.python_stage_s']:.3f} s = {metrics['pipeline.python_stage_share']:.1%}"
        " of a traced fresh run_pipeline"
    )
    lines.append("probe spans (s): " + ", ".join(
        f"{s.name}={s.duration:.3f}" for s in tracer.spans if s.parent == probes
    ))
    return lines


def result(attempted: int, failed: int, values: dict, spec_metrics: list[dict]) -> dict:
    """The result line. A run in which any rep failed reports no metrics."""
    metrics = {} if failed else {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec_metrics
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bootstrap()

    import files
    import workloads as W
    from measure import RssSampler, dram_probe_gbs, summarize

    if args.workload not in W.WORKLOADS:
        log(f"unknown workload {args.workload}; choose from {sorted(W.WORKLOADS)}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cores = len(os.sched_getaffinity(0))
    input_path = files.cached_transcripts(os.path.join(WORK, "inputs"), N_TURNS, args.seed)
    probe_gbs = dram_probe_gbs(cores)
    log(f"host DRAM probe {probe_gbs:.2f} GB/s with {cores} threads; {time.perf_counter() - T_START:.1f} s in")

    sampler = RssSampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = start_spark(cores)
    values: dict = {}
    try:
        start_s = time.perf_counter() - t0
        ctx = W.Context(spark, input_path, os.path.join(WORK, args.workload))
        workload = W.WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        workload.setup()
        warmup_s = time.perf_counter() - t1

        attempted, failed, samples = timed_loop(workload, args.seconds, workload.rep)
        peak_mb = sampler.stop()
        walls = [s["wall"] for s in samples]
        if walls:
            rps = summarize([s["rows"] / s["wall"] for s in samples])
            cpu_us = summarize([s["cpu"] / s["rows"] * 1e6 for s in samples])
            values = {
                "setup_s": start_s + warmup_s,
                "cpu_us_per_row": cpu_us["median"],
                "write_amp": workload.write_amp(),
            }
            log(
                f"{args.workload}: {rps['n']} reps, rows/s median {rps['median']:.1f}; "
                f"cpu us/row median {cpu_us['median']:.1f}; walls {[round(w, 3) for w in walls]}; "
                f"setup {start_s + warmup_s:.1f} s; {time.perf_counter() - T_START:.1f} s in"
            )
        if walls and args.trace:
            values, t_att, t_fail, lines = traced_phase(args, ctx, workload, walls)
            attempted += t_att
            failed += t_fail
            values.update(
                {
                    "session.start_s": start_s,
                    "session.warmup_s": warmup_s,
                    "host.probe_gbs": probe_gbs,
                    "process.peak_rss_mb": peak_mb,
                    "workload.rows_per_s": rps["median"],
                    "bench.error_rate": failed / attempted,
                }
            )
            for line in lines:
                print(line)
    finally:
        sampler.stop()
        t_stop = time.perf_counter()
        stop_spark(spark)
        log(f"stopped Spark in {time.perf_counter() - t_stop:.1f} s; process {time.perf_counter() - T_START:.1f} s")

    print(json.dumps(result(attempted, failed, values, spec["per_layer" if args.trace else "end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
