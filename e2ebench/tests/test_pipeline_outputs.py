"""The crash simulation, output checks and mtime spans on a tiny pipeline run."""

import os

import files
from measure import Tracer


def test_crash_resume_and_checks_on_tiny_run(spark, tmp_path):
    from piperider_spark.pipeline import build_decisions, read_input, run_pipeline
    from piperider_spark.profiler.core import profile_table

    src = files.cached_transcripts(str(tmp_path / "in"), 2000, 3)
    out = str(tmp_path / "out")
    tracer = Tracer()
    with tracer.span("pipeline.run_pipeline") as sid:
        res = run_pipeline(spark, src, out, resume=False)
    assert res.buckets_processed == 16

    ref = files.table_digest(
        build_decisions(read_input(spark, src)).select(*files.DIGEST_COLUMNS).toArrow()
    )
    assert files.decisions_digest(out) == ref
    assert files.metrics_problems(out) == []

    waves = files.lineage_waves(out)
    assert waves == [list(range(8)), list(range(8, 16))]  # run_pipeline's default waves
    files.pipeline_spans(tracer, out, sid, waves)
    names = [s.name for s in tracer.spans]
    assert names.count("pipeline.wave") == 2 and names.count("pipeline.decisions_write") == 2
    run = tracer.spans[sid]
    assert all(run.start <= s.start <= s.end <= run.end for s in tracer.spans[1:])

    # crash after wave 1: only lineage files of wave-2 buckets go
    before = files.lineage_files(out)
    dropped = files.drop_wave_lineage(out, waves[1])
    assert dropped and all(before[f] <= set(waves[1]) for f in dropped)
    kept = files.lineage_files(out)
    assert set().union(*kept.values()) == set(waves[0])
    assert run_pipeline(spark, src, out, resume=True).buckets_processed == 8
    assert files.decisions_digest(out) == ref
    assert files.metrics_problems(out) == []

    prof = profile_table(spark.read.parquet(os.path.join(out, "decisions")), "decisions")
    expected = files.profile_expectations(out)
    assert files.profile_problems(prof, expected) == []
    prof["columns"]["ppl"]["max"] += 1.0
    assert files.profile_problems(prof, expected) != []
