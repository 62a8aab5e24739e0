import run


class _Workload:
    name = "fake"

    def __init__(self, bad: bool):
        self.bad = bad

    def problems(self) -> list[str]:
        return ["digest differs"] if self.bad else []


SPEC = [{"name": "cpu_us_per_row", "unit": "us"}]


def test_rep_failing_its_check_gives_correct_false():
    attempted, failed, samples = run.timed_loop(_Workload(bad=True), 0.0, lambda: 10)
    assert (attempted, failed, samples) == (1, 1, [])
    line = run.result(attempted, failed, {}, SPEC)
    assert line == {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def test_rep_that_raises_counts_as_failed():
    def rep():
        raise RuntimeError("boom")

    assert run.timed_loop(_Workload(bad=False), 0.0, rep)[:2] == (1, 1)


def test_passing_reps_report_every_metric():
    attempted, failed, samples = run.timed_loop(_Workload(bad=False), 0.0, lambda: 10)
    assert (attempted, failed, [s["rows"] for s in samples]) == (1, 0, [10])
    line = run.result(attempted, failed, {"cpu_us_per_row": 2.5}, SPEC)
    assert line == {
        "correct": True,
        "attempted": 1,
        "failed": 0,
        "metrics": {"cpu_us_per_row": {"value": 2.5, "unit": "us"}},
    }
