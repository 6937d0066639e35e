"""Output checks and the harness's failure accounting."""

import checks
import gen
import harness
import spans


def test_a_wrong_expected_value_is_reported_for_its_op():
    hours = gen.batch_hours(1, 3, 300)
    expected = {h: gen.batch_expected(rows)[0] for h, rows in enumerate(hours)}
    got = {h: dict(v) for h, v in expected.items()}
    assert checks.compare(expected, got, "bytes_hourly") == {}
    wrong = {h: dict(v) for h, v in expected.items()}
    key = next(iter(wrong[1]))
    wrong[1][key] += 1
    assert set(checks.compare(wrong, got, "bytes_hourly")) == {1}


def test_missing_and_unexpected_output_are_failures():
    assert set(checks.compare({0: 1, 1: 2}, {0: 1, 2: 5}, "x")) == {1, 2}


def test_group_by_op_flags_a_key_written_twice():
    rows = [(0, "a", 1), (0, "b", 2), (1, "a", 3), (1, "a", 3)]
    grouped, twice = checks.group_by_op(rows, lambda r: r[0], lambda r: r[1], lambda r: r[2])
    assert grouped == {0: {"a": 1, "b": 2}, 1: {"a": 3}}
    assert twice == {1}


def test_decisions_ignore_canonical_of_kept_docs_and_flag_repeats():
    got, twice = checks.decisions_by_doc([(1, "kept", 1), (2, "near_dup", 1)])
    assert got == {1: ("kept", None), 2: ("near_dup", 1)} and not twice
    assert checks.decisions_by_doc([(1, "kept", None), (1, "quality", None)])[1]


class _FakeWorkload:
    """Ops that do nothing but fail where told; the check reports `bad`."""

    warmup_ops = 2
    notes: dict = {}

    def __init__(self, bad, raises=()):
        self.bad = bad
        self.raises = raises
        self.ran = []

    def ops(self, seconds):
        return seconds

    def setup(self, ctx):
        pass

    def op(self, i):
        self.ran.append(i)
        if i in self.raises:
            raise RuntimeError("query died")

    def finish_pass(self):
        pass

    def check(self):
        return self.bad

    def layer_metrics(self, n_ops):
        return {}


def _measure(bad, raises=()):
    import os
    import time

    ctx = harness.Context(None, seed=1, seconds=5, work="/nonexistent", tracer=spans.OFF)
    workload = _FakeWorkload(bad, raises)
    result, end_to_end, _, _ = harness.measure(workload, ctx, time.monotonic(), os.getpid())
    return workload, result, end_to_end


def test_measure_counts_a_failed_op():
    workload, result, end_to_end = _measure({3: "differs"})
    assert workload.ran == list(range(7))
    assert result == {"correct": False, "attempted": 5, "failed": 1}
    assert set(end_to_end) == {"setup_s", "pass_s", "op_p50_s"}


def test_a_wrong_warmup_output_makes_the_run_incorrect_without_failing_an_op():
    _, result, _ = _measure({0: "differs"})
    assert result == {"correct": False, "attempted": 5, "failed": 0}


def test_an_op_that_raises_is_counted_and_the_pass_goes_on():
    workload, result, _ = _measure({}, raises={4})
    assert workload.ran == list(range(7))
    assert result == {"correct": False, "attempted": 5, "failed": 1}


def test_all_right_is_correct():
    assert _measure({})[1] == {"correct": True, "attempted": 5, "failed": 0}


def test_self_time_subtracts_children():
    t = spans.Tracer()
    t.spans = [("op", 0.0, 10.0, -1), ("a", 1.0, 4.0, 0), ("b", 3.0, 6.0, 0)]
    totals = t.totals()
    assert totals["op"]["self_s"] == 10.0 - 5.0
    assert totals["a"]["self_s"] == 3.0
