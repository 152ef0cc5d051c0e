"""The statistics rules: tail percentile accounting and failure charging."""

from __future__ import annotations

import pytest

from perfbench.metrics import OpLog, nearest_rank, tail


def test_tail_is_nearest_rank_p90_with_its_count_beyond():
    vals = [float(i) for i in range(100)]
    assert tail(vals) == (89.0, 10)  # p90 of 100 samples: exactly ten beyond
    assert tail(vals[::-1]) == (89.0, 10)  # order does not matter
    assert tail([float(i) for i in range(28)]) == (25.0, 2)  # a 28-query run
    assert tail([3.0, 1.0, 2.0]) == (3.0, 0)
    # the ten-beyond rule holds from 100 samples on, never below
    assert all(n - 1 - nearest_rank(n, 90.0) >= 10 for n in range(100, 400))
    assert all(n - 1 - nearest_rank(n, 90.0) < 10 for n in range(1, 100))


def _log(lat, fail_at=None, fail_latency=0.01):
    log = OpLog()
    for i, x in enumerate(lat):
        if i == fail_at:
            log.add("q", fail_latency, ok=False, error="injected")
        else:
            log.add("q", x, ok=True)
    return log


@pytest.mark.parametrize("fail_at", [0, 3, 9])
def test_injected_failure_counts_and_never_helps(fail_at):
    lat = [1.0, 1.2, 0.9, 5.0, 1.1, 1.0, 0.8, 1.3, 1.0, 4.0]
    base = _log(lat).summary()
    log = _log(lat, fail_at=fail_at)  # a slow op now fails fast
    got = log.summary()
    assert (log.attempted, log.failed) == (10, 1)
    assert got["latency_p50_s"] >= base["latency_p50_s"]
    assert got["latency_tail_s"] >= base["latency_tail_s"]
    assert got["throughput_per_s"] <= base["throughput_per_s"]


def test_wrong_result_marks_ops_failed_after_the_fact():
    log = _log([1.0, 2.0, 3.0])
    log.ops[1].kind = "bad"
    log.fail(lambda op: op.kind == "bad")
    assert log.failed == 1 and log.ops[1].error == "wrong result"
    assert log.summary()["latency_tail_s"] == sum(op.latency_s for op in log.ops)
