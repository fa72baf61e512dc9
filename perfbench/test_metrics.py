"""Unit tests of the benchmark's own rules; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math

import pytest

from perfbench.checks import close_rows
from perfbench.metrics import Outcomes, tail, tail_percentile


@pytest.mark.parametrize(
    "n, p",
    [(11, 9), (20, 50), (21, 52), (24, 58), (34, 70), (100, 90), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    assert n - math.ceil(p * n / 100) >= 10
    if p < 99:  # the next percentile up would leave fewer than ten
        assert n - math.ceil((p + 1) * n / 100) < 10


@pytest.mark.parametrize("n", [0, 1, 10])
def test_tail_percentile_needs_more_than_ten_samples(n):
    with pytest.raises(ValueError):
        tail_percentile(n)


def test_tail_reads_the_nearest_rank_sample():
    samples = [float(i) for i in range(100, 0, -1)]  # 1..100, unsorted
    assert tail(samples) == (90.0, 90, 10)
    assert tail(samples[:21]) == (90.0, 52, 10)  # 80..100: rank 11 is 90


def test_outcomes_count_errors_and_mismatches_as_failures():
    o = Outcomes()
    assert o.record("a", None, True)
    assert not o.record("b", "ValueError: boom", True)
    assert not o.record("c", None, False)
    assert (o.attempted, o.failed) == (3, 2)
    assert o.ok_share == pytest.approx(1 / 3)
    assert o.failures == ["b: ValueError: boom", "c: result differs from the oracle"]


def test_ok_share_needs_an_attempt():
    with pytest.raises(ValueError):
        Outcomes().ok_share


class _Frame:
    columns = ["revenue"]

    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _Oracle:
    def matches(self, key, columns, rows):
        return rows == [(1.0,)]


def test_execution_that_raises_counts_as_failed():
    from perfbench.run import WORKLOADS, Run
    from perfbench.tracing import Tracer

    def boom(spark, data_dir):
        raise RuntimeError("query failed")

    run = Run(WORKLOADS["scan_gen"], seed=1, nproc=4, tracer=Tracer(4, installed=False))
    run.spark, run.data_dir, run.oracle = None, "unused", _Oracle()
    run.queries = {
        "ok": lambda spark, d: _Frame([(1.0,)]),
        "wrong": lambda spark, d: _Frame([(2.0,)]),
        "boom": boom,
    }
    assert run.execute("ok", "warm") is not None
    assert run.execute("wrong", "warm") is None
    assert run.execute("boom", "warm") is None
    assert (run.outcomes.attempted, run.outcomes.failed) == (3, 2)
    assert run.outcomes.failures[-1] == "boom: RuntimeError: query failed"


def test_close_rows_tolerates_summation_order_only():
    cols = ["k", "total", "n"]
    want = [("A", 1.0e10, 3), ("B", 2.0, 4)]
    assert close_rows(cols, want, ["n", "k", "total"], [(4, "B", 2.0), (3, "A", 1.0e10 + 1e-3)])
    assert not close_rows(cols, want, cols, [("A", 1.0e10 * (1 + 1e-8), 3), ("B", 2.0, 4)])
    assert not close_rows(cols, want, cols, [("A", 1.0e10, 3), ("B", 2.0, 5)])
    assert not close_rows(cols, want, cols, want[:1])


def _measured(passes):
    from perfbench.run import WORKLOADS, Run
    from perfbench.tracing import Tracer

    run = Run(WORKLOADS["scan_gen"], seed=1, nproc=4, tracer=Tracer(4, installed=False))
    run.keys, run.scan_rows = ["q6", "q1"], 1000
    run.outcomes.record("q6", None, True)
    return run, {"cold_pass_s": 9.0, "passes": [(False, p) for p in passes]}


def test_end_to_end_sums_per_key_medians():
    from perfbench.run import end_to_end

    passes = [{"q6": 0.1 * i, "q1": 1.0 + i} for i in range(1, 12)]
    run, m = _measured(passes)
    out = end_to_end(run, [0.3, 0.5, 0.4], m)
    assert out["setup_s"] == 0.4
    assert out["warm_pass_s"] == pytest.approx(0.6 + 7.0)  # medians of q6, q1
    assert run.info["q6_scan_rows_per_s"] == pytest.approx(1000 / 0.6)
    assert out["query_tail_s"] == 2.0  # p54 of 22: rank 12, ten beyond
    assert run.info["tail_percentile"] == 54


def test_end_to_end_needs_every_key_timed():
    from perfbench.run import end_to_end

    run, m = _measured([{"q6": 0.1} for _ in range(12)])
    with pytest.raises(RuntimeError, match="q1"):
        end_to_end(run, [0.4], m)
