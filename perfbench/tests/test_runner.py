"""Failure accounting: a raising, timed-out or mismatching op counts as
failed (never skipped, never replaced by another op)."""

from __future__ import annotations

import threading

from perfbench import spans
from perfbench.worker import Runner


class FakeWorkload:
    def __init__(self, ops, raising=(), slow=(), mismatching=()):
        self.ops = list(ops)
        self.raising = set(raising)
        self.slow = set(slow)
        self.mismatching = set(mismatching)
        self.ran: list[tuple[str, int]] = []
        self.cancelled = threading.Event()

    def run(self, op, pass_idx, tracer):
        self.ran.append((op, pass_idx))
        if op in self.raising:
            raise ValueError(f"{op} exploded")
        if op in self.slow and not self.cancelled.wait(5):
            return
        if op in self.slow:
            raise RuntimeError("job cancelled")

    def check(self):
        for op in self.ops:
            yield op, "VALUES col=x" if op in self.mismatching else None


def test_raising_op_counts_as_failed_not_skipped():
    wl = FakeWorkload(["a", "boom", "c"], raising=["boom"])
    runner = Runner(wl, seed=7, tracer=spans.Tracer())
    assert runner.run_pass(0) is None  # a pass with a failed op has no wall
    assert sorted(op for op, _ in wl.ran) == ["a", "boom", "c"]  # the rest still ran
    assert runner.attempted == 3
    assert runner.failures == [{"op": "boom", "pass": 0, "error": "ValueError: boom exploded"}]
    assert "boom" not in runner.op_s and set(runner.op_s) == {"a", "c"}


def test_failed_op_is_never_substituted():
    wl = FakeWorkload(["a", "boom"], raising=["boom"])
    runner = Runner(wl, seed=1, tracer=spans.Tracer())
    runner.run_pass(0)
    runner.run_pass(1)
    assert [op for op, _ in wl.ran].count("boom") == 2
    assert len(wl.ran) == 4
    assert len(runner.failures) == 2


def test_timeout_cancels_and_counts_as_failed():
    wl = FakeWorkload(["slow"], slow=["slow"])
    runner = Runner(wl, seed=1, tracer=spans.Tracer(), cancel=wl.cancelled.set,
                    op_timeout=0.05)
    assert runner.run_op("slow", 0) is None
    assert runner.failures == [{"op": "slow", "pass": 0, "error": "timeout"}]


def test_oracle_mismatch_counts_as_failed():
    wl = FakeWorkload(["a", "b"], mismatching=["b"])
    runner = Runner(wl, seed=1, tracer=spans.Tracer())
    assert runner.run_pass(0) is not None
    runner.check()
    assert runner.attempted == 4
    assert runner.failures == [{"op": "b", "pass": "check", "error": "VALUES col=x"}]


def test_cache_is_cleared_after_every_op():
    cleared = []
    wl = FakeWorkload(["a", "boom", "c"], raising=["boom"])
    runner = Runner(wl, seed=3, tracer=spans.Tracer(), clear_cache=lambda: cleared.append(1))
    runner.run_pass(0)
    assert len(cleared) == 3
