"""plans/fixpoint.py: convergence, the exhaustion re-probe and the loud
failure — pure Python, no Spark."""

from pathlib import Path

import pytest

from golden_horse_spark.plans.fixpoint import fixpoint

PKG = Path(__file__).resolve().parents[1] / "golden_horse_spark"


def _countdown(calls):
    """Step that converges once the state reaches 0, logging each call."""

    def step(n):
        calls.append(n)
        return max(n - 1, 0), n == 0

    return step


def test_fixpoint_converges_at_step_k():
    calls = []
    assert fixpoint(3, _countdown(calls), max_iter=10, name="countdown") == 0
    # rounds 3→2→1→0, then the round that sees no change
    assert calls == [3, 2, 1, 0]


def test_fixpoint_converges_on_the_reprobe_step():
    # the last allowed round reaches the fixpoint; only the next probe
    # sees it, and that must not raise
    calls = []
    assert fixpoint(3, _countdown(calls), max_iter=3, name="countdown") == 0
    assert calls == [3, 2, 1, 0]


def test_fixpoint_raises_with_name_when_reprobe_fails():
    calls = []
    with pytest.raises(
        RuntimeError, match="countdown did not converge in 2 rounds"
    ):
        fixpoint(3, _countdown(calls), max_iter=2, name="countdown")
    assert calls == [3, 2, 1]  # max_iter rounds + one re-probe, no more


def test_nonconvergence_policy_lives_only_in_fixpoint_module():
    """Loops that must converge go through plans.fixpoint; none may
    carry its own copy of the cap-and-raise policy."""
    owners = sorted(
        str(f.relative_to(PKG))
        for f in PKG.rglob("*.py")
        if "did not converge" in f.read_text(encoding="utf-8")
    )
    assert owners == ["plans/fixpoint.py"]
