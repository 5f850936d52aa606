"""The convergence policy of every iterative operator that must reach a
fixpoint (connected components, k-core peeling, core numbers, SCC
rounds, the ρdf meta-schema passes).

A round keeps its own checkpoint and its one convergence action; this
module owns what happens around the rounds: the cap, the exhaustion
re-probe and the loud failure. Fixed-round and bounded-hop loops
(pagerank, HITS, LPA, katz, BFS, reachability) do not use it — their
cap is part of the answer, not a guard.
"""

from __future__ import annotations

from typing import Callable, TypeVar

S = TypeVar("S")


def fixpoint(
    state: S, step: Callable[[S], tuple[S, bool]], max_iter: int, name: str
) -> S:
    """Run ``step(state) -> (state, converged)`` until it converges and
    return the final state.

    After ``max_iter`` rounds without convergence one more step runs as
    the exhaustion re-probe: a loop that reaches its fixpoint on the
    last allowed round only sees it on the next probe. If that step
    does not converge either, raise — a state that is still changing
    (split components, too-large cores) must not come back as if it
    were the answer.
    """
    for _ in range(max_iter + 1):
        state, converged = step(state)
        if converged:
            return state
    raise RuntimeError(
        f"{name} did not converge in {max_iter} rounds — the input is "
        "deeper than the round cap; raise the cap for such inputs"
    )
