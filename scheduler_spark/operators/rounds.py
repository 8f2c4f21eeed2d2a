"""The edge-list prelude and the round loop every iterative graph
operator shares.

`edge_list` is the one normalization of an input edge list: rename the
endpoints to (u, v), drop self-loops, optionally add the reverse edges,
de-duplicate, checkpoint.

`iterate` is the one round loop.  It owns two decisions:

- **Checkpoint cadence.**  Each round's state is truncated with a lazy
  `localCheckpoint(eager=False)` before anything reads it again: without
  it the plan doubles per round and the driver OOMs planning round ~15.
  Lazy, because AQE runs the round's shuffle stages when the checkpoint
  is taken and the completion check (or the next round) then runs the
  round's final stage and keeps its blocks — an eager checkpoint would
  spend one more job per round on a count nobody reads.  A fixed-round
  loop leaves its LAST round uncheckpointed: the caller's action
  computes it once, and plan audits see the round's real shape.
- **Budget rule.**  A fixpoint loop (one with `until`) succeeds if and
  only if some round within `max_rounds` reports done, checked on the
  checkpointed state after every round; otherwise it raises the one
  non-convergence RuntimeError naming the operator and the budget.  A
  result read off a graph that has not reached its fixpoint (a partial
  closure, a half-peeled core, labels of a graph that is not yet a
  star) is wrong in a way nothing downstream can see, so it is never
  returned.  A loop without `until` runs exactly `max_rounds` rounds.

A step should build every frame it returns from the state it was given,
not from another frame it also returns: each returned frame is
checkpointed on its own, so a shared sub-plan would run twice.  The
semi-naive loops therefore carry (accumulated, frontier) and fold the
previous frontier into the accumulated set at the start of the next
round.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

S = TypeVar("S", DataFrame, tuple)


def edge_list(
    edges: DataFrame, src: str, dst: str, symmetric: bool = False
) -> DataFrame:
    """Edge list → distinct (u, v) edges without self-loops, with every
    reverse edge added when `symmetric`; lazily checkpointed."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).filter(
        F.col("u") != F.col("v")
    )
    if symmetric:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return e.distinct().localCheckpoint(eager=False)


def _checkpoint(state: S) -> S:
    if isinstance(state, tuple):
        return tuple(s.localCheckpoint(eager=False) for s in state)
    return state.localCheckpoint(eager=False)


def iterate(
    step: Callable[[S], S],
    state: S,
    max_rounds: int,
    until: Callable[[S], bool] | None = None,
    name: str = "loop",
) -> S:
    """Run `step` on `state` round after round (a state is a DataFrame
    or a tuple of them) under the module's checkpoint cadence and budget
    rule; `name` is the operator the non-convergence error names."""
    for i in range(max_rounds):
        state = step(state)
        if until is None and i == max_rounds - 1:
            return state
        state = _checkpoint(state)
        if until is not None and until(state):
            return state
    if until is None:
        return state
    raise RuntimeError(
        f"{name} did not converge within {max_rounds} rounds; raise its "
        "round budget — a result read before the fixpoint is wrong"
    )


def unchanged(measure: Callable[[S], object], start: object) -> Callable[[S], bool]:
    """An `until` that reports done once `measure(state)` equals its
    value one round earlier (`start` before the first round)."""
    last = [start]

    def until(state: S) -> bool:
        cur = measure(state)
        done, last[0] = cur == last[0], cur
        return done

    return until
