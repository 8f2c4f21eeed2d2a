"""Closed-loop op runner, output-check accounting and result formatting.

Pure Python (no Spark) so the accounting rules are unit-testable: a step
that raises, or whose check reports a problem, counts as failed and its
time is not sampled.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from typing import Any

# A check returns a list of problems; an empty list means the output is right.
Check = Callable[[Any], list[str]]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Recorder:
    """Times steps, runs their output checks outside the timed region and
    counts attempts and failures.  A step whose output fails its check
    is still timed (the work was done); a step that raises is not."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.last: float | None = None  # time of the latest step, None if it raised

    def step(self, kind: str, fn: Callable[[], Any], check: Check | None = None) -> Any:
        """Run ``fn`` timed, then ``check`` on its result untimed.

        Returns the result, or None when ``fn`` raised."""
        self.attempted += 1
        self.last = None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 -- a failed op is data, not a crash
            self._fail(kind, "raised:\n" + traceback.format_exc())
            return None
        seconds = time.perf_counter() - t0
        self.samples[kind].append(seconds)
        self.last = seconds
        log(f"{kind} {seconds:.3f}s")
        try:
            problems = check(out) if check is not None else []
        except Exception:  # noqa: BLE001 -- a check that cannot run is a failed check
            problems = ["check raised:\n" + traceback.format_exc()]
        if problems:
            self._fail(kind, "; ".join(problems))
        return out

    def _fail(self, kind: str, why: str) -> None:
        self.failed += 1
        log(f"FAILED {kind}: {why}")

    def median(self, kind: str) -> float:
        values = self.samples.get(kind)
        if not values:
            raise LookupError(f"no '{kind}' step completed")
        return statistics.median(values)

    def geomean_of_medians(self, kinds: list[str]) -> float:
        return geomean([self.median(k) for k in kinds])


def expect(cond: bool, problem: str) -> list[str]:
    return [] if cond else [problem]


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def closed_loop(
    seconds: float,
    op: Callable[[int], None],
    min_ops: int = 1,
    clock: Callable[[], float] = time.perf_counter,
) -> int:
    """One client, one op at a time: start op ``i`` only after op ``i-1``
    returned, until ``seconds`` have passed (at least ``min_ops`` ops)."""
    deadline = clock() + seconds
    n = 0
    while n < min_ops or clock() < deadline:
        op(n)
        n += 1
    return n


def result_line(rec: Recorder, metrics: dict[str, tuple[float, str]]) -> dict:
    """The benchmark's final JSON object."""
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {
            name: {"value": float(value), "unit": unit}
            for name, (value, unit) in metrics.items()
        },
    }
