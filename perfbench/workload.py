"""What every workload provides to the run loop."""

from __future__ import annotations

import sys
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class OpResult:
    """One operation: its user-facing latency and what its output check
    needs. ``sub_ops`` are the latencies of extra timed reads an
    operation issues; each counts as an attempted operation."""

    lat_s: float
    payload: object = None
    sub_ops: list[float] = field(default_factory=list)


class Workload:
    NAME = ""
    # operations run during set-up, off the clock, before the window
    WARM_OPS = 0
    MIN_OPS = 1

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        self.seed = seed
        self.root = root
        self.tracer = Tracer(None, False)
        self.samples: dict[str, list[float]] = {}

    def setup(self) -> None:
        """Generate and load inputs, then warm up off the clock."""
        raise NotImplementedError

    def op(self, i: int) -> OpResult:
        raise NotImplementedError

    def check(self, i: int, res: OpResult) -> int:
        """How many of operation ``i`` and its sub-operations failed."""
        raise NotImplementedError

    def final_check(self) -> bool:
        return True

    def named_metrics(self) -> dict[str, tuple[float, str]]:
        return {}


def expect(what: str, cond) -> bool:
    if not cond:
        print(f"perfbench: check failed: {what}", file=sys.stderr)
    return bool(cond)
