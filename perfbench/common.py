"""Shared result record and small statistics."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    layer: dict = field(default_factory=dict)    # name -> (value, unit)
    detail: dict = field(default_factory=dict)   # figures for the README


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class CheckFailed(Exception):
    """An output check failed: the run prints no result."""


def require(problems: list[str]) -> None:
    if problems:
        raise CheckFailed("\n".join(problems))


def host_cpu_ticks() -> list[int]:
    """This machine's aggregate CPU tick counters (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    readings (the ``steal`` column): noise from outside the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0
