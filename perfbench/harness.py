"""What run.py and the workload modules share."""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field
from pathlib import Path

SETUP_REPEATS = 3


@dataclass
class Ctx:
    """What a workload gets: the session, its tracer and a private
    work directory."""

    spark: object
    tracer: object
    jobs: object  # SparkJobs in traced runs, else None
    seed: int
    seconds: float
    work: Path
    out: Path


@dataclass
class Result:
    """What a workload returns."""

    setup_s: list[float]  # one per set-up repetition
    attempted: int
    failed: int
    correct: bool
    end_to_end: dict[str, float]  # generic names of BENCHMARK.json
    named: dict = field(default_factory=dict)  # the workload's own figures
    layers: dict[str, float] = field(default_factory=dict)


def job_group(ctx: Ctx, name: str):
    """Tag the body's Spark jobs with group ``name`` in traced runs."""
    return ctx.jobs.group(name) if ctx.jobs is not None else contextlib.nullcontext()
