"""Pieces every workload shares: operations, the run context, failure
counts and forcing a DataFrame without collecting it (optionally
counting its rows inside a span)."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F


@dataclass
class Op:
    """One client operation of a workload: ``run`` is timed; ``check``, run
    after it untimed, returns the ways its output differs from the model."""

    name: str
    run: Callable[["Ctx"], None]
    check: Callable[["Ctx"], list[str]]


class Failures:
    """Counts attempted and failed operations and keeps the first reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def attempt(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.reasons) < 20:
            self.reasons.append(what)


@dataclass
class Ctx:
    """What a workload needs: the session, its inputs' home, the tracer,
    the failure counts, the run record, the state its ``prepare`` returned,
    and what to close when the run ends."""

    spark: object
    work: str
    tracer: object
    fails: Failures
    record: dict
    state: dict = field(default_factory=dict)
    closers: list[Callable[[], None]] = field(default_factory=list)


def force(df) -> None:
    """Execute ``df`` to completion through the ``noop`` writer."""
    df.write.format("noop").mode("overwrite").save()



def counted(tracer, name: str, df, **attrs) -> int:
    """Force ``df`` inside span ``name``; return its row count, observed in
    the same execution."""
    obs = Observation()
    with tracer.span(name, **attrs):
        force(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]
