"""Shared pieces of the workloads: the run context, timed operations and
order statistics."""

from __future__ import annotations

import json
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from spans import Tracer

BENCHMARK_JSON = Path(__file__).resolve().parents[1] / "BENCHMARK.json"


class SetupError(RuntimeError):
    """Set-up did not produce the state the workload needs."""


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    cores: int
    work: Path


@dataclass
class Op:
    kind: str
    dur: float
    ok: bool
    detail: str = ""


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    setup_s: float
    ops: list[Op] = field(default_factory=list)
    end_to_end: dict = field(default_factory=dict)  # name -> value
    layers: dict = field(default_factory=dict)  # name -> value, traced run
    info: dict = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def timed_op(ctx: Ctx, ops: list[Op], kind: str, call, check=None):
    """Run ``call`` inside an ``op.<kind>`` span; ``check(result)``
    returns an error string (or ``None``) and runs outside the timing.
    A raised exception or a failed check marks the op failed."""
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{kind}"):
            result = call()
    except Exception:
        ops.append(Op(kind, time.perf_counter() - t0, False, traceback.format_exc(limit=3)))
        return None
    dur = time.perf_counter() - t0
    err = check(result) if check is not None else None
    ops.append(Op(kind, dur, err is None, err or ""))
    return result


def units() -> dict:
    """Metric name -> unit, as BENCHMARK.json lists them (the one place
    units and directions are kept)."""
    spec = json.loads(BENCHMARK_JSON.read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def result_line(outcome: Outcome, metrics: dict) -> dict:
    """The JSON object a run prints last: a failed check or a raised
    call anywhere in the run makes it incorrect. ``metrics`` maps each
    name to its value."""
    unit = units()
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def durations(ops: list[Op], kind: str | None = None) -> list[float]:
    return [o.dur for o in ops if kind is None or o.kind == kind]
