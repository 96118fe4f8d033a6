"""Types shared by the workloads and the runner."""

from __future__ import annotations

from dataclasses import dataclass, field

from tracing import StorageMeter, Tracer


@dataclass
class Op:
    """One measured operation."""

    name: str
    latency_s: float
    items: int  # work items the operation completed (queries, rows)
    traced: bool = False
    error: str | None = None  # raised, or failed its output check
    index: int = 0


@dataclass
class Context:
    spark: object
    run_dir: str
    seed: int
    seconds: float
    tracer: Tracer
    traced_run: bool
    storage: StorageMeter | None = None
    # per-operation storage deltas (label → counters), same order as ops
    storage_steps: list[dict] = field(default_factory=list)
    # time spent in set-up on work that is not set-up (output checks)
    untimed_setup_s: float = 0.0
    notes: dict = field(default_factory=dict)


def traced_turn(ctx: Context, k: int) -> bool:
    """In a traced run, operations alternate untraced/traced, starting
    untraced, so every traced operation has an untraced one on each side
    to be compared with (``metrics.overhead``); untraced runs never
    trace."""
    return ctx.traced_run and k % 2 == 1
