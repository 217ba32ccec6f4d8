"""The superstep driver: one loop that owns a fixpoint's execution.

GraphIt keeps the algorithm (the per-round update) apart from how it is
run. Here a kernel supplies only the algorithm:

    step(state, i) -> next state      a lazy DataFrame for round i
    measure(state) -> number          optional: one action on the new
                                      round's checkpoint (an L1 distance,
                                      a changed-row count)

and ``iterate`` runs it. Per round it checkpoints the new state
(``fresh_checkpoint``) and evaluates the measure on that checkpoint.
The measure's action is what materializes a measured round's
checkpoint, so a measure must read every row. The driver then releases
the superseded checkpoint — the one frame the driver bound, never a
frame derived from it — and, given a ``SnapshotStore``, commits the
round's snapshot with its manifest metrics. It stops when the
rounds run out or the measure drops to ``tol``, and reports how many
rounds ran and whether the measure got there; what to do about a loop
that did not converge (stop, raise) stays the kernel's call.

With a store the committed snapshot, read back, is the next round's
state: an interrupted run resumes from exactly what an uninterrupted
one computes on. A round with no measure then needs no checkpoint at
all — the snapshot read-back already truncates the lineage.

A step may return a state it checkpointed itself (a multi-hop phase
that materializes intermediate frames, e.g. connected_components'
pointer jumps); the driver takes it over as the round's bound
checkpoint instead of checkpointing it again.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Iterable

from pyspark.sql import DataFrame

from graphit_spark.plans.state import fresh_checkpoint


@dataclass
class Fixpoint:
    """What ``iterate`` hands back. ``state`` is the last round's state;
    when it is the driver's checkpoint, its ``unpersist()`` frees it."""

    state: DataFrame
    rounds: int  # rounds run in this call
    converged: bool  # the measure reached tol


def _checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    # fresh_checkpoint binds unpersist on the instance it returns
    return df if "unpersist" in vars(df) else fresh_checkpoint(df, eager)


def iterate(
    step: Callable[[DataFrame, int], DataFrame],
    state: DataFrame,
    rounds: Iterable[int],
    *,
    measure: Callable[[DataFrame], float] | None = None,
    tol: float = 0.0,
    store=None,
    kernel: str | None = None,
    snapshot: tuple[str, ...] | None = None,
    record: Callable[[float | None], dict] | None = None,
    metrics_out: dict | None = None,
    final_key: str | None = None,
) -> Fixpoint:
    """Run ``state = step(state, i)`` for i in ``rounds``.

    measure/tol: converged once ``measure(checkpoint) <= tol``.
    store: SnapshotStore committing round i as iteration i; ``snapshot``
    names the columns it keeps (default: all), and the manifest metrics
    are ``{"kernel", "elapsed_sec", **record(measure)}`` — elapsed_sec
    runs up to the write, so a round without a checkpoint computes
    inside the write and shows in the manifest's elapsed_write_sec.
    metrics_out: refreshed every round with ``iterations`` (rounds run
    in this call) and, under ``final_key``, the round's measure.
    """
    # the first round's action reads all of it before it is released
    bound = state = _checkpoint(state, eager=False)
    run_rounds, value, converged = 0, None, False
    for i in rounds:
        t0 = time.time()
        new, ck = step(state, i), None
        if measure is not None or store is None:
            # the measure reads every row of the round, so its action
            # is the one that materializes the checkpoint
            new = ck = _checkpoint(new, eager=measure is None)
        value = measure(ck) if measure is not None else None
        if store is not None:
            metrics = {"kernel": kernel, "elapsed_sec": time.time() - t0}
            if record is not None:
                metrics.update(record(value))
            new = store.write(new.select(*snapshot) if snapshot else new, i, metrics)
        if bound is not None and bound is not ck:
            bound.unpersist()
        bound, state = ck, new
        run_rounds += 1
        if metrics_out is not None:
            metrics_out["iterations"] = run_rounds
            if final_key is not None:
                metrics_out[final_key] = value
        if value is not None and value <= tol:
            converged = True
            break
    if bound is not None and bound is not state:
        bound.unpersist()
    return Fixpoint(state, run_rounds, converged)
