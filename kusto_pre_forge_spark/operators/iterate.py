"""One driver for the fixed-iteration trainers: one arithmetic, two schedules.

A trainer (k-means centroids, PQ codebooks, the two logistic regressions)
states its arithmetic once, as three callbacks:

- ``load(pdf) -> batch`` — decode one Arrow batch; ``None`` drops it;
- ``partial(batches, state) -> obj`` — one task's running accumulation
  over its batches, in batch and row order; must pickle;
- ``fold(partials, state) -> state | None`` — combine the partials, given
  in partition-id order, into the next state; ``None`` stops early and
  keeps the current state.

:func:`iterate` makes the scale decision — the only place these trainers
look at the input's partition count:

- one partition: a lone task already sees every row, so ONE
  ``mapInPandas`` task loads its batches once and runs every
  ``partial`` → ``fold`` round in-process (``n_iters`` sequential
  scheduler-bound jobs become one);
- more: the frame is persisted and each iteration is one
  ``mapInPandas`` job whose tasks emit ``(pid, pickled partial)``; the
  driver folds the partials (one per task, model-sized, never
  corpus-sized) and the next iteration ships the new state in its
  closure.

Both schedules run the same callbacks, so a one-partition and an
N-partition run differ only by floating-point reassociation across the
per-task partials.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame


def iterate(
    df: DataFrame,
    state: Any,
    n_iters: int,
    load: Callable[[pd.DataFrame], Any],
    partial: Callable[[list, Any], Any],
    fold: Callable[[list, Any], Any],
) -> Any:
    """Run ``n_iters`` rounds of ``state = fold([partial(...)...], state)``
    over ``df`` and return the last state (see the module docstring)."""

    def _batches(it) -> list:
        return [b for b in map(load, it) if b is not None]

    if df.rdd.getNumPartitions() == 1:

        def _all_rounds(it):
            batches = _batches(it)
            st = state
            for _ in range(n_iters):
                nxt = fold([partial(batches, st)], st)
                if nxt is None:
                    break
                st = nxt
            yield pd.DataFrame({"state": [pickle.dumps(st)]})

        out = df.mapInPandas(_all_rounds, "state binary").collect()
        return pickle.loads(out[0]["state"])

    def _round(st):
        def _task(it):
            from pyspark import TaskContext

            blob = pickle.dumps(partial(_batches(it), st))
            yield pd.DataFrame(
                {"pid": [TaskContext.get().partitionId()], "partial": [blob]}
            )

        return _task

    # every round re-scans the same rows — persist once, release after
    df = df.persist()
    try:
        for _ in range(n_iters):
            rows = df.mapInPandas(_round(state), "pid int, partial binary").collect()
            rows.sort(key=lambda r: r["pid"])
            nxt = fold([pickle.loads(r["partial"]) for r in rows], state)
            if nxt is None:
                break
            state = nxt
    finally:
        df.unpersist()
    return state
