"""The one way to truncate lineage in an iterative DataFrame loop.

A loop that feeds each round's result into the next builds an ever
deeper plan: Catalyst re-analyzes the whole unrolled chain on every
operation, and a state read twice per round (a squaring's self-join, an
output union) doubles its lineage each round.  ``persist()`` does not
help — the analyzed plan still nests the history, and Spark 4.1's
analyzer runs out of heap within a few self-referential rounds.  An
eager ``localCheckpoint`` materializes the state and replaces its plan
with a scan of the cached rows.

``parts`` is the width ``checkpoint`` materializes:

* ``None`` keeps ``df``'s partitioning.  Only a non-adaptive plan
  reports one: under AQE a plan containing an exchange comes back with
  UNKNOWN partitioning at any width.
* ``n`` coalesces first, because AQE does not coalesce on the checkpoint
  path: a vanilla session would materialize
  ``spark.sql.shuffle.partitions`` micro-tasks for a KB-scale table.
* ``1`` also re-applies ``coalesce(1)`` afterwards, a free narrow op that
  makes SinglePartition visible again; it satisfies every downstream
  join and groupBy clustering, so the first rounds over a small state
  plan no exchange.  Later rounds may still re-shuffle once the
  checkpoint's compounding size estimate passes
  ``spark.sql.maxSinglePartitionBytes``.

``iterate`` checkpoints every round's state but the last, which the
caller's action materializes; loops whose last state is read twice wrap
it as ``checkpoint(iterate(...), parts)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def checkpoint(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Eager local checkpoint of ``df`` on ``parts`` partitions."""
    if parts is None:
        return df.localCheckpoint()
    out = df.coalesce(parts).localCheckpoint()
    return out.coalesce(1) if parts == 1 else out


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    parts: int | None,
) -> DataFrame:
    """Apply ``step(state, i)`` for i in 0..rounds-1, checkpointing
    every round's state on ``parts`` partitions except the last."""
    for i in range(rounds):
        state = step(state, i)
        if i < rounds - 1:
            state = checkpoint(state, parts)
    return state
