"""Shared helpers for the iterative algorithms: the graph normalization,
the state checkpoint and the one fixpoint loop built on it."""

from __future__ import annotations

import gc
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..ckpt import CheckpointManager

# vertex-priority hash (x * A + B) mod M shared by the colouring, MIS and
# matching loops and their SQL twins: BIGINT-exact in any engine
PRI_A = 1_000_003
PRI_B = 12345
PRI_M = (1 << 31) - 1


def _ckpt(df: DataFrame, P: int, *keys: str) -> DataFrame:
    """Pin ``df`` on ``keys`` across ``P`` partitions and truncate its lineage
    (eager local checkpoint) — the per-round state step of every loop."""
    return df.repartition(P, *keys).localCheckpoint(eager=True)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    P: int,
    keys: tuple[str, ...],
    max_iter: int,
    stop: Callable[[dict, dict], bool],
    counters: dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
    extra: Callable[[dict], dict] | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Run ``state = step(state)`` until ``stop`` or ``max_iter`` rounds.

    Each round is ONE Spark job: the new state is pinned on ``keys`` and
    checkpointed as in :func:`_ckpt`, with its row count and every counter
    observed on that checkpoint.  ``counters`` maps a record name to a
    boolean helper column of the step's output; the record carries the
    number of rows where it is true.  Helper columns (``_``-prefixed) are
    dropped from the state after the checkpoint.  Round ``i`` appends
    ``{"iteration": i, "seconds", "rows", **counters, **extra(record)}``,
    saves the state durably when ``checkpoint_dir`` is given, and stops
    when ``stop(record, previous)`` holds; ``previous`` is the record of
    the round before, or ``{"rows": n}`` for the state the loop started
    from.

    A complete durable checkpoint takes precedence over ``state``: the
    loop resumes from its state and history at the next iteration.
    """
    counters = counters or {}
    ckpt = CheckpointManager(checkpoint_dir) if checkpoint_dir else None
    metrics: list[dict] = []
    start = 0
    if ckpt is not None and (last := ckpt.latest()) is not None:
        state, _ = ckpt.load(state.sparkSession, last)
        metrics, start = ckpt.history(), last + 1

    def checkpoint(df: DataFrame, flags: dict[str, str]) -> tuple[DataFrame, dict]:
        obs = Observation()
        df = df.repartition(P, *keys).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            *(F.coalesce(F.sum(F.col(c).cast("long")), F.lit(0)).alias(n)
              for n, c in flags.items()),
        ).localCheckpoint(eager=True)
        return df.drop(*(c for c in df.columns if c.startswith("_"))), obs.get

    state, prev = checkpoint(state, {})
    for it in range(start, max_iter):
        t0 = time.time()
        state, observed = checkpoint(step(state), counters)
        m = {"iteration": it, "seconds": time.time() - t0, **observed}
        if extra is not None:
            m.update(extra(m))
        metrics.append(m)
        if ckpt is not None:
            ckpt.save(it, state, m)
        gc.collect()  # release the prior round's checkpoint RDD + shuffles
        if stop(m, prev):
            break
        prev = m
    return state, metrics


def norm_edges(
    edges: DataFrame,
    partitions: int,
    directed: bool = False,
    materialize: str = "persist",
) -> DataFrame:
    """Simple-graph view of the edge table, pinned on ``src``.

    Undirected mode unions the reversed edges; self-loops are dropped and
    duplicates removed, then the result is hash-partitioned on src and
    materialized (``persist`` + eager count, or ``checkpoint`` for
    lineage-truncated loops, or ``none``) so every superstep of the caller
    reuses one pinned edge table.
    """
    e = edges.select("src", "dst")
    if not directed:
        e = e.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(partitions, "src")
    )
    if materialize == "persist":
        e = e.persist()
        e.count()
    elif materialize == "checkpoint":
        e = e.localCheckpoint(eager=True)
    return e
