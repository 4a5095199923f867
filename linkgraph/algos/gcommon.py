"""Shared graph-normalization helpers for the iterative algorithms."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ckpt(df: DataFrame, P: int, *keys: str) -> DataFrame:
    """Pin ``df`` on ``keys`` across ``P`` partitions and truncate its lineage
    (eager local checkpoint) — the per-round state step of the peel and
    colouring loops."""
    return df.repartition(P, *keys).localCheckpoint(eager=True)


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
