"""Nearest-seed graph Voronoi partition (multi-source BFS labeling).

Assigns every reachable vertex to its closest seed — ties broken by the
smaller seed label — via synchronous struct-min supersteps over the
state ``(dist, seed)``: per round one adjacency⋈state join, one grouped
struct-min (map-side combinable), and one full-outer merge taking the
lexicographic minimum of old state and best neighbor candidate; the
merge also flags the vertices it changed, and that count rides the
round's checkpoint job (``gcommon.fixpoint``: one Spark job per round).
The struct order (dist, seed) is a total order, so the fixpoint is unique
and engine-portable (same portability argument as the matching /
Borůvka struct keys).

This is the crawl-shard / CDN-assignment primitive: seeds are shard
anchors, the partition is "which anchor owns each host", and the dist
column is the propagation radius.  Converges in eccentricity-of-seed-set
rounds (small on web graphs; the suite unrolls 8).

State is hash-partitioned on id; the adjacency is pinned once.  Vertices
unreachable from every seed stay absent from the output (no sentinel
rows to shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import _ckpt, fixpoint, norm_edges


def nearest_seed_partition(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 30,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns ``(state(id, dist, seed), metrics)`` over the undirected
    view of ``edges``; ``seeds`` is a one-column ``id`` DataFrame."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    und = norm_edges(edges, P, materialize="checkpoint")

    def relax(state: DataFrame) -> DataFrame:
        cand = (
            und.join(state.withColumnRenamed("id", "src").hint("shuffle_hash"),
                     "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.struct((F.col("m.d") + 1).alias("d"),
                                F.col("m.l").alias("l"))).alias("c"))
        )
        return (
            state.join(cand.hint("shuffle_hash"), "id", "full_outer")
            .select("id", F.least("m", "c").alias("m"),
                    (F.col("m").isNull() | (F.col("c") < F.col("m"))).alias("_chg"))
        )

    state, metrics = fixpoint(
        seeds.select("id").distinct().select(
            "id", F.struct(F.lit(0).cast("long").alias("d"),
                           F.col("id").alias("l")).alias("m")),
        relax, P, ("id",), max_rounds,
        stop=lambda m, _: m["changed"] == 0,
        counters={"changed": "_chg"},
    )
    out = state.select("id", F.col("m.d").alias("dist"),
                       F.col("m.l").alias("seed"))
    return _ckpt(out, P, "id"), metrics
