"""k-core decomposition by iterative peeling.

Repeatedly remove vertices of undirected degree < k until none remain; the
survivors are the k-core.  Each round is one grouped degree count + one
broadcast-able semi-join filter (the removed set shrinks the edge table),
run as a ``gcommon.fixpoint`` round: one Spark job, lineage truncated.
Converges in O(peeling depth) rounds; early exit when a round removes
nothing (the checkpoint's observed row count is unchanged).  New link-graph
capability (no reference analogue); oracle: oracles.kcore_oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import fixpoint, norm_edges


def kcore_vertices(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
    partitions: int | None = None,
) -> DataFrame:
    """(id) — vertices of the k-core of the undirected simple graph."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    def peel(sym: DataFrame) -> DataFrame:
        keep = (
            sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        return (
            sym.join(keep.hint("shuffle_hash"), "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst").hint("shuffle_hash"),
                  "dst", "left_semi")
        )

    sym, _ = fixpoint(
        norm_edges(edges, P, materialize="none"), peel, P, ("src",), max_rounds,
        stop=lambda m, prev: m["rows"] == prev["rows"],
    )
    return sym.select(F.col("src").alias("id")).distinct()


def core_numbers(
    edges: DataFrame,
    max_rounds: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Full core decomposition: (id, core) for every vertex with an edge.

    Distributed coreness via H-index iteration (the locality-based
    k-core-decomposition construction of Montresor/De Pellegrini/Miorandi):
    start with core(v) = deg(v); each round set core(v) to the H-index of
    its neighbors' current values (the largest h such that ≥ h neighbors
    have core ≥ h); monotonically non-increasing and converges to the exact
    coreness.  Each round is one state ⋈ edges join + one windowed rank per
    vertex — all built-in column expressions, converging in few rounds on
    real graphs (rounds ≤ graph degeneracy-ish, not O(V) like sequential
    peeling).  Per-round lineage truncation; fixpoint when no value drops.
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    sym = norm_edges(edges, P)

    def hindex(core: DataFrame) -> DataFrame:
        # neighbor core values, ranked descending per vertex;
        # H-index = max(min(rank, neighbor_core))
        nb = sym.join(
            core.withColumnRenamed("id", "dst").withColumnRenamed("core", "nc")
            .hint("shuffle_hash"),
            "dst",
        ).select("src", "nc")
        w = Window.partitionBy("src").orderBy(F.col("nc").desc())
        h = (
            nb.withColumn("_rn", F.row_number().over(w))
            .groupBy("src")
            .agg(F.max(F.least(F.col("_rn").cast("long"), F.col("nc"))).alias("h"))
        )
        return (
            core.join(h.withColumnRenamed("src", "id").hint("shuffle_hash"), "id")
            .select("id", F.least("core", "h").alias("core"),
                    (F.col("h") < F.col("core")).alias("_drop"))
        )

    # the drop count rides the checkpoint job — the H-index window sort
    # (the engine's only sorting loop) runs ONCE per round
    core, metrics = fixpoint(
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("core"))
        .withColumnRenamed("src", "id"),
        hindex, P, ("id",), max_rounds,
        stop=lambda m, _: m["dropped"] == 0,
        counters={"dropped": "_drop"},
    )
    sym.unpersist()
    return core, metrics
