"""Label propagation clustering — synchronous, deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors (undirected view); ties broken by the smallest label; vertices
with no neighbors keep their label.  Runs a fixed cap of supersteps (default
20) with early stop when a round changes nothing — fully deterministic so
the pytest oracle check is exact (north rule: label assignments exact).

Per superstep (components.label_fixpoint, shared with connected
components): the V-row label state joins pinned CSR-style adjacency
blocks (pagerank.adjacency_blocks: hubs split/salted, join keys ~V rows
not E), then one (id, label) grouped count (partial agg) and a per-id
argmax via max(struct(cnt, -label)) — no window shuffle beyond the grouped
agg, no Python in the loop, one Spark job per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .components import label_fixpoint


def label_propagation(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Returns (labels(id, label), per-iteration metrics)."""
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    def update(labels: DataFrame, nb: DataFrame) -> DataFrame:
        # mode with min-label tie-break: argmax of (count, -label)
        best = (
            nb.groupBy("id", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m"))
            .select("id", (-F.col("m.neg")).alias("nb_label"))
        )
        return labels.join(best.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.coalesce("nb_label", F.col("label")).alias("label"),
            (F.coalesce("nb_label", F.col("label")) != F.col("label")).alias("_chg"),
        )

    return label_fixpoint(
        edges, vertices, P, max_iter, checkpoint_dir,
        lambda v: v.select("id", F.col("id").alias("label")), update,
    )
