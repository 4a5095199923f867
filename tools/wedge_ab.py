"""A/B evidence for the round-5 degree-ordered wedge orientation.

Builds a planted-hub graph (R-MAT power-law background + one hub of
degree $WEDGE_HUB_DEG, default 50k) and runs the exact triangle count
under BOTH orientations:

  A. id-ordered (the pre-round-5 plan: orient a<b by vertex id, wedge
     join on the low endpoint) — a degree-d hub lands ~d/2 out-neighbors,
     so the hub's join key alone emits ~C(d/2, 2) wedge rows;
  B. degree-ordered (the shipped plan, triangles.triangles()) — out-
     degrees are O(sqrt(m)) under the (degree, id) total order, total
     wedge work O(m^1.5).

Prints one JSON line with both wall times, both wedge-row counts, and the
(identical) triangle counts.  This is the measurement behind the
BENCH/SCALE claim that the r4 scale finding is actually closed, not just
re-planned.

Usage: python tools/wedge_ab.py   [env: WEDGE_HUB_DEG, WEDGE_BG_EDGES,
                                   SPARK_GRAFT_CPUS]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def id_oriented_triangles(edges):
    """The pre-round-5 id-ordered plan, reproduced verbatim for the A arm."""
    o = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    e1 = o.select(F.col("a"), F.col("b"))
    e2 = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c")
    closing = o.select(F.col("a"), F.col("b").alias("c"))
    return wedges, wedges.join(closing, ["a", "c"], "left_semi")


def main():
    hub_deg = int(os.environ.get("WEDGE_HUB_DEG", "50000"))
    bg_edges = int(os.environ.get("WEDGE_BG_EDGES", "2000000"))

    from linkgraph import datagen
    from linkgraph.session import default_cores, get_spark
    from linkgraph.algos.triangles import degree_ranked_oriented, _rank_lt

    cores = default_cores()
    spark = get_spark("wedge-ab", cores=cores, shuffle_partitions=2 * cores)

    bg = datagen.rmat_edges(spark, bg_edges, 18, partitions=2 * cores)
    # hub at a MID-RANGE id with neighbors on both id-sides: this is the
    # case the r4 verdict names — under id orientation a random-id hub
    # keeps ~d/2 out-neighbors, so the wedge join emits ~(d/2)^2 rows from
    # its key alone.  (A hub at id 0 is id-orientation's BEST case: zero
    # lower neighbors, zero wedges centered there.)
    hub_v = 1 << 17
    hub = spark.range(1, hub_deg + 1).select(
        F.lit(hub_v).cast("long").alias("src"),
        F.when(F.col("id") % 2 == 0, F.lit(hub_v) - F.col("id"))
        .otherwise(F.lit(hub_v) + F.col("id"))
        .cast("long")
        .alias("dst"),
    )
    e = (
        bg.union(hub)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(2 * cores, "src")
        .persist()
    )
    m = e.count()

    # ---- arm A: id-ordered (old plan)
    t0 = time.time()
    wedges_a, tri_a = id_oriented_triangles(e)
    n_wedges_a = wedges_a.count()
    t_wa = time.time() - t0
    t0 = time.time()
    n_tri_a = tri_a.count()
    t_a = time.time() - t0

    # ---- arm B: degree-ordered (shipped plan), with its wedge stage
    # counted separately through the same internals triangles() uses
    t0 = time.time()
    o = degree_ranked_oriented(e)
    w1 = o.select("lo", F.col("hi").alias("p"), F.col("dhi").alias("dp"))
    w2 = o.select("lo", F.col("hi").alias("q"), F.col("dhi").alias("dq"))
    wedges_b = (
        w1.join(w2, "lo")
        .filter(_rank_lt(F.col("dp"), F.col("p"), F.col("dq"), F.col("q")))
    )
    n_wedges_b = wedges_b.count()
    t_wb = time.time() - t0
    from linkgraph.algos.triangles import triangles

    t0 = time.time()
    n_tri_b = triangles(e).count()
    t_b = time.time() - t0

    print(json.dumps({
        "edges": m, "hub_degree": hub_deg,
        "id_oriented": {"wedge_rows": n_wedges_a, "wedge_sec": round(t_wa, 2),
                        "triangles": n_tri_a, "count_sec": round(t_a, 2)},
        "degree_oriented": {"wedge_rows": n_wedges_b, "wedge_sec": round(t_wb, 2),
                            "triangles": n_tri_b, "count_sec": round(t_b, 2)},
        "wedge_row_ratio": round(n_wedges_a / max(1, n_wedges_b), 1),
        "speedup": round(t_a / max(1e-9, t_b), 2),
        "match": n_tri_a == n_tri_b,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
