"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...,
   "extra": {per-metric detail incl. edges/sec per PageRank superstep}}

The headline metric (BASELINE.json) is edges-processed/sec per PageRank
superstep + wall-time to 1e-6 convergence on the derived link graph.
Scaling-efficiency evidence (N vs 4N cores) is produced by
tools/run_scaling.py (kept out of the per-round bench for runtime).

Round 4: every timing is the MEDIAN of $SPARK_GRAFT_REPS (default 5)
INTERLEAVED repetitions — rep loop outside the query loop, so a noisy
patch on a shared box hits all queries of one rep, not one query's
only sample.  Per-rep raw timings ship in extra["reps"] so drift is
auditable; single-rep mode (SPARK_GRAFT_REPS=1) reproduces the old
behavior.

The rep loop is preceded by ONE untimed warm-up pass over the same
query list ($SPARK_GRAFT_WARMUP=0 disables) — the JMH discipline.
Every measured r4 run showed the first pass 2-8x slower than steady
state (cold OS page cache on the sf0.1 parquet, JIT/codegen compile,
shuffle-dir creation, and firecracker CPU-burst ramp), a monotone
warm-up signature rather than random box noise; medians that include
it measure the cold start, not the engine.  The warm-up pass timings
are still recorded in extra["warmup"] so nothing is hidden — this is
a pre-declared uniform protocol, not per-rep selection.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def bench_edges(spark, sf_dir: str, partitions: int):
    """Derived deterministic link graph scaled to the sf: V ~ |lineitem|/30."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n = li.count()
    v = max(2000, n // 30)
    s = (F.col("l_orderkey").cast("long") * 7 + F.col("l_linenumber").cast("long")) % v
    d = (F.col("l_partkey").cast("long") * 11 + 3) % v
    e = (
        li.select(s.alias("src"), d.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(partitions, "src")
        .persist()
    )
    return e, v, e.count()


def skew_edges(spark, partitions: int):
    """Planted-skew fixture (round 5): R-MAT power-law background over a
    2^18 vertex domain + a planted 10^4-degree hub at vertex 0 — the graph
    shape where id-oriented wedges and unsplit adjacency arrays blow up.
    The skew_* bench rows exist so the degree-ordered wedge orientation
    and hub-split layouts have a NUMBER attached and regressions surface
    in BENCH_rN.json."""
    from linkgraph import datagen

    bg = datagen.rmat_edges(spark, 400_000, 18, partitions=partitions)
    hub = spark.range(1, 10_001).select(
        F.lit(0).cast("long").alias("src"),
        (F.col("id") * 7).cast("long").alias("dst"),
    )
    e = (
        bg.union(hub)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(partitions, "src")
        .persist()
    )
    return e, e.count()


def main():
    from linkgraph.session import default_cores, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = default_cores()
    P = int(os.environ.get("SPARK_GRAFT_PARTITIONS", str(2 * cores)))
    REPS = int(os.environ.get("SPARK_GRAFT_REPS", "5"))
    WARMUP = int(os.environ.get("SPARK_GRAFT_WARMUP", "1"))

    from linkgraph.algos import (
        connected_components,
        label_propagation,
        pagerank,
        triangle_count,
    )
    from linkgraph import datagen
    from linkgraph import suite as _suite
    from linkgraph.graph import LinkGraph

    spark = get_spark("linkgraph-bench", cores=cores, shuffle_partitions=P)

    extra: dict = {"cores": cores, "partitions": P, "reps": {}}

    edges, v, e_count = bench_edges(spark, sf_dir, P)
    vertices = spark.range(v).select("id")
    extra["num_vertices"] = v
    extra["num_edges"] = e_count
    pages = datagen.synth_pages(spark, 20000, partitions=P).persist()
    pages.count()

    _sps: list[float] = []

    def run_pagerank_10(res):
        _, metrics = pagerank(edges, vertices=vertices, num_iters=10,
                              partitions=P)
        per_iter = [m["seconds"] for m in metrics]
        _sps.append(sum(per_iter) / len(per_iter))

    def run_pagerank_conv(res):
        _, cm = pagerank(edges, vertices=vertices, tol=1e-6, max_iter=120,
                         partitions=P)
        res["pagerank_converge_iters"] = len(cm)
        res["pagerank_final_l1_delta"] = cm[-1]["l1_delta"]

    def run_cc(res):
        _, ccm = connected_components(edges, vertices=vertices, partitions=P)
        res["cc_iters"] = len(ccm)

    def run_lp(_res):
        label_propagation(edges, vertices=vertices, max_iter=5, partitions=P)

    def run_tri(res):
        res["triangles"] = triangle_count(edges)

    def run_minhash(res):
        res["minhash_dup_pairs"] = _suite.q_minhash_lsh_dedup(
            spark, sf_dir).count()

    def run_ann(_res):
        _suite.q_ann_lsh_topk(spark, sf_dir).count()

    def run_stream(_res):
        _suite.q_stream_hourly(spark, sf_dir).count()

    def run_ingest(res):
        g = LinkGraph.from_pages(pages, partitions=P)
        res["ingest_edges"] = g.num_edges()

    sk_edges, sk_count = skew_edges(spark, P)
    extra["skew_num_edges"] = sk_count

    def run_skew_pagerank(_res):
        pagerank(sk_edges, num_iters=5, partitions=P)

    def run_skew_tri(res):
        res["skew_triangles"] = triangle_count(sk_edges)

    def run_skew_cc(res):
        _, ccm = connected_components(sk_edges, partitions=P)
        res["skew_cc_iters"] = len(ccm)

    QUERIES = [
        ("pagerank_10iter", run_pagerank_10),
        ("pagerank_converge_1e6", run_pagerank_conv),
        ("connected_components", run_cc),
        ("label_propagation_5iter", run_lp),
        ("triangle_count", run_tri),
        ("minhash_lsh_dedup", run_minhash),
        ("ann_lsh_topk", run_ann),
        ("stream_hourly", run_stream),
        ("ingest_pages_20k", run_ingest),
        ("skew_pagerank_5iter", run_skew_pagerank),
        ("skew_triangle_count", run_skew_tri),
        ("skew_connected_components", run_skew_cc),
    ]

    warm: dict[str, float] = {}
    for _ in range(WARMUP):
        _sps.clear()
        for name, fn in QUERIES:
            t0 = time.time()
            fn(extra)
            warm[name] = round(time.time() - t0, 3)

    raw: dict[str, list[float]] = {name: [] for name, _ in QUERIES}
    _sps.clear()
    for rep in range(REPS):
        for name, fn in QUERIES:
            t0 = time.time()
            fn(extra)  # detail keys overwrite — identical across reps
            raw[name].append(round(time.time() - t0, 3))

    timings = {name: statistics.median(ts) for name, ts in raw.items()}
    extra["reps"] = raw
    extra["warmup"] = warm
    extra["n_reps"] = REPS
    extra["pagerank_sec_per_superstep"] = statistics.median(_sps)
    extra["pagerank_edges_per_sec_per_superstep"] = e_count / statistics.median(_sps)
    extra["ingest_pages_per_sec"] = 20000 / timings["ingest_pages_20k"]

    # like-for-like subtotal vs rounds 1-4 (the skew_* rows are new in r5)
    extra["suite9_total"] = round(
        sum(s for k, s in timings.items() if not k.startswith("skew_")), 3
    )
    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "link-graph suite wall time, median of "
                          f"{REPS} interleaved reps (headline: edges/sec "
                          "per PageRank superstep in extra)",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(s, 3) for k, s in timings.items()},
                "sf": sf_dir.rstrip("/").split("/")[-1],
                "extra": extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()