"""The cost of a superstep must not grow with the number of supersteps:
neither its wall time nor the optimizer's size estimate of the state each
checkpoint inherits (an estimate whose bit length doubles per superstep
makes planning blow up around superstep 20)."""

import sys

import numpy as np
import pytest
from pyspark.sql.classic.dataframe import DataFrame

from linkgraph import datagen, oracles
from linkgraph.algos import connected_components, label_propagation, pagerank
from linkgraph.algos.kcore import core_numbers, kcore_vertices
from linkgraph.algos.ktruss import truss_numbers
from linkgraph.algos.paths import sssp_distances
from linkgraph.algos.scc import condensation_levels
from linkgraph.algos.voronoi import nearest_seed_partition

V = 30
EDGES = datagen.expected_edges(V)
ROUNDS = 12
# a weighted 41-vertex path: every loop but the truss one moves one hop
# per round on it, so none reaches its fixpoint within ROUNDS + 1 rounds
PATH = [(i, i + 1, 1) for i in range(40)]


def _tube(rings: int = 16, m: int = 4) -> list[tuple[int, int]]:
    """Triangulated tube of ``rings`` + 1 rings of ``m`` vertices: inner
    edges lie on two triangles, the end rings' edges on one, so the truss
    h-index drop moves in from the ends one ring per round."""
    v = lambda r, j: r * m + j % m  # noqa: E731
    return [(v(r, j), v(r, j + 1)) for r in range(rings + 1) for j in range(m)] + [
        (v(r, j), v(r + 1, j + d)) for r in range(rings) for j in range(m) for d in (0, 1)
    ]


@pytest.fixture(scope="module")
def vertices30(spark):
    return spark.createDataFrame([(i,) for i in range(V)], "id long")


def test_pagerank_superstep_cost_flat(spark, edges30, vertices30):
    # tol=0 never converges: all 40 supersteps run in convergence mode
    ranks, metrics = pagerank(
        edges30, vertices=vertices30, tol=0.0, max_iter=40, partitions=8
    )
    assert len(metrics) == 40
    secs = [m["seconds"] for m in metrics]
    assert np.mean(secs[-5:]) <= 2 * np.mean(secs[:5]), secs
    got = np.full(V, np.nan)
    for r in ranks.collect():
        got[int(r["id"])] = r["rank"]
    assert np.allclose(got, oracles.pagerank_oracle(V, EDGES, num_iters=40), atol=1e-6)


@pytest.fixture
def plan_bits(monkeypatch):
    """Bit length of ``sizeInBytes`` of every plan handed to
    ``localCheckpoint`` — the estimate the checkpoint carries into the next
    superstep's plan."""
    digits = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)  # py4j hands the BigInteger over as text
    bits: list[int] = []
    local_checkpoint = DataFrame.localCheckpoint

    def recording(self, *args, **kwargs):
        size = self._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        bits.append(int(size).bit_length())
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording)
    yield bits
    sys.set_int_max_str_digits(digits)


RUNS = {
    "pagerank_tol": (pagerank, dict(tol=0.0, max_iter=ROUNDS)),
    "pagerank_fixed": (pagerank, dict(num_iters=ROUNDS)),
    "pagerank_warm": (pagerank, dict(tol=0.0, max_iter=ROUNDS)),
    "pagerank_salted": (pagerank, dict(tol=0.0, max_iter=ROUNDS, hub_degree_threshold=3)),
    "pagerank_dst_buckets": (pagerank, dict(tol=0.0, max_iter=ROUNDS, dst_buckets=4)),
    "connected_components": (connected_components, dict(max_iter=ROUNDS)),
    "label_propagation": (label_propagation, dict(max_iter=ROUNDS)),
    "core_numbers": (core_numbers, dict(max_rounds=ROUNDS)),
    "kcore_vertices": (kcore_vertices, dict(k=2, max_rounds=ROUNDS)),
    "nearest_seed_partition": (nearest_seed_partition, dict(seeds=[0], max_rounds=ROUNDS)),
    "truss_numbers": (truss_numbers, dict(max_rounds=ROUNDS)),
    "condensation_levels": (condensation_levels, dict(max_rounds=ROUNDS)),
    "sssp_distances": (sssp_distances, dict(sources=[0], max_iter=ROUNDS)),
}


def _inputs(spark, algo, kw):
    """Edges and keyword arguments of a non-PageRank run; a list of ids
    becomes a one-column ``id`` DataFrame."""
    if algo is truss_numbers:
        edges = spark.createDataFrame(_tube(), "src long, dst long")
    else:
        edges = spark.createDataFrame(PATH, "src long, dst long, weight long")
    kw = {k: spark.createDataFrame([(i,) for i in v], "id long") if isinstance(v, list)
          else v for k, v in kw.items()}
    return edges, kw


@pytest.mark.parametrize("run", list(RUNS))
def test_checkpoint_plan_stats_grow_linearly(spark, edges30, vertices30, plan_bits, run):
    algo, kw = RUNS[run]
    if algo is pagerank:
        edges, kw = edges30, dict(kw, vertices=vertices30)
    else:
        edges, kw = _inputs(spark, algo, kw)
    if run == "pagerank_warm":
        kw["initial_ranks"] = spark.createDataFrame(
            [(i, float(i + 1)) for i in range(V)], "id long, rank double")
    out = algo(edges, partitions=8, **kw)
    if isinstance(out, tuple):
        assert len(out[1]) == ROUNDS
    assert len(plan_bits) > ROUNDS
    # the loop's checkpoints are the last ones (condensation_levels runs
    # SCC's own checkpoints first)
    steps = np.diff(plan_bits[-ROUNDS:])
    assert steps[-1] <= 2 * steps[0], plan_bits


@pytest.mark.parametrize("run", [r for r, (algo, _) in RUNS.items() if algo is not pagerank])
def test_fixpoint_one_job_per_round(spark, run):
    """Every fixpoint loop runs ONE Spark job per round: with AQE off (one
    action = one job), a run of k + 1 rounds costs exactly one job more
    than a run of k rounds.  Metric records share one schema."""
    algo, kw = RUNS[run]
    edges, kw = _inputs(spark, algo, kw)
    cap = "max_iter" if "max_iter" in kw else "max_rounds"
    sc = spark.sparkContext
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    jobs, outs = [], []
    try:
        for k in (1, 2):
            sc.setJobGroup(f"fixpoint_{run}_{k}", run)
            outs.append(algo(edges, partitions=8, **dict(kw, **{cap: k})))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"fixpoint_{run}_{k}")))
    finally:
        sc.setJobGroup("default", "")
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert jobs[1] == jobs[0] + 1, jobs
    if isinstance(outs[1], tuple):
        ms = outs[1][1]
        assert [m["iteration"] for m in ms] == list(range(len(ms))) == [0, 1]
        assert all("seconds" in m and "rows" in m for m in ms), ms
