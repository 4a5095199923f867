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

V = 30
EDGES = datagen.expected_edges(V)
ROUNDS = 12


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
}


@pytest.mark.parametrize("run", list(RUNS))
def test_checkpoint_plan_stats_grow_linearly(spark, edges30, vertices30, plan_bits, run):
    algo, kw = RUNS[run]
    if algo is pagerank:
        edges, kw = edges30, dict(kw, vertices=vertices30)
    else:
        # a 41-vertex path: neither loop reaches its fixpoint within ROUNDS
        edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    if run == "pagerank_warm":
        kw["initial_ranks"] = spark.createDataFrame(
            [(i, float(i + 1)) for i in range(V)], "id long, rank double")
    _, metrics = algo(edges, partitions=8, **kw)
    assert len(metrics) == ROUNDS
    assert len(plan_bits) > ROUNDS
    steps = np.diff(plan_bits)
    assert steps[-1] <= 2 * steps[0], plan_bits
