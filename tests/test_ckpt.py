"""Kill-and-resume equivalence (north rule: resumable from checkpoint with
per-partition lineage + metrics)."""

import json
import os

import numpy as np
import pytest

from linkgraph import datagen
from linkgraph.algos import connected_components, pagerank

V = 30
EDGES = datagen.expected_edges(V)


def _vec(df, col, n=V):
    out = np.full(n, np.nan)
    for r in df.collect():
        out[int(r["id"])] = float(r[col])
    return out


# durable checkpoints store (id, rank) only: a tol-mode resume must rebuild
# the dangling flag, or the L1 deltas (and the stopping superstep) drift
@pytest.mark.parametrize("stop, conv", [("num_iters", {}), ("max_iter", {"tol": 1e-10})],
                         ids=["fixed", "tol"])
def test_pagerank_resume_equals_uninterrupted(spark, edges30, tmp_path, stop, conv):
    vertices = spark.createDataFrame([(i,) for i in range(V)], "id long")
    # every 7th vertex loses its out-links: the dangling flag matters
    edges = edges30.filter(edges30.src % 7 != 0)

    def run(n, **kw):
        return pagerank(edges, vertices=vertices, partitions=8, **{stop: n}, **conv, **kw)

    full, full_m = run(6)
    ck = str(tmp_path / "pr")
    run(3, checkpoint_dir=ck)  # "killed" after 3 iterations
    resumed, metrics = run(6, checkpoint_dir=ck)  # resume to 6
    assert np.allclose(_vec(full, "rank"), _vec(resumed, "rank"), atol=1e-12)
    # metrics lineage covers all 6 iterations
    assert [m["iteration"] for m in metrics] == list(range(6))
    deltas = [[m["l1_delta"] for m in ms] for ms in (full_m, metrics)]
    assert np.allclose(*np.array(deltas, dtype=float), rtol=1e-9, equal_nan=True)


def test_checkpoint_metrics_on_disk(spark, edges30, tmp_path):
    vertices = spark.createDataFrame([(i,) for i in range(V)], "id long")
    ck = str(tmp_path / "cc")
    labels, _ = connected_components(
        edges30, vertices=vertices, partitions=8, checkpoint_dir=ck
    )
    iters = sorted(d for d in os.listdir(ck) if d.startswith("iter_"))
    assert iters, "no checkpoints written"
    with open(os.path.join(ck, iters[-1], "metrics.json")) as f:
        m = json.load(f)
    assert m["labels_changed"] == 0
    assert m["num_state_partitions"] == 8
    assert m["edges_per_sec"] > 0
    # per-partition lineage: part files with row counts summing to V
    assert sum(p["rows"] for p in m["partition_lineage"]) == V
    assert all(p["bytes"] > 0 for p in m["partition_lineage"])


def test_incomplete_checkpoint_ignored(spark, edges30, tmp_path):
    from linkgraph.ckpt import CheckpointManager

    vertices = spark.createDataFrame([(i,) for i in range(V)], "id long")
    ck = str(tmp_path / "pr2")
    pagerank(edges30, vertices=vertices, num_iters=2, partitions=8, checkpoint_dir=ck)
    # simulate a kill mid-write of iteration 2: state dir without metrics.json
    os.makedirs(os.path.join(ck, "iter_00002", "state"), exist_ok=True)
    mgr = CheckpointManager(ck)
    assert mgr.latest() == 1


def test_components_resume_equals_uninterrupted(spark, edges30, tmp_path):
    from linkgraph.algos import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(V)], "id long")
    full, full_m = connected_components(edges30, vertices=vertices, partitions=8)

    ck = str(tmp_path / "ccr")
    # "killed" after 2 iterations
    connected_components(
        edges30, vertices=vertices, partitions=8, max_iter=2, checkpoint_dir=ck
    )
    resumed, metrics = connected_components(
        edges30, vertices=vertices, partitions=8, checkpoint_dir=ck
    )
    assert np.array_equal(_vec(full, "component"), _vec(resumed, "component"))
    # metrics lineage is contiguous across the kill
    assert [m["iteration"] for m in metrics] == list(range(len(metrics)))
    assert len(metrics) == len(full_m)


def test_labelprop_resume_equals_uninterrupted(spark, edges30, tmp_path):
    from linkgraph.algos import label_propagation

    vertices = spark.createDataFrame([(i,) for i in range(V)], "id long")
    full, full_m = label_propagation(
        edges30, vertices=vertices, partitions=8, max_iter=6
    )

    ck = str(tmp_path / "lpr")
    label_propagation(
        edges30, vertices=vertices, partitions=8, max_iter=3, checkpoint_dir=ck
    )
    resumed, metrics = label_propagation(
        edges30, vertices=vertices, partitions=8, max_iter=6, checkpoint_dir=ck
    )
    # sync LP with deterministic tie-break: resume must be bit-identical
    assert np.array_equal(_vec(full, "label"), _vec(resumed, "label"))
    assert [m["iteration"] for m in metrics] == list(range(len(metrics)))
