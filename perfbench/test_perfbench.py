"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The oracle and generator tests take seconds; the Spark runs use ``--scale``
to shrink the inputs and take about a minute per workload.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import oracle  # noqa: E402
from linkgraph import oracles  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    return proc.returncode, [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]


def test_oracles_agree_with_the_reference_oracles():
    rng = np.random.default_rng(7)
    for V in (30, 300):
        key = np.unique(rng.integers(0, V, 4 * V) * V + rng.integers(0, V, 4 * V))
        s, d = key // V, key % V
        edges = list(zip(s.tolist(), d.tolist()))
        assert np.allclose(oracle.pagerank(V, s, d, 10),
                           oracles.pagerank_oracle(V, edges, num_iters=10), rtol=1e-12)
        assert (oracle.components(V, s, d) == oracles.components_oracle(V, edges)).all()
        assert (oracle.labelprop(V, s, d, 5) == oracles.labelprop_oracle(V, edges, 5)).all()
        assert oracle.triangles(V, s, d) == oracles.triangle_count_oracle(edges)


def test_inputs_repeat_for_a_seed_and_differ_across_seeds():
    a, ea = inputs.crawl_pages(5, 120)
    b, eb = inputs.crawl_pages(5, 120)
    c, ec = inputs.crawl_pages(6, 120)
    assert a.equals(b) and ea == eb and ea != ec
    s1, d1 = inputs.rmat_hub_edges(5, 2000, 16, 10_000)
    s2, d2 = inputs.rmat_hub_edges(5, 2000, 16, 10_000)
    assert (s1 == s2).all() and (d1 == d2).all()
    assert np.bincount(s1).max() > 4096  # the planted hub is above the block size


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,kind", [("0", "end_to_end"), ("1", "per_layer")])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace, kind):
    code, lines = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", trace, "--scale", "0.02")
    detail, result = lines[-2]["detail"], lines[-1]
    assert code == 0, detail.get("checks")
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in BENCH[kind]}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert detail["checks"] and all(v["ok"] for v in detail["checks"].values())


@pytest.mark.parametrize("workload,what", [("hub-skew", "rank"), ("crawl-ingest", "edge")])
def test_a_corrupted_output_fails_the_run(workload, what):
    code, lines = bench("--workload", workload, "--seed", "4", "--seconds", "1",
                        "--trace", "0", "--scale", "0.02", "--corrupt", what)
    detail, result = lines[-2]["detail"], lines[-1]
    assert code != 0
    assert not result["correct"] and result["failed"] >= 1
    assert detail["failed_frac"] > 0


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, lines = bench("--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1",
                        "--trace", "0", cwd=str(tmp_path))
    assert code != 0 and lines == []
