#!/usr/bin/env python3
"""Layered benchmark for the linkgraph engine: one batch workload per run.

    python3 perfbench/run.py --workload crawl-ingest --seed 1 --seconds 10 --trace 0

A run starts Spark on ``local[nproc]`` with ``2*nproc`` shuffle partitions and
a Spark driver memory of a quarter of MemTotal, and builds the workload's
inputs from ``--seed`` three times (``setup_s`` is the session start plus the
median build).  It then times one pass of the workload's calls on the fresh
session, cold, as an analyst's batch job runs; a pass lasts longer than
``--seconds``.  The checks then compare the pass's outputs with numpy
oracles.  The last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
the line before it carries per-call times, check results and the
workload-specific layer numbers.  A failed call or check makes the exit code 1.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the pass
with Spark's event log on and every job tagged with the span that started it,
then makes the calls that only the traced run makes, and reports per-layer
metrics.  Spans and the per-span Spark table go to
``.perfbench/out/<workload>-seed<seed>-trace<0|1>.json``.

``--scale`` shrinks the inputs (the tests use it); ``--corrupt`` perturbs one
output before the checks, to show that the checks catch it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HUB_BLOCK = 4096  # linkgraph.algos.pagerank.DEFAULT_BLOCK_SIZE: hubs above it are salted
BUILDS = 3

END_TO_END_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "pagerank_s": "s",
    "pagerank_edges_per_s": "edges/s",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not in /proc/meminfo")


def cpu_control_s() -> float:
    """A fixed pure-Python loop: tells a slow box from a slow engine."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t


# --------------------------------------------------------------------------
# Spark session: resources from the box, every file inside the checkout.
# --------------------------------------------------------------------------

def start_session(work: str, event_log: str | None):
    from linkgraph.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("linkgraph-perfbench", cores=cores, shuffle_partitions=2 * cores,
                      driver_memory=f"{meminfo_mb() // 4}m", extra_conf=conf)
    spark.range(1).count()
    return spark


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not in JVM status")


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------------
# Per-call statistics of an iterative algorithm, from its metrics and the log.
# --------------------------------------------------------------------------

def iter_stats(prefix: str, span, ms: list[dict], jobs, history: list | None = None) -> dict:
    """Layout time, superstep times and per-superstep Spark work of one call.

    ``ms`` holds the per-iteration metrics the call returned.  Layout time is
    the call time minus its superstep loop; with durable checkpoints the loop
    also holds each superstep's save, taken from the gap between consecutive
    ``metrics.json`` wall clocks in ``history``.
    """
    from spans import jobs_in, task_skew, totals

    secs = [m["seconds"] for m in ms]
    loop = sum(secs)
    out = {}
    if history:
        wall = [m["wall_clock"] for m in history]
        saves = [b - a - s for a, b, s in zip(wall, wall[1:], secs[1:])]
        loop = wall[-1] - wall[0] + secs[0] + median(saves)
        out["ckpt.save_s"] = median(saves)
    out.update({
        f"{prefix}.layout_s": span.end - span.start - loop,
        f"{prefix}.superstep_s": median(secs),
        f"{prefix}.superstep_max_s": max(secs),
        f"{prefix}.supersteps": len(secs),
    })
    if len(secs) >= 6:
        out[f"{prefix}.superstep_growth"] = statistics.fmean(secs[-3:]) / statistics.fmean(secs[1:4])
    if jobs is not None:
        sj = jobs_in(jobs, span.end - loop, span.end, span.name)
        t = totals(sj)
        out.update({
            f"{prefix}.jobs_per_superstep": t["jobs"] / len(secs),
            f"{prefix}.shuffle_mb_per_superstep": t["shuffle_mb"] / len(secs),
            f"{prefix}.task_skew": task_skew(sj),
        })
    return out


# --------------------------------------------------------------------------
# Workloads.  Each builds its inputs, runs one pass of calls, checks the
# pass's outputs, and adds the per-layer numbers that need a live session.
# --------------------------------------------------------------------------

def _check_close(name, ids, got, want) -> tuple[str, bool, str]:
    import numpy as np

    if len(ids) != len(want) or not np.array_equal(np.sort(ids), np.arange(len(want))):
        return name, False, f"vertex ids are not 0..{len(want) - 1}"
    g = np.empty(len(want))
    g[ids] = got
    ok = bool(np.allclose(g, want, rtol=1e-6, atol=1e-12))
    return name, ok, f"max abs diff {float(np.abs(g - want).max()):.3g}"


def _check_equal(name, ids, got, want) -> tuple[str, bool, str]:
    import numpy as np

    g = np.full(len(want), -1, dtype=np.int64)
    g[ids] = got
    bad = int((g != want).sum())
    return name, bad == 0 and len(ids) == len(want), f"{bad} labels differ"


class Workload:
    """``calls`` makes the timed pass and returns its outputs; ``metrics`` is
    always the per-superstep metrics of the workload's PageRank call."""

    name = ""
    trace_checks: list = []  # checks of calls made by the traced run only
    trace_runs: dict = {}  # span name -> per-iteration metrics of those calls

    def __init__(self, spark, seed: int, scale: float, work: str):
        self.spark = spark
        self.P = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.seed, self.scale = seed, scale
        self.dir = os.path.join(work, "pass")

    def load_edges(self, tr, edges):
        """Parquet round trip of the edge table: the io layer of every workload."""
        from linkgraph import ingest, io

        self.edge_path = os.path.join(self.dir, "edges")
        with tr.span("io.write"):
            ingest.write_edge_table(edges, self.edge_path)
        with tr.span("io.read"):
            e = io.read_edges(self.spark, self.edge_path).repartition(self.P, "src").persist()
            e.count()
        return e

    def layers(self, tr, out) -> dict:
        """Per-layer numbers that need the session: degree skew and io size."""
        from pyspark.sql import functions as F

        deg = out["edges"].groupBy("src").count()
        row = deg.agg(F.max("count").alias("m"),
                      F.sum((F.col("count") > HUB_BLOCK).cast("long")).alias("h")).first()
        return {"skew.max_degree": int(row["m"] or 0), "skew.hub_vertices": int(row["h"] or 0),
                "io.write_mb": du_mb(self.edge_path)}


class CrawlIngest(Workload):
    """Crawled pages -> edge table + text -> Parquet -> PageRank to 1e-6 with
    durable checkpoints, capped at 19 supersteps.  The traced run then times
    the ingest steps one by one, and simulates a kill after superstep 15 and
    resumes."""

    name = "crawl-ingest"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.pages_n = max(100, int(2000 * self.scale))
        self.max_iter = 19
        self.kill_after = 15  # supersteps kept by the simulated kill

    def build(self) -> None:
        import inputs
        from pyspark.sql import types as T

        if getattr(self, "pages", None) is not None:
            self.pages.unpersist()
        pdf, self.expected = inputs.crawl_pages(self.seed, self.pages_n)
        schema = T.StructType([
            T.StructField("url", T.StringType()), T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()), T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ])
        self.pages = self.spark.createDataFrame(pdf, schema).repartition(self.P).persist()
        self.rows = self.pages.count()
        self.html_mb = float(pdf["html"].map(len).sum()) / 1e6

    def calls(self, tr) -> dict:
        from linkgraph import ingest
        from linkgraph.algos import pagerank
        from linkgraph.ckpt import CheckpointManager
        from pyspark.sql import functions as F

        P = self.P
        with tr.span("load"):
            with tr.span("ingest"):
                # LinkGraph.from_pages is this call wrapped in a LinkGraph;
                # the checks need the url dictionary it returns
                with tr.span("ingest.graph"):
                    vmap, edges = ingest.ingest_pages(self.pages, P)
                    edges.count()
                with tr.span("ingest.text"):
                    text = self.pages.select(
                        "url", "text", ingest.extract_text(F.col("html")).alias("extracted")).persist()
                    text.count()
            e = self.load_edges(tr, edges)
        self.pr_args = dict(vertices=vmap.select("id"), tol=1e-6, max_iter=self.max_iter,
                            partitions=P, checkpoint_dir=os.path.join(self.dir, "ckpt"))
        with tr.span("pagerank"):
            ranks, metrics = pagerank(e, **self.pr_args)
        return dict(vmap=vmap, edges=e, text=text, ranks=ranks, metrics=metrics,
                    history=CheckpointManager(self.pr_args["checkpoint_dir"]).history())

    def check(self, out) -> list:
        import numpy as np
        import oracle
        from pyspark.sql import functions as F

        vm = out["vmap"].toPandas()
        urls = np.empty(len(vm), dtype=object)
        urls[vm["id"].to_numpy()] = vm["url"].to_numpy()
        ed = out["edges"].toPandas()
        src, dst = ed["src"].to_numpy(), ed["dst"].to_numpy()
        got, want = set(zip(urls[src], urls[dst])), set(self.expected)
        checks = [("ingest.edges", got == want and len(ed) == len(want),
                   f"{len(ed)} edges, {len(want)} expected, {len(got ^ want)} differ")]
        text = out["text"]
        bad = text.filter(F.col("extracted") != F.col("text")).count()
        checks.append(("ingest.text", bad == 0 and text.count() == self.rows, f"{bad} texts differ"))
        r = out["ranks"].toPandas()
        checks.append(_check_close("pagerank", r["id"].to_numpy(), r["rank"].to_numpy(),
                                   oracle.pagerank(len(vm), src, dst, len(out["metrics"]))))
        return checks

    def layers(self, tr, last) -> dict:
        import numpy as np
        from linkgraph import ingest
        from linkgraph.algos import pagerank
        from pyspark.sql import functions as F

        m = super().layers(tr, last)
        ck = self.pr_args["checkpoint_dir"]
        m["ckpt.mb_per_superstep"] = statistics.fmean(du_mb(os.path.join(ck, d)) for d in os.listdir(ck))
        # a kill after superstep 15: drop the newer checkpoints, then resume
        for it in range(self.kill_after, self.max_iter):
            shutil.rmtree(os.path.join(ck, f"iter_{it:05d}"))
        with tr.span("resume"):
            resumed, resumed_metrics = pagerank(last["edges"], **self.pr_args)
        r = last["ranks"].toPandas()
        rr = resumed.toPandas().set_index("id").reindex(r["id"])["rank"].to_numpy()
        self.trace_checks = [("resume", bool(np.allclose(rr, r["rank"].to_numpy(), rtol=1e-6, atol=1e-12)),
                              f"{len(resumed_metrics) - self.kill_after} supersteps resumed")]
        save = iter_stats("pagerank", tr.named("pagerank")[0], last["metrics"], None,
                          last["history"])["ckpt.save_s"]
        new = resumed_metrics[self.kill_after:]
        m["ckpt.resume_load_s"] = tr.seconds("resume")[0] - sum(x["seconds"] + save for x in new)
        m["pagerank.final_l1_delta"] = last["metrics"][-1]["l1_delta"]
        # the steps of ingest_pages, each materialised in a span of its own
        # (outside the timed pass, which makes the one ingest_pages call)
        with tr.span("ingest.extract"):
            url_edges = ingest.pages_to_url_edges(self.pages).localCheckpoint()
        with tr.span("ingest.vertex_map"):
            vmap = ingest.build_vertex_map(self.pages, url_edges, self.P).persist()
            vmap.count()
        with tr.span("ingest.edge_ids"):
            ingest.edges_with_ids(url_edges, vmap).repartition(self.P, "src").count()
        vmap.unpersist()
        for step in ("extract", "vertex_map", "edge_ids", "text"):
            m[f"ingest.{step}_s"] = tr.seconds(f"ingest.{step}")[0]
        m["ingest.html_mb_per_s"] = self.html_mb / m["ingest.extract_s"]
        links = self.pages.dropDuplicates(["url"]) \
            .select(F.size(ingest.extract_outlinks(F.col("html"))).alias("n")).agg(F.sum("n")).first()[0]
        nv, ne = last["vmap"].count(), last["edges"].count()
        m.update({
            "ingest.links_extracted": int(links), "ingest.edges": ne,
            "ingest.dedup_ratio": ne / links, "ingest.vertices": nv,
            "ingest.dangling_vertices": nv - last["edges"].select("src").distinct().count(),
        })
        return m


class HubSkew(Workload):
    """R-MAT power-law graph plus one planted hub of out-degree 10^4 (above
    the 4096-edge block, so adjacency salting runs): triangle count and fixed
    10-superstep PageRank over one table.  Connected components and 5 rounds
    of label propagation on the same table run in the traced run only."""

    name = "hub-skew"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.draws = max(1000, int(400_000 * self.scale))
        self.levels = 18
        self.hub_degree = 10_000
        self.pr_iters = 10
        self.lp_iters = 5

    def _graph(self, draws):
        import inputs
        import numpy as np
        import pandas as pd

        src, dst = inputs.rmat_hub_edges(self.seed, draws, self.levels, self.hub_degree)
        e = self.spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst})) \
            .repartition(self.P, "src").persist()
        e.count()
        return e, src, dst, np.unique(np.concatenate([src, dst]))

    def build(self) -> None:
        if getattr(self, "edges", None) is not None:
            self.edges.unpersist()
        self.edges, self.src, self.dst, self.ids = self._graph(self.draws)

    def calls(self, tr) -> dict:
        from linkgraph.algos import pagerank, triangle_count

        with tr.span("load"):
            e = self.load_edges(tr, self.edges)
        with tr.span("triangles"):
            tri = triangle_count(e)
        with tr.span("pagerank"):
            ranks, metrics = pagerank(e, num_iters=self.pr_iters, partitions=self.P)
        return dict(edges=e, triangles=tri, ranks=ranks, metrics=metrics)

    def oracle_graph(self):
        """The edges over dense indices 0..V-1 (the ids sorted), and V."""
        import numpy as np

        return np.searchsorted(self.ids, self.src), np.searchsorted(self.ids, self.dst), len(self.ids)

    def check(self, out) -> list:
        import numpy as np
        import oracle
        from pyspark.sql import functions as F

        s, d, V = self.oracle_graph()
        n = 1 << self.levels
        row = out["edges"].agg(F.count("*").alias("n"),
                               F.sum(F.col("src") * n + F.col("dst")).alias("h")).first()
        written = (len(self.src), int((self.src * n + self.dst).sum()))
        want_tri = oracle.triangles(V, s, d)
        r = out["ranks"].toPandas()
        return [
            ("io.edges", (row["n"], row["h"]) == written, f"{row['n']} edges read back, {written[0]} written"),
            ("triangles", out["triangles"] == want_tri, f"{out['triangles']} counted, {want_tri} expected"),
            _check_close("pagerank", np.searchsorted(self.ids, r["id"].to_numpy()), r["rank"].to_numpy(),
                         oracle.pagerank(V, s, d, self.pr_iters)),
        ]

    def layers(self, tr, out) -> dict:
        import numpy as np
        import oracle
        from linkgraph.algos import connected_components, label_propagation, pagerank
        from linkgraph.algos.triangles import degree_ranked_oriented
        from pyspark.sql import functions as F

        m = super().layers(tr, out)
        e = out["edges"]
        with tr.span("cc"):
            cc, cc_metrics = connected_components(e, partitions=self.P)
        with tr.span("lp"):
            lp, lp_metrics = label_propagation(e, max_iter=self.lp_iters, partitions=self.P)
        cc, lp = cc.toPandas(), lp.toPandas()
        s, d, V = self.oracle_graph()
        idx = lambda col: np.searchsorted(self.ids, col.to_numpy())  # noqa: E731
        self.trace_checks = [
            _check_equal("cc", idx(cc["id"]), idx(cc["component"]), oracle.components(V, s, d)),
            _check_equal("lp", idx(lp["id"]), idx(lp["label"]), oracle.labelprop(V, s, d, self.lp_iters)),
        ]
        self.trace_runs = {"cc": cc_metrics, "lp": lp_metrics}
        # two-point fit t = a + b*E of the superstep time, against the same
        # construction with 1/100 of the R-MAT draws (about 1/10 of the edges)
        small, _, _, _ = self._graph(max(1000, self.draws // 100))
        _, cm = pagerank(small, num_iters=self.pr_iters, partitions=self.P)
        small.unpersist()
        t0, e0 = median([x["seconds"] for x in cm]), cm[0]["edges_processed"]
        t1 = median([x["seconds"] for x in out["metrics"]])
        e1 = out["metrics"][0]["edges_processed"]
        b = (t1 - t0) / (e1 - e0)
        m["pagerank.superstep_fixed_s"] = t0 - b * e0
        m["pagerank.superstep_s_per_medge"] = b * 1e6
        with tr.span("triangles.orient"):
            o = degree_ranked_oriented(e).persist()
            o.count()
        wedges = o.groupBy("lo").count().agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
        o.unpersist()
        m.update({
            "triangles.orient_s": tr.seconds("triangles.orient")[0],
            "triangles.count_s": tr.seconds("triangles")[0],
            "triangles.wedges": int(wedges),
            "triangles.closed_frac": out["triangles"] / wedges,
        })
        return m


WORKLOADS = {w.name: w for w in (CrawlIngest, HubSkew)}

# per-layer metrics reported on every workload; the rest go to the detail line
PER_LAYER_UNITS = {
    "session.start_s": "s", "io.write_s": "s", "io.write_mb": "MB", "io.read_s": "s",
    "pagerank.layout_s": "s", "pagerank.superstep_s": "s", "pagerank.superstep_max_s": "s",
    "pagerank.supersteps": "count",
    "pagerank.superstep_growth": "ratio", "pagerank.jobs_per_superstep": "count",
    "pagerank.shuffle_mb_per_superstep": "MB", "pagerank.task_skew": "ratio",
    "skew.max_degree": "count", "skew.hub_vertices": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_s": "s", "spark.gc_s": "s",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.failed_tasks": "count",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio", "box.cpu_control_s": "s",
}


def log_layers(wl, tr, out, jobs) -> dict:
    """Per-layer numbers from the event log: the pass's Spark totals, and the
    per-superstep jobs, shuffle and skew of every iterative call."""
    from spans import jobs_in, task_skew, totals

    pass_span = tr.named("pass")[0]
    m = {f"spark.{k}": v for k, v in totals(jobs_in(jobs, pass_span.start, pass_span.end)).items()}
    m["io.write_s"] = tr.seconds("io.write")[0]
    m["io.read_s"] = tr.seconds("io.read")[0]
    m.update(iter_stats("pagerank", tr.named("pagerank")[0], out["metrics"], jobs, out.get("history")))
    for name, ms in wl.trace_runs.items():
        m.update(iter_stats(name, tr.named(name)[0], ms, jobs))
    for s in tr.named("triangles"):
        tri = jobs_in(jobs, s.start, s.end, s.name)
        m["triangles.task_skew"] = task_skew(tri)
        m["triangles.shuffle_mb"] = totals(tri)["shuffle_mb"]
    return m


def corrupt(out: dict, what: str) -> dict:
    """Perturb one rank, or drop one edge, of a pass's outputs."""
    from pyspark.sql import functions as F

    out = dict(out)
    if what == "rank":
        r = out["ranks"]
        first = r.agg(F.min("id")).first()[0]
        out["ranks"] = r.withColumn(
            "rank", F.when(F.col("id") == first, F.col("rank") * 1.001).otherwise(F.col("rank")))
    else:
        e = out["edges"]
        row = e.orderBy("src", "dst").first()
        out["edges"] = e.filter((F.col("src") != row["src"]) | (F.col("dst") != row["dst"]))
    return out


def run(args, work: str) -> tuple[dict, dict]:
    import pyspark
    import spans

    cls = WORKLOADS[args.workload]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM (the launcher's too): temp files in the checkout, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the pandas UDFs of linkgraph.ingest run in Python workers that import it
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    detail: dict = {"box": {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": meminfo_mb(),
                            "python": sys.version.split()[0], "spark": pyspark.__version__}}
    attempted = failed = 0
    cpu = [cpu_control_s()]
    event_log = os.path.join(work, "eventlog") if args.trace else None

    t0 = time.time()
    spark = start_session(work, event_log)
    session_s = time.time() - t0
    tr = spans.Tracer(run_id, spark.sparkContext if args.trace else None)
    out, checks, builds, layer = None, [], [], {}
    try:
        wl = cls(spark, args.seed, args.scale, work)
        for _ in range(BUILDS):
            t = time.time()
            wl.build()
            builds.append(time.time() - t)

        attempted += 1
        try:
            with tr.span("pass"):
                out = wl.calls(tr)
        except Exception:  # a failed call is counted and skips the checks
            traceback.print_exc()
            failed += 1
        if out is not None and tr.seconds("pass")[0] < args.seconds:
            print(f"perfbench: the pass took {tr.seconds('pass')[0]:.1f} s, "
                  f"less than --seconds {args.seconds:g}", file=sys.stderr)
        if out is not None:
            if args.corrupt:
                out = corrupt(out, args.corrupt)
            t = time.time()
            try:
                checks = wl.check(out)
            except Exception:
                traceback.print_exc()
                checks = [("checks", False, "raised")]
            detail["check_s"] = time.time() - t
            if args.trace:
                try:
                    layer = wl.layers(tr, out)
                except Exception:
                    traceback.print_exc()
                    checks.append(("layers", False, "raised"))
                checks += wl.trace_checks
        attempted += len(checks)
        failed += sum(not ok for _, ok, _ in checks)
        rss = jvm_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    cpu.append(cpu_control_s())

    detail.update({
        "checks": {n: {"ok": ok, "detail": d} for n, ok, d in checks},
        "builds_s": builds, "cpu_control_s": cpu,
        "calls_s": {s.name: s.end - s.start for s in tr.spans},
        "pagerank_supersteps_s": [m["seconds"] for m in out["metrics"]] if out else [],
    })
    metrics: dict = {}
    extra: dict = {}
    if out is not None:
        steps = [m["seconds"] for m in out["metrics"]]
        e2e = {
            "setup_s": session_s + median(builds),
            "job_s": tr.seconds("pass")[0],
            "pagerank_s": tr.seconds("pagerank")[0],
            "pagerank_edges_per_s": out["metrics"][0]["edges_processed"] / statistics.fmean(steps),
        }
        if not args.trace:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        else:
            jobs = spans.read_event_log(event_log)
            layer.update(log_layers(wl, tr, out, jobs))
            layer["session.start_s"] = session_s
            layer["box.cpu_control_s"] = statistics.fmean(cpu)
            layer["jvm.peak_rss_mb"] = rss

            roots = sum(s.end - s.start for s in tr.spans if s.parent is None)
            layer["trace.overhead_frac"] = tr.overhead_s / roots
            detail["traced_end_to_end"] = e2e
            detail["layers"] = {k: v for k, v in sorted(layer.items()) if k not in PER_LAYER_UNITS}
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items() if k in layer}
            missing = sorted(set(PER_LAYER_UNITS) - set(layer))
            if missing:
                detail["missing"] = missing
                attempted += 1
                failed += 1
            extra["spark_by_span"] = [
                {"name": s.name, "start": s.start, "end": s.end,
                 **spans.totals(spans.jobs_in(jobs, s.start, s.end, s.name))} for s in tr.spans]
    detail["failed_frac"] = failed / max(attempted, 1)
    tr.dump(os.path.join(out_dir, f"{run_id}.json"), {"metrics": metrics, "detail": detail, **extra})
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", choices=("rank", "edge"))
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "linkgraph")):
        print(f"perfbench: no linkgraph package beside {HERE}; run it from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
