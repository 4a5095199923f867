"""Breadth-first hop distances (single- or multi-source) over the link graph.

Frontier-expansion BFS as iterative DataFrame joins: the discovered state
``(id, dist)`` stays hash-partitioned on id; each superstep joins only the
*frontier* (vertices discovered last round) against the edge table, then
anti-joins the already-discovered set — so per-superstep work is
O(edges touched by the frontier), not O(E).  Lineage is truncated every
superstep (``localCheckpoint``).  Weighted shortest paths
(:func:`sssp_distances`) relax the whole distance state per superstep on
``gcommon.fixpoint``, the engine's one-job-per-round loop.

Scale notes: the frontier join shuffles on ``src`` and the dedup/anti-join
on ``id`` — both pinned at ``partitions``; at web scale the frontier is
the small side early on (broadcast-able) and the state join is the classic
BFS-as-semijoin plan.  New link-graph capability (the reference has no
path queries); oracle: pure-Python BFS in tests + a bounded recursive-CTE
SQL twin for the driver gate.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .gcommon import fixpoint, norm_edges


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Hop distance from the nearest source; returns (dist(id, dist), metrics).

    ``sources``: DataFrame with one ``id`` column.  Unreached vertices are
    absent from the result (dist would be +inf).
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = norm_edges(edges, P, directed=directed)

    state = (
        sources.select("id").distinct()
        .select("id", F.lit(0).cast("int").alias("dist"))
        .repartition(P, "id")
        .localCheckpoint(eager=True)
    )
    frontier = state
    metrics: list[dict] = []

    for it in range(1, max_iter + 1):
        t0 = time.time()
        # frontier ⋈ edges: only edges incident to newly-found vertices;
        # dropDuplicates before the anti-join keeps the shuffle minimal
        nxt = (
            e.join(
                frontier.select(F.col("id").alias("src")).hint("shuffle_hash"), "src"
            )
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
            .join(state.hint("shuffle_hash"), "id", "left_anti")
            .select("id", F.lit(it).cast("int").alias("dist"))
            .repartition(P, "id")
            .localCheckpoint(eager=True)
        )
        found = nxt.count()
        metrics.append({"iteration": it, "frontier": found, "seconds": time.time() - t0})
        if found == 0:
            break
        state = state.union(nxt).repartition(P, "id").localCheckpoint(eager=True)
        frontier = nxt

    e.unpersist()
    return state, metrics


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """Single/multi-source shortest paths (Bellman–Ford relaxation).

    Integer edge weights → exact long distances.  Per superstep: one
    state ⋈ edges relaxation join + grouped min + compare-update, lineage
    truncated; terminates when no distance improves (guaranteed: positive
    weights).  Returns (dist(id, dist), metrics); unreached vertices absent.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst", F.col(weight_col).cast("long").alias("w"))
    if not directed:
        e = e.union(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
        )
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst").agg(F.min("w").alias("w"))  # parallel edges: keep min
        .repartition(P, "src")
        .persist()
    )
    e.count()

    def relax(state: DataFrame) -> DataFrame:
        cand = (
            e.join(state.withColumnRenamed("id", "src").hint("shuffle_hash"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        return (
            state.join(cand.hint("shuffle_hash"), "id", "full")
            .select(
                "id",
                F.least("dist", "nd").alias("dist"),  # least() skips NULLs
                (
                    F.col("dist").isNull() | (F.col("nd") < F.col("dist"))
                ).alias("_improved"),
            )
        )

    # the improved count rides the checkpoint job (gcommon.fixpoint) — the
    # relaxation join + grouped min run ONCE per superstep
    state, metrics = fixpoint(
        sources.select("id").distinct()
        .select("id", F.lit(0).cast("long").alias("dist")),
        relax, P, ("id",), max_iter,
        stop=lambda m, _: m["improved"] == 0,
        counters={"improved": "_improved"},
    )
    e.unpersist()
    return state, metrics


# deterministic-walk mixing constants (arbitrary primes; BIGINT-exact in
# any engine, so the walk corpus is bit-reproducible across Spark and SQL)
WALK_A, WALK_B, WALK_C = 7919, 104729, 1299709


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int,
    directed: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic pseudo-random walk corpus (node2vec/DeepWalk input).

    One walk per row of ``starts`` (column ``id``; walk_id = start id).  The
    step from v picks neighbor index ``(walk_id*A + v*B + step*C) mod deg(v)``
    over the dst-sorted adjacency — a hash-walk: reproducible bit-for-bit in
    any engine (no RNG state), the distributed analogue of the reference's
    seeded estimator sampling (/root/reference/src/ZGraphInstance.cpp:300-334,
    seed broadcast /root/reference/src/Utilities.cpp:39-51).  Walks stop
    early at sink vertices (no out-neighbors).  Returns
    (walk_id, step, v) for steps 0..length.

    Each step is one state ⋈ indexed-adjacency equi-join on (v, idx) —
    V-row state against the (src, idx)-keyed adjacency; at web scale the
    adjacency index is built once (one window per src) and reused by all
    steps.
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = norm_edges(edges, P, directed=directed, materialize="none")
    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        e.select(
            "src", "dst",
            (F.row_number().over(w) - 1).alias("idx"),
            F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
        )
        .repartition(P, "src")
        .persist()
    )
    adj.count()

    cur = starts.select(
        F.col("id").alias("walk_id"), F.lit(0).alias("step"), F.col("id").alias("v")
    ).localCheckpoint(eager=True)
    out = [cur]
    for step in range(1, length + 1):
        pick = (
            F.col("walk_id") * WALK_A + F.col("v") * WALK_B + F.lit(step) * WALK_C
        ) % F.col("deg")
        cur = (
            cur.join(adj.withColumnRenamed("src", "v").hint("shuffle_hash"), "v")
            .filter(F.col("idx") == pick)
            .select("walk_id", F.lit(step).alias("step"), F.col("dst").alias("v"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        out.append(cur)

    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    adj.unpersist()
    return res


def stress_centrality(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """Stress centrality (Shimbel) for a source sample — the integer-exact
    Brandes two-pass, distributed.

    Forward pass: composite-key multi-source BFS carrying per-(s, v) the
    number of shortest paths ``sigma`` (level-synchronous sum over the
    frontier — the σ recurrence of Brandes'01).  Backward pass, level by
    decreasing level over the shortest-path DAG:
    ``c(v) = Σ_{w ∈ succ(v)} (1 + c(w))`` — the number of shortest-path
    *suffixes* leaving v; then ``stress(v) = Σ_s σ(s,v)·c(s,v)``, the count
    of shortest paths from sampled sources passing THROUGH v.  This is the
    betweenness dependency recursion with the σ(s,t) division dropped, so
    every quantity stays a BIGINT — no float accumulation order to disagree
    on between engines (betweenness itself needs fractional δ; stress is
    its exact-integer sibling and ranks hubs the same way in practice).

    Scale: both passes are frontier ⋈ edges supersteps over state bounded
    by |S|·V rows, pinned on ``partitions``; 2·diameter supersteps total.
    Sampling sources is the standard web-scale centrality approximation
    (same shape as the reference's sampled estimators,
    /root/reference/src/ZGraphInstance.cpp:257-297).  Returns
    (id, stress) for vertices with stress > 0.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = norm_edges(edges, P, directed=directed)

    lvl = (
        sources.select(F.col("id").alias("s")).distinct()
        .select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sig"))
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    levels = [lvl]
    settled = lvl.select("s", "v").localCheckpoint(eager=True)
    for _ in range(max_iter):
        nxt = (
            e.join(lvl.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
            .select("s", F.col("dst").alias("v"), "sig")
            .join(settled.hint("shuffle_hash"), ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sig").alias("sig"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        settled = (
            settled.union(nxt.select("s", "v"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        lvl = nxt

    # backward: deepest level has no successors (c = 0); walk levels up,
    # summing (1 + c) over DAG successors (neighbors one level deeper)
    out = [levels[-1].select("s", "v", "sig", F.lit(0).cast("long").alias("cv"))]
    c = out[0].select("s", "v", "cv")
    for l in range(len(levels) - 2, -1, -1):
        agg = (
            levels[l].select("s", "v")
            .join(e.withColumnRenamed("src", "v").hint("shuffle_hash"), "v")
            .join(
                c.select("s", F.col("v").alias("dst"), "cv").hint("shuffle_hash"),
                ["s", "dst"],
            )
            .groupBy("s", "v")
            .agg(F.sum(F.lit(1) + F.col("cv")).alias("cv"))
        )
        cur = (
            levels[l].join(agg.hint("shuffle_hash"), ["s", "v"], "left")
            .select(
                "s", "v", "sig",
                F.coalesce("cv", F.lit(0)).cast("long").alias("cv"),
            )
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        out.append(cur)
        c = cur.select("s", "v", "cv")
    e.unpersist()

    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    return (
        res.filter(F.col("v") != F.col("s"))  # endpoints are not interior
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum(F.col("sig") * F.col("cv")).alias("stress"))
        .filter(F.col("stress") > 0)
    )


def _guard_sources(sources: DataFrame, max_sources: int | None, what: str) -> None:
    """Refuse to run an exact all-sources O(|S|·E) sweep on a large source
    set: these are small-graph / sampled-sources diagnostics; the web-scale
    path for neighbourhood functions is the HyperBall sketch
    (linkgraph.algos.hyperball).  Pass ``max_sources=None`` to force."""
    if max_sources is None:
        return
    n = sources.select("id").distinct().count()
    if n > max_sources:
        raise ValueError(
            f"{what}: {n} sources exceeds max_sources={max_sources}; exact "
            "multi-source BFS is O(|S|*E) — sample the sources, raise "
            "max_sources explicitly, or use algos.hyperball for the sketch "
            "path at scale"
        )


def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
    max_sources: int | None = 65536,
) -> DataFrame:
    """Exact closeness centrality for a source sample, one superstep loop.

    All sources run their BFS **concurrently** through a composite-key
    frontier ``(s, v)`` — per-superstep state is bounded by |S|·V rows and
    the loop still terminates in max-eccentricity supersteps, so sampling
    S sources costs one loop, not |S| loops (the standard approximation
    path for centrality at web scale: sample sources, aggregate).
    ``max_sources`` guards against pointing the exact sweep at a full
    web-scale vertex set (see :func:`_guard_sources`).

    Returns (s, reached, total_dist, closeness_e6) with
    closeness = (reached-1) / total_dist (0 when no vertex is reached),
    e6-quantized from exact integers — engine-independent.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    _guard_sources(sources, max_sources, "closeness_centrality")

    e = norm_edges(edges, P, directed=directed)

    state = (
        sources.select(F.col("id").alias("s")).distinct()
        .select("s", F.col("s").alias("v"), F.lit(0).cast("long").alias("dist"))
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    frontier = state
    for it in range(1, max_iter + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
            .select("s", F.col("dst").alias("v"))
            .dropDuplicates(["s", "v"])
            .join(state.select("s", "v").hint("shuffle_hash"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(it).cast("long").alias("dist"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        state = state.union(nxt).repartition(P, "v").localCheckpoint(eager=True)
        frontier = nxt
    e.unpersist()

    agg = state.groupBy("s").agg(
        (F.count(F.lit(1)) - 1).alias("reached"),
        F.sum("dist").alias("total_dist"),
        F.max("dist").alias("ecc"),  # eccentricity within the reachable set
        # harmonic centrality Σ 1/d, quantized PER TERM (integer sum — no
        # float-accumulation order dependence between engines)
        F.sum(
            F.when(F.col("dist") > 0,
                   F.round(F.lit(1e6) / F.col("dist")).cast("long"))
            .otherwise(F.lit(0))
        ).alias("harmonic_e6"),
    )
    return agg.select(
        "s", "reached", "total_dist",
        F.when(
            F.col("total_dist") > 0,
            F.round(F.col("reached") * F.lit(1e6) / F.col("total_dist")).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("closeness_e6"),
        "harmonic_e6", "ecc",
    )


def distance_histogram(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
    max_sources: int | None = 65536,
) -> DataFrame:
    """Exact pairwise-distance histogram (dist, n_pairs) for the sampled
    sources — the neighbourhood-function input for diameter / effective
    diameter (the exact counterpart of HyperANF; the engine's HyperBall
    sketch is the approximate path at web scale).  ``max_sources`` guards
    against an accidental full-graph O(V·E) sweep (see _guard_sources).

    Same composite-key (s, v) multi-source BFS loop as
    closeness_centrality: |S|·V bounded state, max-eccentricity
    supersteps, O(frontier) work per superstep.  Self-pairs (d=0) are
    excluded.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    _guard_sources(sources, max_sources, "distance_histogram")

    e = norm_edges(edges, P, directed=directed)

    state = (
        sources.select(F.col("id").alias("s")).distinct()
        .select("s", F.col("s").alias("v"), F.lit(0).cast("long").alias("dist"))
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    frontier = state
    for it in range(1, max_iter + 1):
        nxt = (
            e.join(frontier.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
            .select("s", F.col("dst").alias("v"))
            .dropDuplicates(["s", "v"])
            .join(state.select("s", "v").hint("shuffle_hash"), ["s", "v"], "left_anti")
            .select("s", "v", F.lit(it).cast("long").alias("dist"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        state = state.union(nxt).repartition(P, "v").localCheckpoint(eager=True)
        frontier = nxt
    e.unpersist()
    return (
        state.filter(F.col("dist") > 0)
        .groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    directed: bool = False,
    max_iter: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """Fractional betweenness centrality (Brandes'01) for a source sample,
    with the dependency accumulation quantized to e6-scaled BIGINTs so the
    result is bit-equal across engines.

    Forward pass: the same composite-key (s, v) level-synchronous BFS as
    ``stress_centrality``, carrying exact shortest-path counts ``sigma``.
    Backward pass, level by decreasing level over the shortest-path DAG,
    computes the Brandes dependency
    ``delta(v) = sum_{w in succ(v)} sigma(v)/sigma(w) * (1 + delta(w))``
    with ``delta`` stored as ``dv = round(delta * 1e6)``: each term is ONE
    IEEE-double expression evaluated from exact integers —
    ``round(double(sigma_v) * double(1e6 + dv_w) / double(sigma_w))`` —
    then summed as BIGINTs, so there is no float accumulation order for
    engines to disagree on (per-term-quantization recipe shared with the
    engine's Katz / SALSA / Adamic-Adar operators).

    ``betweenness_e6(v) = sum_s dv_s(v)`` over the sampled sources, v != s
    (source-sampled betweenness, Brandes-Pich'07 — the standard web-scale
    approximation; exact when ``sources`` is all vertices).  Completes the
    centrality family next to its exact-integer sibling
    ``stress_centrality`` (reference oracle pattern:
    /root/reference/naive_implementation/ exact counters).

    Scale: identical plan shape to ``stress_centrality`` — 2*diameter
    frontier⋈edges supersteps, |S|*V-bounded state, shuffle-hash joins
    pinned on ``partitions``, lineage truncated per superstep.
    """
    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    e = norm_edges(edges, P, directed=directed)

    lvl = (
        sources.select(F.col("id").alias("s")).distinct()
        .select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sig"))
        .repartition(P, "v")
        .localCheckpoint(eager=True)
    )
    levels = [lvl]
    settled = lvl.select("s", "v").localCheckpoint(eager=True)
    for _ in range(max_iter):
        nxt = (
            e.join(lvl.withColumnRenamed("v", "src").hint("shuffle_hash"), "src")
            .select("s", F.col("dst").alias("v"), "sig")
            .join(settled.hint("shuffle_hash"), ["s", "v"], "left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sig").alias("sig"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        settled = (
            settled.union(nxt.select("s", "v"))
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        lvl = nxt

    # backward: deepest level has delta = 0; one quantized term per DAG
    # successor, summed exactly
    out = [levels[-1].select("s", "v", "sig", F.lit(0).cast("long").alias("dv"))]
    c = out[0].select("s", "v", "sig", "dv")
    for l in range(len(levels) - 2, -1, -1):
        term = F.round(
            F.col("sig").cast("double")
            * (F.lit(1000000).cast("long") + F.col("dvw")).cast("double")
            / F.col("sigw").cast("double")
        ).cast("long")
        agg = (
            levels[l]
            .join(e.withColumnRenamed("src", "v").hint("shuffle_hash"), "v")
            .join(
                c.select(
                    "s",
                    F.col("v").alias("dst"),
                    F.col("sig").alias("sigw"),
                    F.col("dv").alias("dvw"),
                ).hint("shuffle_hash"),
                ["s", "dst"],
            )
            .groupBy("s", "v")
            .agg(F.sum(term).alias("dv"))
        )
        cur = (
            levels[l].join(agg.hint("shuffle_hash"), ["s", "v"], "left")
            .select(
                "s", "v", "sig",
                F.coalesce("dv", F.lit(0)).cast("long").alias("dv"),
            )
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        out.append(cur)
        c = cur.select("s", "v", "sig", "dv")
    e.unpersist()

    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    return (
        res.filter(F.col("v") != F.col("s"))
        .groupBy(F.col("v").alias("id"))
        .agg(F.sum("dv").alias("betweenness_e6"))
        .filter(F.col("betweenness_e6") > 0)
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context, cnt) training pairs from a walk corpus —
    the DeepWalk/node2vec step between ``random_walks`` and an embedding
    trainer (Perozzi et al. 2014 §4.2).  Context = any vertex within
    ``window`` steps of the center on the SAME walk, both directions;
    pairs aggregate across the corpus.

    Scale: the self-join key is walk_id — each join group is at most
    (length+1) rows regardless of graph size, so the join output is
    |walks|·2·window·length bounded (linear in the walk corpus, never in
    V²); one shuffle per side plus the map-side-combinable
    (center, context) groupBy.  The walk corpus itself streams from
    ``random_walks`` (deterministic hash-walks, reference seed-sampling
    analogue /root/reference/src/ZGraphInstance.cpp:300-334).
    """
    a = walks.select(
        "walk_id", F.col("step").alias("i"), F.col("v").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("j"), F.col("v").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= window)
        )
        .groupBy(
            F.col("center").cast("long").alias("center"),
            F.col("context").cast("long").alias("context"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# second-order (node2vec) step weights — small integers so every cumulative
# weight is BIGINT-exact in any engine; defaults lean DFS-ward (q < 1)
N2V_RET_W, N2V_BFS_W, N2V_DFS_W = 1, 2, 4
WALK_D = 15485863  # prime mixing the predecessor vertex into the step hash


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    length: int,
    directed: bool = False,
    partitions: int | None = None,
    ret_w: int = N2V_RET_W,
    bfs_w: int = N2V_BFS_W,
    dfs_w: int = N2V_DFS_W,
) -> DataFrame:
    """Deterministic node2vec-style SECOND-ORDER walks (Grover & Leskovec,
    KDD'16): the step out of ``v`` given predecessor ``prev`` weights each
    neighbor ``dst`` by ``ret_w`` if ``dst == prev`` (the 1/p return term),
    ``bfs_w`` if ``dst ∈ N(prev)`` (the distance-1 term), else ``dfs_w``
    (the 1/q in-out term), then picks the candidate whose cumulative-weight
    interval over the dst-sorted neighbor list contains
    ``hash(walk_id, v, prev, step) mod total_weight`` — a weighted hash-walk,
    bit-reproducible in any engine (integer weights, no RNG state; the
    distributed analogue of the reference's seeded estimator sampling,
    /root/reference/src/ZGraphInstance.cpp:300-334).  Step 1 sets
    ``prev = v`` so every first candidate scores ``bfs_w`` — a uniform
    first-order hop, no special case on either engine.

    One walk per DISTINCT start vertex (column ``id``; walk_id = start id
    — duplicate start rows are deduped up front, since a colliding walk_id
    would corrupt the per-walk cumulative-weight pick); walks stop early
    at sinks.  Returns (walk_id, step, v), steps 0..length.

    Scale: per step, the state joins the src-pinned adjacency (candidate
    rows = Σ deg(v) over the frontier — bounded by max degree per walk,
    the same bound as graphsage_fanout) and LEFT-joins the edge set on
    (prev, dst) for the distance-1 flag — both shuffle-hash equi-joins on
    pinned keys.  The cumulative-weight window is per (walk_id) over ONE
    vertex's neighbor list, never a global window.  Lineage is truncated
    every step (localCheckpoint), the engine's standard superstep pattern.
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    P = int(partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    adj = norm_edges(edges, P, directed=directed, materialize="none").persist()
    adj.count()
    nb = adj.select(
        F.col("src").alias("prev"), F.col("dst").alias("dst"),
        F.lit(1).alias("_nb"),
    ).repartition(P, "prev", "dst").persist()
    nb.count()

    # walk_id == start id, so duplicate start rows would COLLIDE: the
    # per-walk_id cumulative-weight window below would mix two frontiers'
    # candidate rows and double-count weights (picking zero or multiple
    # successors).  Dedupe up front — one walk per distinct start vertex.
    cur = starts.select(
        F.col("id").alias("walk_id"),
        F.col("id").alias("prev"),
        F.col("id").alias("v"),
    ).dropDuplicates(["walk_id"]).localCheckpoint(eager=True)
    out = [cur.select("walk_id", F.lit(0).cast("int").alias("step"), "v")]
    w_cum = Window.partitionBy("walk_id").orderBy("dst")
    w_tot = Window.partitionBy("walk_id")
    for step in range(1, length + 1):
        cand = (
            cur.join(
                adj.select(F.col("src").alias("v"), "dst").hint("shuffle_hash"),
                "v",
            )
            .join(nb.hint("shuffle_hash"), ["prev", "dst"], "left")
            .withColumn(
                "_w",
                F.when(F.col("dst") == F.col("prev"), F.lit(ret_w))
                .when(F.col("_nb").isNotNull(), F.lit(bfs_w))
                .otherwise(F.lit(dfs_w))
                .cast("long"),
            )
        )
        picked = (
            cand.withColumn("_cum", F.sum("_w").over(w_cum))
            .withColumn("_tot", F.sum("_w").over(w_tot))
            .withColumn(
                "_r",
                (
                    F.col("walk_id") * WALK_A
                    + F.col("v") * WALK_B
                    + F.lit(step) * WALK_C
                    + F.col("prev") * WALK_D
                ) % F.col("_tot"),
            )
            .filter(
                (F.col("_cum") - F.col("_w") <= F.col("_r"))
                & (F.col("_r") < F.col("_cum"))
            )
        )
        cur = (
            picked.select(
                "walk_id", F.col("v").alias("prev"), F.col("dst").alias("v")
            )
            .repartition(P, "v")
            .localCheckpoint(eager=True)
        )
        out.append(cur.select("walk_id", F.lit(step).cast("int").alias("step"), "v"))

    res = out[0]
    for df in out[1:]:
        res = res.union(df)
    adj.unpersist()
    nb.unpersist()
    return res
