"""PageRank as a Pregel spec: sum-combine + damping apply + 1e-6 halt.

The reference wires only SSSP into its vertex program (Vertex.go:68-88);
PageRank reuses the identical superstep skeleton (O4-O13 in SURVEY.md §2.1)
with (init=1/N, msg=rank/outdeg, combine=sum, apply=(1-d)/N + d·sum,
halt=max|Δ|<tol).  Dangling-node mass (no analogue in the reference) follows
the standard published treatment: redistribute uniformly each superstep via
a scalar global aggregate — never a driver-side collect of state.

Scale notes:
  - 1/outdeg is baked into the edge weight once, so the per-superstep
    message expression is a single multiply inside whole-stage codegen.
  - the dangling mass is one scalar per superstep, piggybacked on the
    runner's metrics aggregation (zero extra jobs).
  - full scatter every superstep (power iteration) — frontier execution
    would change the fixed point, so ``use_frontier=False``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec


def pagerank_spec(num_vertices: int, damping: float = 0.85, tol: float = 1e-6) -> AlgorithmSpec:
    n = float(num_vertices)
    d = float(damping)

    def init_fn(vertices: DataFrame) -> DataFrame:
        # uniform start 1/N; dangling flag is static per vertex
        return vertices.select(
            "id", F.lit(1.0 / n).alias("value"), F.col("is_dangling")
        )

    def msg_fn(value, weight, g):
        # weight was pre-baked to 1/outdeg(src): msg = rank/outdeg
        return value * weight

    def apply_fn(old, msg, g):
        # g["dangling_mass"] arrives as a Column: a per-superstep literal,
        # or an in-plan aggregate on chained steps 2..K of a block
        dm = g.get("dangling_mass", F.lit(0.0))
        return F.lit((1.0 - d) / n) + F.lit(d) * (
            F.coalesce(msg, F.lit(0.0)) + dm / F.lit(n)
        )

    def active_fn(old, new, msg):
        return F.abs(new - old) > F.lit(tol)

    return AlgorithmSpec(
        name="pagerank",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combine="sum",
        apply_fn=apply_fn,
        active_fn=active_fn,
        static_cols=("is_dangling",),
        use_frontier=False,
        global_aggs={
            "dangling_mass": F.sum(
                F.when(F.col("is_dangling"), F.col("value")).otherwise(F.lit(0.0))
            )
        },
        max_supersteps=100,
        params={"damping": damping, "tol": tol, "num_vertices": num_vertices},
    )


def personalized_pagerank_spec(damping: float = 0.85, tol: float = 1e-6) -> AlgorithmSpec:
    """PageRank with a personalization (teleport) vector: restarts land on
    the source set instead of uniformly, rank' = (1-d)·p(v) + d·(Σ msgs +
    dangling_mass·p(v)).  Dangling mass teleports back to the source set —
    the standard treatment.  The vertices frame must carry ``p`` (teleport
    weight, summing to 1) alongside ``is_dangling``; with p ≡ 1/N this
    reduces exactly to standard PageRank.  Same skeleton, same combine —
    the personalization rides as a static column."""
    d = float(damping)

    def init_fn(vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id", F.col("p").cast("double").alias("value"),
            "is_dangling", F.col("p").cast("double").alias("_p"),
        )

    def msg_fn(value, weight, g):
        return value * weight

    def apply_fn(old, msg, g):
        dm = g.get("dangling_mass", F.lit(0.0))
        return F.lit(1.0 - d) * F.col("_p") + F.lit(d) * (
            F.coalesce(msg, F.lit(0.0)) + dm * F.col("_p")
        )

    def active_fn(old, new, msg):
        return F.abs(new - old) > F.lit(tol)

    return AlgorithmSpec(
        name="personalized_pagerank",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combine="sum",
        apply_fn=apply_fn,
        active_fn=active_fn,
        static_cols=("is_dangling", "_p"),
        use_frontier=False,
        global_aggs={
            "dangling_mass": F.sum(
                F.when(F.col("is_dangling"), F.col("value")).otherwise(F.lit(0.0))
            )
        },
        max_supersteps=100,
        params={"damping": damping, "tol": tol, "personalized": True},
    )


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    source_ids: list[int],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    **runner_kwargs,
) -> PregelResult:
    """Personalized PageRank from a source set (uniform teleport over it).
    Result state: (id, value=rank); ranks sum to 1 (±fp error).

    Every source id must exist in the edge-derived vertex set: a missing
    source would silently shrink the teleport vector below 1 and the ranks
    would no longer sum to 1 despite this docstring's claim — checked with
    one cheap isin count over the vertices and raised loudly instead."""
    if not source_ids:
        raise ValueError(
            "personalized_pagerank needs a non-empty source_ids — the "
            "teleport vector must sum to 1"
        )
    pr_edges, vertices, caches = _build_pagerank_graph(edges, False, cache=True)
    try:
        srcs = sorted({int(s) for s in source_ids})
        present = vertices.filter(F.col("id").isin(srcs)).count()
        if present != len(srcs):
            raise ValueError(
                f"personalized_pagerank: {len(srcs) - present} of {len(srcs)} "
                "source_ids are not vertices of the graph — the teleport vector "
                "would sum below 1; pass only ids that appear in the edge table"
            )
        k = float(len(srcs))
        vertices = vertices.withColumn(
            "p",
            F.when(F.col("id").isin(srcs), F.lit(1.0 / k)).otherwise(F.lit(0.0)),
        )
        spec = personalized_pagerank_spec(damping=damping, tol=tol)
        spec.max_supersteps = max_supersteps
        runner = PregelRunner(spark, spec, **runner_kwargs)
        return runner.run(pr_edges, vertices=vertices)
    finally:
        for c in caches:
            c.unpersist()


def _build_pagerank_graph(
    edges: DataFrame, weighted: bool, cache: bool
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Shared builder for ``prepare_pagerank_graph``.  ``cache=True``
    persists the deduped edge list and the vertex frame — the prep
    lineage has THREE consumers (pr_edges, the caller's vertex count,
    and the runner's state init), and uncached each one re-runs the
    source scan + dedup shuffle (measured: 6.3s of a 16.7s warm sf0.1
    PageRank was prep recomputation, r6 profile).  Returns the list of
    persisted frames for the caller to unpersist after the runner has
    materialized its own edge cache and init state."""
    caches: list[DataFrame] = []
    # ONE exchange for the whole prep chain (guide §2.4 "two operations
    # keyed the same way can share one exchange"): hash(src) satisfies
    # the (src, dst) clustering the dedup/collapse aggregate needs, the
    # src-keyed outdeg aggregate, AND the pr_edges join — so after this
    # repartition none of them shuffles again.  Values are unchanged
    # (same aggregates, same keys).
    if weighted:
        e = (
            edges.select(
                F.col("src").cast("long"),
                F.col("dst").cast("long"),
                F.col("weight").cast("double").alias("_w"),
            )
            .repartition("src")
            .groupBy("src", "dst")
            .agg(F.sum("_w").alias("_w"))
        )
        if cache:
            e = e.persist()
            caches.append(e)
        pos = e.filter(F.col("_w") > 0)
        outdeg = pos.groupBy("src").agg(F.sum("_w").alias("_wsum"))
        pr_edges = pos.join(outdeg, "src").select(
            "src", "dst", (F.col("_w") / F.col("_wsum")).alias("weight")
        )
    else:
        e = (
            edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
            .repartition("src")
            .dropDuplicates(["src", "dst"])
        )
        if cache:
            e = e.persist()
            caches.append(e)
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        pr_edges = e.join(outdeg, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("weight")
        )
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(outdeg.select(F.col("src").alias("id"), F.lit(True).alias("_has_out")), "id", "left")
        .select("id", F.col("_has_out").isNull().alias("is_dangling"))
    )
    if cache:
        vertices = vertices.persist()
        caches.append(vertices)
    return pr_edges, vertices, caches


def prepare_pagerank_graph(
    edges: DataFrame, weighted: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Normalize a directed edge list for PageRank.

    Returns (pr_edges, vertices):
      pr_edges(src, dst, weight) — duplicate edges collapsed; weight is the
        fraction of src's rank shipped along the edge: 1/outdeg(src) by
        default, or weight_ij / Σ_j weight_ij when ``weighted=True``
        (edge-weight-proportional rank flow; rows still sum to 1 per src,
        so the same spec/dangling treatment applies unchanged)
      vertices(id, is_dangling)

    Weighted path: rank flow is a probability split, so edges whose
    collapsed weight is ≤ 0 are dropped — a negative or zero weight has no
    rank-flow interpretation, and dividing by a ≤ 0 weight sum would send
    NaN/Inf (0.0/0.0, x/0.0) silently through every downstream rank.  A
    source whose entire outflow is dropped keeps no out-edges and is
    marked dangling (its mass redistributes), exactly like a vertex that
    never had out-edges; the vertex itself stays in the graph.
    """
    pr_edges, vertices, _ = _build_pagerank_graph(edges, weighted, cache=False)
    return pr_edges, vertices


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    weighted: bool = False,
    **runner_kwargs,
) -> PregelResult:
    """Run PageRank to the 1e-6 fixed point (BASELINE.json criterion).

    ``weighted=True`` distributes rank proportionally to edge weights
    instead of uniformly over out-edges.
    Result state: (id, value=rank, ...); ranks sum to 1 (±fp error).
    """
    pr_edges, vertices, caches = _build_pagerank_graph(edges, weighted, cache=True)
    try:
        n = vertices.count()
        spec = pagerank_spec(n, damping=damping, tol=tol)
        spec.max_supersteps = max_supersteps
        runner = PregelRunner(spark, spec, **runner_kwargs)
        # run() materializes its own edge cache and init state, after which
        # nothing the caller holds references the prep caches
        return runner.run(pr_edges, vertices=vertices)
    finally:
        for c in caches:
            c.unpersist()


def incremental_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    prior_ranks: DataFrame,
    max_supersteps: int,
    damping: float = 0.85,
    tol: float = 1e-12,
    **runner_kwargs,
):
    """Warm-started PageRank: re-run the power iteration on the CURRENT
    graph seeded from a previous run's ranks (vertices the prior never
    saw start at 1/N) — the rank-maintenance analogue of
    ``incremental_connected_components``.  Power iteration converges to
    the damping-determined fixed point from ANY non-degenerate start, so
    a warm start after a small graph delta is semantically free and
    saves most of the supersteps a cold 1/N start would need.

    ``prior_ranks``: (id, value).  Note the seeded vector is not
    re-normalized — after K steps the result is the exact K-step
    recurrence from that seed (what the oracle unrolls); running to
    convergence yields the standard PageRank.
    """
    pr_edges, vertices, caches = _build_pagerank_graph(edges, False, cache=True)
    try:
        n = vertices.count()
        seeded = vertices.join(
            prior_ranks.select("id", F.col("value").alias("_p")), "id", "left"
        ).select(
            F.col("id").cast("long"),
            F.coalesce(F.col("_p"), F.lit(1.0 / n)).cast("double").alias("value"),
            F.lit(True).alias("active"),
            F.col("is_dangling"),
        )
        runner = PregelRunner(
            spark, pagerank_spec(n, damping=damping, tol=tol), **runner_kwargs
        )
        return runner.run(pr_edges, state=seeded, max_supersteps=max_supersteps)
    finally:
        for c in caches:
            c.unpersist()
