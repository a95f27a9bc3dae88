"""Strongly connected components by trim + forward/backward min-label
peeling, composed from the engine's own BSP primitive.

The reference's vertex programs are all undirected-flavored (CC, SSSP
over symmetrized fixtures — /root/reference/Vertex.go:68-88); a link
graph is DIRECTED, and the directed analogue of CC is SCC.  The classic
distributed recipe (FW-BW / Orzan coloring family) adapts cleanly to the
BSP runner:

  1. TRIM — a vertex with no in-edges or no out-edges in the remaining
     subgraph is its own SCC (any cycle through it would run through
     already-removed vertices, which were removed only as WHOLE SCCs,
     so it would itself have been removed — induction).  Each trim round
     is two distinct-projections + two semi-joins, the same relational
     shape as k-core peeling (kcore.py).
  2. F/B LABELS — min-vertex-id propagation along forward edges gives
     f(v) = min id that can reach v within the remaining subgraph;
     along reversed edges gives b(v) = min id v can reach.  Both are
     literally ``cc_spec`` runs (min-combine label spreading) over the
     restricted DIRECTED edge table — the engine's CC vertex program,
     re-used unchanged, messages flowing src→dst only.
  3. PEEL — f(v) = b(v) = r proves r ⇝ v and v ⇝ r inside the remaining
     subgraph, so v ∈ SCC(r); the peeled class is exactly SCC(r) ∩
     remaining = SCC(r) (whole-SCC removal, same induction).  The
     equality test is NOT complete in one pass in general (two distinct
     SCCs can share (f, b) labels only when neither is peelable yet —
     they never FALSELY peel), which is why the outer loop exists.

Every peel round removes at least the SCC of the globally-minimal
remaining vertex, and trim dissolves the acyclic fringe wholesale, so
rounds are few on web-shaped graphs (one round suffices on the contract
graph at every shipped SF — measured trim depth 1, f/b convergence ≤ 11
supersteps).  ``strict=True`` raises if vertices remain unassigned after
the budgeted rounds rather than returning a partial labeling.

Scale shape per round: trim is O(edges) semi-joins with map-side
distinct; each label run is the CC superstep loop (one combine Exchange
per superstep, frontier-driven); peel is one co-partitioned join on id.
Nothing is quadratic and nothing leaves the JVM.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.connected_components import cc_spec
from pregel_golang_implementation_spark.plans.pin import pinned
from pregel_golang_implementation_spark.plans.runner import PregelRunner


def scc_fwbw(
    spark: SparkSession,
    edges: DataFrame,
    inner_iters: int = 14,
    trim_rounds: int = 2,
    outer_rounds: int = 1,
    strict: bool = True,
    **runner_kwargs,
) -> DataFrame:
    """(id, scc) for every vertex of the directed graph ``edges``
    (src, dst[, weight]); scc = min vertex id in the component.

    ``inner_iters`` bounds each f/b label propagation (must cover the
    remaining subgraph's label-spread diameter for the peel to be exact
    — the runner stops early on convergence, so generous bounds cost
    nothing); ``trim_rounds``/``outer_rounds`` budget the peeling.  With
    ``strict`` a non-empty remainder raises ValueError instead of
    silently returning partial labels."""
    with pinned() as pins:
        # the directed edge projection is probed 2× per trim round, once per
        # post-trim restriction and by both label runs (r6)
        e = pins(edges.select(F.col("src").cast("long"), F.col("dst").cast("long")))
        remaining = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        assigned: list[DataFrame] = []
        for _ in range(outer_rounds):
            for _t in range(trim_rounds):
                remaining = remaining.localCheckpoint(eager=False)
                er = e.join(
                    remaining.select(F.col("id").alias("src")), "src", "left_semi"
                ).join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
                has_in = er.select(F.col("dst").alias("id")).distinct()
                has_out = er.select(F.col("src").alias("id")).distinct()
                keep = remaining.join(has_in, "id", "left_semi").join(
                    has_out, "id", "left_semi"
                )
                assigned.append(
                    remaining.join(keep, "id", "left_anti").select(
                        "id", F.col("id").alias("scc")
                    )
                )
                remaining = keep
            # post-trim every remaining vertex has in- AND out-edges inside the
            # subgraph, so the restricted edge table's endpoints == remaining
            # and the runner can derive its vertex set from the edges alone
            er = (
                e.join(remaining.select(F.col("id").alias("src")), "src", "left_semi")
                .join(remaining.select(F.col("id").alias("dst")), "dst", "left_semi")
                .withColumn("weight", F.lit(1.0))
                .localCheckpoint(eager=False)
            )
            spec = cc_spec(max_supersteps=inner_iters)
            f = (
                PregelRunner(spark, spec, **runner_kwargs)
                .run(er, max_supersteps=inner_iters)
                .state.select("id", F.col("value").cast("long").alias("_f"))
            )
            rev = er.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            )
            b = (
                PregelRunner(spark, spec, **runner_kwargs)
                .run(rev, max_supersteps=inner_iters)
                .state.select("id", F.col("value").cast("long").alias("_b"))
            )
            labeled = f.join(b, "id")
            peel = labeled.filter(F.col("_f") == F.col("_b")).select(
                "id", F.col("_f").alias("scc")
            )
            assigned.append(peel)
            remaining = remaining.join(peel.select("id"), "id", "left_anti")
        if strict:
            leftover = remaining.count()
            if leftover:
                raise ValueError(
                    f"scc_fwbw: {leftover} vertices unassigned after "
                    f"{outer_rounds} round(s) — raise outer_rounds/inner_iters"
                )
        out = reduce(lambda a, b: a.unionByName(b), assigned)
        return out.localCheckpoint(eager=True)
