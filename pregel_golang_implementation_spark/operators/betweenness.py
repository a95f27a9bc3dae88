"""Sampled betweenness centrality — Brandes' algorithm from a pivot
sample, both phases as relational passes over the BFS DAG.

Exact betweenness needs all-pairs shortest paths; every production
system samples sources instead (Brandes & Pich 2007): run Brandes'
dependency accumulation from k pivots and sum, an unbiased estimator of
betweenness restricted to the sampled sources (scaled by n/k if the
absolute figure is wanted).

Brandes per source s (unweighted):
  forward  — BFS layers d(v) with path counts σ(v) = Σ σ(u) over
             shortest-path predecessors u;
  backward — dependency δ(v) = Σ_{w: succ(v)} σ(v)/σ(w) · (1 + δ(w)),
             accumulated deepest layer first; v's centrality gains δ(v)
             for every pivot s ≠ v.

Spark-first shape: the forward phase is the multi-source BFS of
bfs.msbfs_distances carrying an extra integer σ column (one frontier
join + one (vertex, pivot)-keyed sum per hop — path counts ADD across
predecessors, so the combine is the same map-side-partial sum as
PageRank's); the backward phase walks the layers top-down, each step one
join from layer h to its h−1 predecessors plus one keyed sum.  2·H
joins and aggregates total, nothing quadratic, all pivots sharing every
scan.  σ stays exact BIGINT (path counts); δ is double with the repo's
round-before-compare rule applied to the final sum only.

Reference tie-in: forward σ is the reference's SSSP relaxation shape
(/root/reference/Vertex.go:68-88) with sum-combine instead of min;
the backward pass is the same scatter/combine in reverse layer order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.pin import pinned


def brandes_forward(
    und_edges: DataFrame, pivots: list[int], hops: int
) -> DataFrame:
    """(id, pv, dist, sigma) — BFS layer and shortest-path count of
    every vertex within ``hops`` of each pivot (σ exact BIGINT)."""
    e = und_edges.select("src", "dst")
    cur = (
        e.sparkSession.range(1)
        .select(F.explode(F.array(*[F.lit(int(p)) for p in pivots])).alias("pv"))
        .select(
            F.col("pv").alias("id"),
            "pv",
            F.lit(0).alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    acc = cur
    for h in range(1, hops + 1):
        nxt = (
            cur.join(e, cur["id"] == e["src"])
            .select(F.col("dst").alias("id"), "pv", "sigma")
            .groupBy("id", "pv")
            .agg(F.sum("sigma").alias("sigma"))
            .join(acc.select("id", "pv"), ["id", "pv"], "left_anti")
            .withColumn("dist", F.lit(h))
            .select("id", "pv", "dist", "sigma")
            .localCheckpoint(eager=False)
        )
        acc = acc.unionByName(nxt).localCheckpoint(eager=False)
        cur = nxt
    return acc


def betweenness_sampled(
    und_edges: DataFrame, pivots: list[int], hops: int
) -> DataFrame:
    """(id, betweenness) — Σ over sampled pivots of Brandes' dependency
    δ(id), pairs beyond ``hops`` contributing zero; rounded to 6dp.
    Vertices with zero accumulated dependency are omitted (they are
    never interior to any sampled shortest path)."""
    with pinned() as pins:
        # one edge projection probed by every forward hop AND every backward
        # layer step (2·H consumers, r6)
        e = pins(und_edges.select("src", "dst"))
        fwd = brandes_forward(e, pivots, hops)
        layers = {
            h: fwd.filter(F.col("dist") == h).localCheckpoint(eager=False)
            for h in range(hops + 1)
        }
        # δ of the deepest layer is 0; walk upward — processing step h turns
        # layer h's (now-final) δ into layer h−1's δ via the DAG edges
        delta = layers[hops].select("id", "pv", F.lit(0.0).alias("delta"))
        finals = []
        for h in range(hops, 0, -1):
            # layer-h vertices with σ_w and FINAL δ_w (missing δ = 0: a
            # layer-h vertex with no deeper successors has zero dependency)
            succ = layers[h].join(delta, ["id", "pv"], "left").select(
                "id", "pv", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
            finals.append(succ.select("id", "pv", "delta"))
            # shortest-path DAG edges: u at layer h-1 adjacent to w at layer h
            delta = (
                succ.join(e, succ["id"] == e["dst"])
                .select(
                    F.col("src").alias("id"),
                    "pv",
                    F.col("sigma").alias("_sw"),
                    F.col("delta").alias("_dw"),
                )
                .join(layers[h - 1].select("id", "pv", "sigma"), ["id", "pv"])
                .withColumn(
                    "_c",
                    F.col("sigma").cast("double")
                    / F.col("_sw").cast("double")
                    * (F.lit(1.0) + F.col("_dw")),
                )
                .groupBy("id", "pv")
                .agg(F.sum("_c").alias("delta"))
                .localCheckpoint(eager=False)
            )
        # after the loop `delta` holds δ of layer 0 — the pivots themselves,
        # which Brandes excludes, so it is dropped; a pivot appearing inside
        # ANOTHER pivot's BFS is dropped by the id != pv filter instead
        from functools import reduce

        per_pair = reduce(lambda a, b: a.unionByName(b), finals)
        out = (
            per_pair.filter(F.col("id") != F.col("pv"))
            .groupBy("id")
            .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
            .filter(F.col("betweenness") > 0.0)
        )
        return out.localCheckpoint(eager=True)
