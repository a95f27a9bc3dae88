"""k-core decomposition by iterative peeling.

The k-core of an undirected graph is the maximal induced subgraph in
which every vertex has degree ≥ k; it is computed by repeatedly removing
("peeling") vertices of degree < k until a fixed point.  In the
reference's vertex-centric model this is the classic Pregel peel — a
vertex whose live degree drops below k halts and notifies its neighbors
(Vertex.go:68-88 compute shape, Master.go:1044-1063 convergence) — but
the per-round work is a plain induced-subgraph degree count, so the
Spark-first form is a short loop of relational rounds, each of which is
two semi-joins + one aggregation (map-side combinable) over the edge
table, with nothing vertex-resident at all:

    alive_1 = { v : deg(v) ≥ k }                       (full graph)
    alive_{r+1} = { v : deg of v in subgraph induced by alive_r ≥ k }

Each round shuffles only (vertex, partial-count) pairs — at 100 TB the
same two-exchange shape as a degree count — and the survivor set can
only shrink, so later rounds get cheaper.  A fixed ``rounds`` budget
gives a deterministic, oracle-checkable result (the same fixed-superstep
convention as ``pagerank_5iter``/``cc_6iter``); once a round removes
nothing the result is the exact k-core membership.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.pin import pinned


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
) -> DataFrame:
    """Vertices surviving ``rounds`` peels, with the induced degree that
    justified their survival in the final round.

    ``edges`` must already be symmetrized (src↔dst both present, no
    self-loops) — the same contract as ``connected_components.symmetrize``
    output.  Returns (id, degree), degree ≥ k.

    Scale shape per round: one left_semi join per endpoint (broadcast-or-
    shuffle, Catalyst's choice via AQE) + one groupBy(src).count() with
    map-side partial aggregation.  Each round's survivor set is pinned
    with a lazy localCheckpoint — it is consumed twice next round (src and
    dst semi-joins), and without the pin the plan doubles every round
    (the same 2^r lineage blowup PregelRunner breaks the same way).
    """
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be ≥ 1, got {rounds}")

    # the edge table is probed 2× per round (src/dst semi-joins); pin it
    # instead of re-running its lineage every round (r6)
    with pinned() as pins:
        edges = pins(edges)
        deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        alive = deg.filter(F.col("degree") >= k)
        for r in range(rounds - 1):
            alive = alive.localCheckpoint(eager=False)
            alive_src = alive.select(F.col("id").alias("src"))
            alive_dst = alive.select(F.col("id").alias("dst"))
            induced = edges.join(alive_src, "src", "left_semi").join(
                alive_dst, "dst", "left_semi"
            )
            deg = induced.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            )
            alive = deg.filter(F.col("degree") >= k)
        return alive.localCheckpoint(eager=True)
