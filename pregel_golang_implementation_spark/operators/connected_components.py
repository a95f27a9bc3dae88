"""Connected components by hash-min label spreading.

This is the reference's own superstep skeleton with min-combine and no
weights (the SSSP relaxation at Vertex.go:68-88 with w≡0 and init=id):
every vertex starts labelled with its own id, scatters its label, adopts
the minimum it hears, and votes to halt when unchanged.  Converges in
O(graph diameter) supersteps; frontier execution means late supersteps
touch only the shrinking changed set (SURVEY.md §4 P5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec


def cc_spec(max_supersteps: int = 100) -> AlgorithmSpec:
    def init_fn(vertices: DataFrame) -> DataFrame:
        return vertices.select("id", F.col("id").cast("double").alias("value"))

    def msg_fn(value, weight, g):
        return value

    def apply_fn(old, msg, g):
        return F.least(old, F.coalesce(msg, old))

    def active_fn(old, new, msg):
        return new < old

    return AlgorithmSpec(
        name="connected_components",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combine="min",
        apply_fn=apply_fn,
        active_fn=active_fn,
        use_frontier=True,
        max_supersteps=max_supersteps,
    )


def symmetrize(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Undirected view: emit both directions, dedup.  Mirrors the reference
    fixtures' symmetric adjacency (Test/generate.py:26-30) without assuming
    the input already is (the reference engine silently requires it —
    receiver-side weight lookup, Vertex.go:74).

    ``dedup=False`` skips the dropDuplicates — a full shuffle+aggregate of
    the doubled edge table.  Safe whenever the consumer is
    multiplicity-insensitive: an IDEMPOTENT combiner (min/max) computes
    identical values from duplicated messages, so CC can scatter over the
    raw doubled list (duplicates only inflate the messages_sent counter).
    Multiplicity-SENSITIVE combiners (LPA's mode vote, PageRank's sum)
    must keep the dedup or duplicated edges double-vote/double-ship."""
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    out = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    return out.dropDuplicates(["src", "dst"]) if dedup else out


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 100,
    **runner_kwargs,
) -> PregelResult:
    """Result state: (id, value=component id = min vertex id in component).

    The undirected view skips edge dedup (``symmetrize(dedup=False)``):
    min-combine is idempotent, so duplicate edges yield identical labels —
    and the dropDuplicates would be a full extra shuffle of the doubled
    edge table before the first superstep.  messages_sent counts raw
    (possibly duplicated) messages."""
    und = symmetrize(edges, dedup=False)
    runner = PregelRunner(spark, cc_spec(max_supersteps), **runner_kwargs)
    return runner.run(und)


def incremental_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    prior_labels: DataFrame,
    max_supersteps: int = 100,
    **runner_kwargs,
) -> PregelResult:
    """Maintain components as edges arrive (the streamed-ingest follow-up):
    re-run hash-min over the FULL current edge table but seeded from the
    previous labeling, so only regions the new edges actually bridge do
    work — unaffected components converge in one superstep instead of
    O(diameter).

    ``prior_labels``: (id, value) from an earlier run.  Vertices absent
    from it (newly arrived) start at their own id.  Correctness is
    unconditional — hash-min converges to min-of-component from ANY upper
    bound, and a prior label is an upper bound for the old graph and
    therefore for the new graph, whose components only ever merge as
    edges are added (edge deletions need a full re-run).
    """
    und = symmetrize(edges, dedup=False)  # min-combine: dup edges harmless
    vertices = PregelRunner.vertices_from_edges(und)
    seeded = (
        vertices.join(
            prior_labels.select("id", F.col("value").alias("_prior")), "id", "left"
        )
        .select(
            F.col("id").cast("long"),
            F.coalesce(F.col("_prior"), F.col("id")).cast("double").alias("value"),
            F.lit(True).alias("active"),
        )
    )
    runner = PregelRunner(spark, cc_spec(max_supersteps), **runner_kwargs)
    return runner.run(und, state=seeded)
