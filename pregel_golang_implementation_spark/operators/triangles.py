"""Triangle counting — the one north_rule algorithm that is NOT
message-passing: a pure relational plan (edges ⋈ edges ⋈ edges counting
closed wedges — SURVEY.md §2.3).  No analogue in the reference engine.

Scale design: edges are first canonicalized src<dst so every triangle is
counted exactly once as (a<b<c).  By DEFAULT they are then re-oriented by
(degree, id) — the standard skew fix: wedge enumeration fans out from
LOW-degree endpoints, so a celebrity hub never enumerates deg² wedge
pairs (on a real crawl/link graph the hub wedge explosion, not the
triangle count, is what kills the job).  ``degree_order=False`` skips the
degree computation — only worthwhile on graphs known to be near-regular.
Both joins are plain equi-joins Catalyst can reorder/broadcast; AQE
splits any residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.pin import Pins, pinned


def canonical_edges(
    edges: DataFrame, degree_order: bool = True, pins: Pins | None = None
) -> DataFrame:
    """Undirected edge set, one row per unordered pair, no self-loops.

    degree_order=True re-orients each edge from the lower-(degree, id)
    endpoint to the higher one (total order, so still one row per pair) —
    use for skewed graphs at scale.

    With ``pins`` the deduped and re-oriented edge tables are pinned —
    the oriented table is consumed THREE times by the wedge joins (e1,
    e2, e3) and its dedup lineage twice more by the degree computation;
    unpinned, Catalyst expands each consumer into its own copy of the
    whole upstream subtree (r6 plan audit of the bench copurchase graph:
    91 Exchange / 30 source-scan nodes, zero reuse)."""
    pin = pins or (lambda df: df)
    e = pin(
        edges.select(
            F.least(F.col("src"), F.col("dst")).cast("long").alias("src"),
            F.greatest(F.col("src"), F.col("dst")).cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    if not degree_order:
        return e
    deg = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ds = deg.select(F.col("id").alias("src"), F.col("deg").alias("_ds"))
    dd = deg.select(F.col("id").alias("dst"), F.col("deg").alias("_dd"))
    return pin(
        e.join(ds, "src").join(dd, "dst")
        .select(
            F.when(
                (F.col("_ds") < F.col("_dd"))
                | ((F.col("_ds") == F.col("_dd")) & (F.col("src") < F.col("dst"))),
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
            )
            .otherwise(F.struct(F.col("dst").alias("u"), F.col("src").alias("v")))
            .alias("uv")
        )
        .select(F.col("uv.u").alias("src"), F.col("uv.v").alias("dst"))
    )


def _wedges(e: DataFrame) -> DataFrame:
    """(a, b, c) — open wedges a→b→c under the orientation of ``e``.
    With degree ordering this is the per-vertex min(deg)² fan-out the
    orientation exists to bound; exposed for tests/diagnostics."""
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return e1.join(e2, "b").select("a", "b", "c")


def _triangle_rows(
    edges: DataFrame, degree_order: bool, pins: Pins | None = None
) -> DataFrame:
    """(a, b, c) — one row per triangle under the chosen orientation."""
    e = canonical_edges(edges, degree_order=degree_order, pins=pins)
    wedges = _wedges(e)
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return wedges.join(e3, ["a", "c"]).select("a", "b", "c")


def triangle_count(
    spark: SparkSession, edges: DataFrame, degree_order: bool = True
) -> int:
    """Global triangle count (exact — oracle: brute force over src<dst set)."""
    with pinned() as pins:
        return _triangle_rows(edges, degree_order, pins).count()


def triangles_per_vertex(
    spark: SparkSession, edges: DataFrame, degree_order: bool = True
) -> DataFrame:
    """(id, triangles) — every triangle credits all three corners.
    Vertices in no triangle are absent (count 0 implied).

    Eager (r6): the result is materialized before the canonical-edge
    pins are released — the per-vertex frame is |triangle vertices|
    rows, far below the edge table it is derived from."""
    with pinned() as pins:
        tri = _triangle_rows(edges, degree_order, pins)
        corners = (
            tri.select(F.col("a").alias("id"))
            .union(tri.select(F.col("b").alias("id")))
            .union(tri.select(F.col("c").alias("id")))
        )
        out = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
        return out.localCheckpoint(eager=True)
