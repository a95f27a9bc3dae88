"""HITS (hubs & authorities) — Kleinberg 1999, "Authoritative Sources
in a Hyperlinked Environment".

The other classic link-analysis fixed point next to PageRank: authority
score = sum of in-neighbor hub scores; hub score = sum of out-neighbor
authority scores; each half-step L1-normalized (the textbook uses L2 —
L1 keeps every quantity a plain sum, the same cross-engine determinism
recipe as the PageRank oracle: double sums whose ulp drift vanishes
under the final 6dp rounding).

Unlike the Pregel specs this is a plain relational loop (the runner's
state is one value per vertex; HITS carries two and alternates
directions) — the same pattern as k-core peeling: per iteration two
src/dst-keyed aggregates + joins, state pinned with an eager
localCheckpoint per round so the self-referencing plan cannot double
per iteration (the 2^r blow-up kcore_peel documents).

Scale shape: every aggregate is keyed by a vertex id with map-side
combine; the normalization total is a 1-row aggregate riding the same
frame; nothing global-sorts, nothing collects per-vertex state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.pin import pinned


def hits(
    edges: DataFrame,
    iterations: int = 3,
    round_to: int | None = None,
) -> DataFrame:
    """(id, hub, authority) over the DIRECTED edge list after
    ``iterations`` rounds from the all-ones start; isolated-direction
    vertices (no in-edges / no out-edges) hold score 0 for that role."""
    # e and v are probed twice per iteration (r6); per half-step the
    # raw-score frame is pinned lazily so its two consumers (per-vertex
    # scores + the normalization total) share one execution of the
    # scatter join instead of running it twice
    with pinned() as pins:
        e = pins(edges.select("src", "dst"))
        v = pins(
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        state = v.select("id", F.lit(1.0).alias("h")).localCheckpoint(eager=True)
        auth = None
        for _ in range(iterations):
            a_raw = (
                e.join(state.select(F.col("id").alias("src"), "h"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("h").alias("s"))
                .localCheckpoint(eager=False)
            )
            a = (
                v.join(a_raw, "id", "left")
                .select("id", F.coalesce("s", F.lit(0.0)).alias("s"))
                .join(F.broadcast(a_raw.agg(F.sum("s").alias("t"))))
                .select("id", (F.col("s") / F.col("t")).alias("a"))
                .localCheckpoint(eager=True)
            )
            h_raw = (
                e.join(a.select(F.col("id").alias("dst"), "a"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("a").alias("s"))
                .localCheckpoint(eager=False)
            )
            state = (
                v.join(h_raw, "id", "left")
                .select("id", F.coalesce("s", F.lit(0.0)).alias("s"))
                .join(F.broadcast(h_raw.agg(F.sum("s").alias("t"))))
                .select("id", (F.col("s") / F.col("t")).alias("h"))
                .localCheckpoint(eager=True)
            )
            auth = a
        out = state.join(auth.withColumnRenamed("a", "authority"), "id").select(
            "id", F.col("h").alias("hub"), "authority"
        )
        if round_to is not None:
            out = out.select(
                "id",
                F.round("hub", round_to).alias("hub"),
                F.round("authority", round_to).alias("authority"),
            )
        return out.localCheckpoint(eager=True)
