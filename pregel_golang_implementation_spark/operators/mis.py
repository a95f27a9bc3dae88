"""Maximal independent set — synchronous Luby rounds as a Pregel spec.

Luby's algorithm (Luby 1986, "A Simple Parallel Algorithm for the
Maximal Independent Set Problem"): every round, an undecided vertex
whose random priority is a STRICT local minimum among its undecided
neighbors joins the set; neighbors of set members drop out.  Two
adjacent vertices can never both be local minima, so the set stays
independent; the globally smallest undecided priority always wins, so
every round makes progress and the loop terminates.

This is the fourth distinct vertex program the runner executes (after
min-propagation CC/SSSP, sum-propagation PageRank, mode-propagation
LPA) — same `combine="min"` data plane, new decision logic, zero runner
changes: evidence the AlgorithmSpec surface generalizes as the
reference's ``Compute()`` extension point does (Vertex.go:68-88).

Determinism (no RNG): priority(v) = first 12 hex chars of md5(v) as an
integer — i.e. a fixed pseudo-random permutation both engines derive
identically (the repo-wide md5 trick).  Integer-valued doubles < 2^48,
so every comparison is exact; a 12-hex collision (~2^-48 per pair)
would merely leave both vertices undecided one extra round.

State encoding (the runner's value column is one double):
  undecided → its priority  ∈ [0, 2^48)
  IN  (set member)          = -1
  OUT (neighbor of member)  = 2^48
min-combine over neighbor states then answers every question one round
needs: min < 0 ⇒ some neighbor is IN (drop out); min ≥ 2^48 ⇒ all
neighbors decided OUT (join); otherwise min = smallest undecided
neighbor priority (join iff strictly below it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import PregelResult, PregelRunner
from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec

OUT_SENTINEL = float(2**48)


def priority_expr(id_col="id"):
    """md5-derived integer priority, exact in a double (< 2^48)."""
    return F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("double")


def mis_spec(max_supersteps: int = 32) -> AlgorithmSpec:
    def init_fn(vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id", priority_expr().alias("value"), F.lit(True).alias("active")
        )

    def msg_fn(value, weight, g):
        # broadcast my full state; decided vertices keep sending so
        # late neighbors still see the IN/OUT signal (use_frontier=False)
        return value

    def apply_fn(old, msg, g):
        decided = (old < 0) | (old >= OUT_SENTINEL)
        return (
            F.when(decided, old)
            .when(msg.isNull(), F.lit(-1.0))          # isolated vertex
            .when(msg < 0, F.lit(OUT_SENTINEL))       # a neighbor is IN
            .when(msg >= OUT_SENTINEL, F.lit(-1.0))   # all neighbors OUT
            .when(old < msg, F.lit(-1.0))             # strict local min
            .otherwise(old)
        )

    return AlgorithmSpec(
        name="mis",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combine="min",
        apply_fn=apply_fn,
        # every vertex must hear from ALL neighbors every round (a
        # frontier of changed-only senders would hide still-undecided
        # neighbors and break the local-min test)
        use_frontier=False,
        max_supersteps=max_supersteps,
    )


def mis_status(state: DataFrame) -> DataFrame:
    """(id, status ∈ {'in','out','undecided'}) from a runner state."""
    return state.select(
        "id",
        F.when(F.col("value") < 0, "in")
        .when(F.col("value") >= OUT_SENTINEL, "out")
        .otherwise("undecided")
        .alias("status"),
    )


def mis(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 32,
    **runner_kwargs,
) -> PregelResult:
    """Run Luby MIS on an UNDIRECTED (pre-symmetrized) edge list."""
    runner = PregelRunner(spark, mis_spec(max_supersteps), **runner_kwargs)
    return runner.run(edges)
