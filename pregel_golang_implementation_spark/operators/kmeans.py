"""Lloyd's k-means over the embedding table, the canonical corpus
clustering step of an LLM data pipeline (topic bucketing, diversity
sampling, per-cluster quality triage).

Spark-first shape: centroids are K·dim doubles — driver-sized at ANY
corpus scale — so each iteration is (1) one broadcast-literal projection
computing all K squared distances inside whole-stage codegen (zip_with +
aggregate over the array column, no explode, no UDF, no shuffle), and
(2) one partial+final hash aggregate keyed by cluster computing per-
dimension sums/counts.  Per iteration: one scan + one K-key shuffle.
That is the textbook 100 TB plan; the only driver traffic is the K×dim
centroid matrix per iteration.

Cross-engine determinism (the repo's playbook): assignment compares
ROUND(dist², 6) with cluster-index tie-break, and updated centroids are
ROUNDed to 6dp before the next iteration — double summation order can
then never flip an assignment between Spark and the unrolled DuckDB
twin.  Ties and empty clusters have fixed rules (smaller index wins;
an empty cluster keeps its previous centroid).

Reference tie-in: the per-cluster mean is the same scatter→combine→apply
cycle as the reference's vertex fold (/root/reference/Vertex.go:71-80)
with K super-vertices; it is expressed relationally because K is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.pin import pinned


def _assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Add ``cluster`` = argmin_k ROUND(‖x − c_k‖², 6), ties → smaller k.
    One projection, no shuffle: centroids enter the plan as literals."""
    dists = [
        F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding").cast("array<double>"),
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ),
                6,
            ).alias("d"),
            F.lit(i).cast("long").alias("k"),
        )
        for i, c in enumerate(centroids)
    ]
    return emb.withColumn("cluster", F.array_min(F.array(*dists))["k"])


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, cluster) after ``iters`` Lloyd iterations seeded from the
    ``k`` smallest-id vectors, plus one final assignment against the last
    centroids.  Deterministic end to end (see module docstring)."""
    # each Lloyd iteration re-scans the embedding table (assignment +
    # per-cluster means, r6)
    with pinned() as pins:
        emb = pins(emb.select(F.col(id_col).cast("long").alias(id_col), "embedding"))
        init = (
            emb.filter(F.col(id_col) < k)
            .orderBy(id_col)
            # round seeds with the SQL ROUND (half-up) — Python's round() is
            # half-to-even and would diverge from the oracle's ROUND on ties
            .select(
                F.transform(
                    F.col("embedding").cast("array<double>"), lambda x: F.round(x, 6)
                ).alias("c")
            )
            .collect()
        )
        if len(init) != k:
            raise ValueError(f"kmeans seed needs vec ids 0..{k - 1} present")
        bad = [len(row["c"]) for row in init if len(row["c"]) != dim]
        if bad:
            # ADVICE r5: a dim mismatch used to null-pad through zip_with
            # and silently degrade every distance — fail loudly instead
            raise ValueError(
                f"kmeans_assign: dim={dim} but seed embeddings have length "
                f"{bad[0]} — pass the table's true embedding dimension"
            )
        centroids = [list(row["c"]) for row in init]
        for _ in range(iters):
            a = _assign(emb, centroids)
            means = (
                a.groupBy("cluster")
                .agg(
                    *[
                        F.round(F.avg(F.col("embedding")[d].cast("double")), 6).alias(
                            f"c{d}"
                        )
                        for d in range(dim)
                    ]
                )
                .collect()
            )
            by_k = {int(r["cluster"]): [r[f"c{d}"] for d in range(dim)] for r in means}
            centroids = [by_k.get(i, centroids[i]) for i in range(k)]
        return _assign(emb, centroids).select(id_col, "cluster").localCheckpoint(
            eager=True
        )
