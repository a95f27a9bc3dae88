"""Exact distributed quantiles — order statistics without a global sort.

Spark's built-in exact ``percentile`` aggregate buffers every distinct
value in one aggregation state, and a naive ``row_number() OVER (ORDER
BY v)`` funnels the whole table through a single reducer.  Neither
survives 100 TB.  This is the classic distributed-selection shape
instead:

  1. one range Exchange (``repartitionByRange`` on the value column) —
     partition i holds a contiguous value range, all equal values land
     in the same partition (the range partitioner is a pure function of
     the value);
  2. a P-row partition-count read (the documented acceptable driver
     collect: metadata, one row per partition — same class as
     plans/runner.py:562);
  3. per-partition ``row_number`` windows (partitioned by partition id —
     fully parallel, no single reducer) + the broadcast offset map give
     exact global ranks;
  4. only the ≤ 2·|qs| rows at the target ranks survive the filter; the
     interpolation join is against that tiny frame.

Quantile definition: type-7 linear interpolation (numpy/R default) —
rank k = 1 + (n-1)·q, value = v[⌊k⌋] + (k-⌊k⌋)·(v[⌈k⌉] - v[⌊k⌋]) on the
ascending order statistics.  All arithmetic is IEEE double in both
engines; the result is rounded to ``round_to`` decimals for cross-engine
hash stability (the repo-wide round-before-compare rule).

Reference parity: the reference's aggregation surface is the global
aggregate hook (Master.go:958-967); exact quantiles are the natural
extension a data pipeline needs for threshold selection (e.g. "keep
documents above the corpus P90 quality score").
"""

from __future__ import annotations

from math import ceil, floor
from typing import Iterable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.pin import pinned


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: Iterable[float],
    num_ranges: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """(quantile DOUBLE, value DOUBLE) — exact type-7 quantiles of
    ``df[col]`` (NULLs excluded), one row per q in ``qs``."""
    qs = list(qs)
    spark = df.sparkSession
    with pinned() as pins:
        vals = pins(
            df.select(F.col(col).cast("double").alias("v"))
            .where(F.col("v").isNotNull())
            .repartitionByRange(num_ranges, "v")
        )
        # one pass for the per-partition counts (P tiny rows to the driver)
        counts = {
            r["p"]: r["c"]
            for r in vals.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        n = sum(counts.values())
        if n == 0:
            return spark.createDataFrame([], "quantile double, value double")

        offsets: dict[int, int] = {}
        acc = 0
        for pid in range(num_ranges):
            offsets[pid] = acc
            acc += counts.get(pid, 0)

        # (q, lo_rank, hi_rank, frac) — ranks are 1-indexed order statistics
        targets = []
        for q in qs:
            k = 1.0 + (n - 1) * float(q)
            targets.append((float(q), int(floor(k)), int(ceil(k)), k - floor(k)))
        needed = sorted({r for t in targets for r in (t[1], t[2])})

        offset_expr = F.create_map(
            *[F.lit(x) for pid in range(num_ranges) for x in (pid, offsets[pid])]
        )
        w = Window.partitionBy("_pid").orderBy("v")
        picked = (
            vals.withColumn("_pid", F.spark_partition_id())
            .withColumn("rn", F.row_number().over(w))
            .withColumn(
                "grank", (F.col("rn") + offset_expr[F.col("_pid")]).cast("long")
            )
            .where(F.col("grank").isin(needed))
            .select("grank", "v")
        )
        spec = spark.createDataFrame(
            targets, "quantile double, lo long, hi long, frac double"
        )
        lo = picked.select(F.col("grank").alias("lo"), F.col("v").alias("lov"))
        hi = picked.select(F.col("grank").alias("hi"), F.col("v").alias("hiv"))
        out = (
            spec.join(F.broadcast(lo), "lo")
            .join(F.broadcast(hi), "hi")
            .select(
                "quantile",
                F.round(
                    F.col("lov") + F.col("frac") * (F.col("hiv") - F.col("lov")),
                    round_to,
                ).alias("value"),
            )
        )
        return out.localCheckpoint(eager=True)
