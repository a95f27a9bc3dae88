"""Pinning (plans/pin.py): a failed call releases its pins, a retried task
upstream of a lazy checkpoint never changes a result, and no module but
plans/pin.py persists or releases a frame by hand."""

from __future__ import annotations

import pathlib
import re
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.betweenness import betweenness_sampled
from pregel_golang_implementation_spark.operators.coloring import greedy_coloring
from pregel_golang_implementation_spark.operators.connected_components import (
    connected_components,
)
from pregel_golang_implementation_spark.operators.hits import hits
from pregel_golang_implementation_spark.operators.kcore import kcore_peel
from pregel_golang_implementation_spark.operators.label_propagation import (
    label_propagation,
)
from pregel_golang_implementation_spark.operators.link_prediction import (
    adamic_adar_topk,
    common_neighbor_topk,
)
from pregel_golang_implementation_spark.operators.pagerank import pagerank
from pregel_golang_implementation_spark.operators.scc import scc_fwbw
from pregel_golang_implementation_spark.operators.sssp import sssp
from pregel_golang_implementation_spark.operators.triangles import triangles_per_vertex

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "pregel_golang_implementation_spark"

ENTRY_POINTS = {
    "connected_components": lambda s, e: connected_components(s, e),
    "sssp": lambda s, e: sssp(s, e, source=1),
    "label_propagation": lambda s, e: label_propagation(s, e),
    "greedy_coloring": lambda s, e: greedy_coloring(s, e),
    "scc_fwbw": lambda s, e: scc_fwbw(s, e),
    "hits": lambda s, e: hits(e),
    "betweenness_sampled": lambda s, e: betweenness_sampled(e, [1], 2),
    "adamic_adar_topk": lambda s, e: adamic_adar_topk(e),
    "common_neighbor_topk": lambda s, e: common_neighbor_topk(e),
    "kcore_peel": lambda s, e: kcore_peel(e, k=1, rounds=2),
    "pagerank": lambda s, e: pagerank(s, e),
    "triangles_per_vertex": lambda s, e: triangles_per_vertex(s, e),
}


def _cache_is_empty(spark) -> bool:
    # the CacheManager, not getPersistentRDDs: a frame persisted but never
    # materialized is registered here and has no RDD yet
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_failed_call_releases_its_pins(spark, name):
    """The cast of 'x' raises CAST_INVALID_INPUT on the call's first
    action, after it has pinned its inputs; every pin must be gone."""
    raw = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "1"), ("3", "4"), ("x", "4")],
        "src string, dst string",
    )
    edges = raw.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        ENTRY_POINTS[name](spark, edges)
    assert _cache_is_empty(spark), f"{name} left cached frames after failing"


_RETRY_SCRIPT = textwrap.dedent(
    """
    import pathlib
    import sys

    from pyspark import TaskContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    marker = pathlib.Path(sys.argv[1])
    spark = (
        SparkSession.builder.master("local[2,2]")  # 2 attempts per task
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )

    def run(inject):
        @F.udf("double")
        def fail_once(v):
            tc = TaskContext.get()
            if inject and tc.attemptNumber() == 0 and tc.partitionId() == 0:
                marker.touch()
                raise RuntimeError("injected task failure")
            return v

        base = spark.range(0, 20_000, numPartitions=4).select(
            "id", (F.col("id") / F.lit(3.0) + F.lit(0.1)).alias("v")
        )
        pin = base.select("id", fail_once("v").alias("v")).localCheckpoint(eager=False)
        total = pin.agg(F.sum("v").alias("t")).first()["t"]
        keys = spark.range(0, 20_000, 7).select(F.col("id"), (F.col("id") % 5).alias("g"))
        joined = pin.join(keys, "id").groupBy("g").agg(F.sum("v").alias("s"))
        return repr(total), sorted((r["g"], repr(r["s"])) for r in joined.collect())

    clean = run(inject=False)
    assert not marker.exists()
    retried = run(inject=True)
    assert marker.exists(), "the injected failure never fired"
    assert retried == clean, (retried, clean)
    print("RETRY_OK")
    spark.stop()
    """
)


def test_retried_task_under_lazy_checkpoint_is_bit_identical(tmp_path):
    """A task upstream of a lazy ``localCheckpoint`` that fails once and is
    retried yields bit-identical results in both consumers of the pin."""
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path / "failed_once")],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "RETRY_OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-4000:]


def test_only_pin_module_persists_or_releases():
    pattern = re.compile(r"\.(persist|cache|unpersist)\(")
    offenders = [
        f"{path.relative_to(PACKAGE)}:{n}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.relative_to(PACKAGE).as_posix() != "plans/pin.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not offenders, f"persist/cache/unpersist outside plans/pin.py: {offenders}"
