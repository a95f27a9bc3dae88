"""A/B per-superstep overhead knobs (r6).  Usage:
  python tools/ab_steps_r6.py <variant>
variants: base, lb1, lb3, lb4, sf001
Prints one JSON line with warm pagerank total + step walls.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VARIANTS = ("base", "lb1", "lb3", "lb4", "sf001")
variant = sys.argv[1] if len(sys.argv) > 1 else "base"
if variant not in VARIANTS:
    sys.exit(f"unknown variant {variant!r}; expected one of {VARIANTS}")

from pregel_golang_implementation_spark.operators import pagerank
from pregel_golang_implementation_spark.session import get_spark
from pregel_golang_implementation_spark.sources.graphs import (
    edges_from_lineitem,
    synthetic_edges,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if variant == "sf001":
        sf_dir = "/root/testdata/sf0.01"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name=f"ab_{variant}", cores=cpus, shuffle_partitions=cpus,
        tmpfs_local_dir=True,
    )
    kw = {}
    if variant == "lb1":
        kw["lineage_break_every"] = 1
    elif variant == "lb3":
        kw["lineage_break_every"] = 3
    elif variant == "lb4":
        kw["lineage_break_every"] = 4

    edges = edges_from_lineitem(spark, sf_dir).persist()
    edges.count()
    warm = synthetic_edges(spark, num_vertices=2000, avg_degree=4, seed=7)
    pagerank(spark, warm, tol=0.0, max_supersteps=2)

    best = None
    for run in range(2):
        t0 = time.monotonic()
        pr = pagerank(spark, edges, tol=1e-6, max_supersteps=100, **kw)
        pr.state.count()
        total = time.monotonic() - t0
        steps = [round(m.wall_secs, 3) for m in pr.metrics]
        rec = {
            "variant": variant,
            "run": run,
            "total": round(total, 3),
            "supersteps": pr.supersteps,
            "sum_steps": round(sum(steps), 3),
            "prep_tail": round(total - sum(steps), 3),
            "loadavg": round(os.getloadavg()[0], 2),
        }
        if best is None or rec["total"] < best["total"]:
            best = rec
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
