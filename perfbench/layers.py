"""Per-layer metrics of a traced run, reduced from its spans.

Layers are the library's modules: ``session``, ``sources.graphs``,
``sources.corpus``, ``operators``, ``runner`` (``plans.runner``; the
``plans.spec`` combiners run inside its spans) and ``spark`` (the jobs
under every span).  Set-up layers come from the run's one set-up; the
others are the median over its timed iterations, except the superstep
percentiles, which pool every superstep of the run.
"""

from __future__ import annotations

import statistics

from perfbench.trace import COUNTERS, quantile

SPARK_LAYERS = ("sources.graphs", "sources.corpus", "operators", "runner")
COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "executor_run_s": "s",
    "core_busy_frac": "ratio",
    "task_skew": "ratio",
}
COUNT_METRICS = ("runner.supersteps", "runner.messages", "runner.active_vertex_steps",
                 "operators.triangles.count")


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


def _spark(spans: list[dict], busy_wall: float, cores: int) -> dict:
    """Sum the spans' own-group counters; busy and skew over the whole set."""
    read = [s["spark"] for s in spans if s["spark"]]
    out = {c: sum(r[c] for r in read) for c in COUNTERS if c not in ("core_busy_frac", "task_skew")}
    out["core_busy_frac"] = out["executor_run_s"] / (cores * busy_wall) if busy_wall > 0 else 0.0
    longest = max(read, key=lambda r: r["longest_stage_run_s"], default=None)
    out["task_skew"] = longest["task_skew"] if longest else 0.0
    return out


def _named(spans: list[dict], name: str) -> float:
    return sum(_wall(s) for s in spans if s["name"] == name)


def layer_metrics(tracer, iters: list[dict], root_id: int, cores: int) -> dict:
    """{metric name: (value, unit)} for one traced run."""
    setup = next(s for s in tracer.children(root_id) if s["name"] == "setup")
    setup_spans = tracer.subtree(setup["id"])
    graphs = [x for x in setup_spans if x["layer"] == "sources.graphs"]
    values = {
        "session.start_s": sum(_wall(x) for x in setup_spans if x["layer"] == "session"),
        "sources.graphs.load_s": sum(_wall(x) for x in graphs),
    }
    busy = sum(tracer.self_time(x) for x in graphs)
    values.update({f"sources.graphs.spark.{k}": v for k, v in _spark(graphs, busy, cores).items()})

    per_iter, superstep_walls = [], []
    for d in iters:
        it_span = tracer.spans[d["span"]]
        spans = tracer.subtree(it_span["id"])
        by_layer = {layer: [x for x in spans if x["layer"] == layer] for layer in SPARK_LAYERS}
        runs = by_layer["runner"]
        walls = [w for r in runs for w in r["attrs"].get("superstep_walls", [])]
        superstep_walls.extend(walls)
        run_s = sum(_wall(r) for r in runs)
        loop_s = sum(r["attrs"].get("loop_s", 0.0) for r in runs)
        row = {
            "sources.corpus.edge_table_s": _named(spans, "sources.corpus.corpus_edge_table"),
            "sources.corpus.sha256_check_s": _named(spans, "sources.corpus.verify_content_sha256"),
            "operators.wall_s": sum(_wall(x) for x in by_layer["operators"]),
            "operators.prep_s": sum(_wall(x) for x in by_layer["operators"]) - run_s,
            "operators.triangles.count_s": _named(spans, "operators.triangle_count"),
            "operators.triangles.per_vertex_s": _named(spans, "operators.triangles_per_vertex"),
            "operators.triangles.count": sum(
                x["attrs"].get("triangles", 0) for x in spans if x["name"] == "operators.triangle_count"
            ),
            "runner.run_s": run_s,
            "runner.loop_s": loop_s,
            "runner.other_s": run_s - loop_s,
            "runner.first_superstep_s": (
                runs[0]["attrs"]["superstep_walls"][0]
                if runs and runs[0]["attrs"].get("superstep_walls")
                else 0.0
            ),
            "runner.supersteps": sum(r["attrs"].get("supersteps", 0) for r in runs),
            "runner.messages": sum(r["attrs"].get("messages", 0) for r in runs),
            "runner.active_vertex_steps": sum(r["attrs"].get("active_vertex_steps", 0) for r in runs),
        }
        for layer in ("sources.corpus", "operators", "runner"):
            busy = sum(tracer.self_time(x) for x in by_layer[layer])
            row.update(
                {f"{layer}.spark.{k}": v for k, v in _spark(by_layer[layer], busy, cores).items()}
            )
        row.update({f"spark.{k}": v for k, v in _spark(spans, _wall(it_span), cores).items()})
        per_iter.append(row)

    values.update({k: statistics.median(r[k] for r in per_iter) for k in per_iter[0]})
    values["runner.superstep_p50_s"] = quantile(superstep_walls, 0.5) if superstep_walls else 0.0
    values["runner.superstep_p90_s"] = quantile(superstep_walls, 0.9) if superstep_walls else 0.0
    values["trace.wall_s"] = statistics.median(d["wall_s"] for d in iters)

    root = tracer.spans[root_id]
    self_sum = sum(tracer.self_time(s) for s in tracer.subtree(root_id))
    if abs(self_sum - _wall(root)) > 1e-6:
        raise AssertionError(f"span self times sum to {self_sum}, root span is {_wall(root)}")
    return {k: (v, _unit(k)) for k, v in sorted(values.items())}


def _unit(name: str) -> str:
    if name in COUNT_METRICS:
        return "count"
    if ".spark." in name or name.startswith("spark."):
        return COUNTER_UNITS[name.rsplit(".", 1)[1]]
    return "s"
