"""Spans around the library's public entry points, with Spark counters.

Each span gets its own Spark job group while it is open; the parent's
group is restored when it closes.  When a span closes, the jobs of its
group are read from Spark's status store (which fills with the UI off),
reduced to a few counters, and the raw entries are dropped.  A span's
counters therefore cover the jobs it ran itself, not those of its
children.  The counter read happens after the span's end time is taken,
so its cost shows in the parent's self time.

``NullTracer`` is what the untraced run uses: same interface, no work.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "executor_run_s",
    "core_busy_frac",
    "task_skew",
)
_MB = 1024.0 * 1024.0


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        yield {"attrs": {}}

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    """Records spans in memory; ``dump`` writes them out at the end."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._mapper = None
        self._mapper_ctx = None

    # ------------------------------------------------------------- spans

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent,
            "group": f"perfbench-{os.getpid()}-{len(self.spans)}",
            "start": time.monotonic(),
            "end": None,
            "attrs": dict(attrs),
            "spark": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        _set_group(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            sc = SparkContext._active_spark_context
            if sc is not None:
                rec["spark"] = self._read_group(sc, rec["group"], rec["end"] - rec["start"])
            if parent is None:
                _set_group(None, None)
            else:
                _set_group(self.spans[parent]["group"], self.spans[parent]["name"])

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def subtree(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s["id"] for s in self.children(sid))
        return out

    def self_time(self, span: dict) -> float:
        wall = span["end"] - span["start"]
        return wall - sum(c["end"] - c["start"] for c in self.children(span["id"]))

    def dump(self, path: str, extra: dict) -> None:
        out = [
            dict(s, wall_s=s["end"] - s["start"], self_s=self.self_time(s))
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(extra, spans=out), f, indent=1, default=str)

    # ------------------------------------------------ library entry points

    def install(self) -> None:
        """Wrap the entry points that run inside other entry points, so
        they show up as child spans: ``PregelRunner.run`` (called by every
        superstep operator) and the two corpus stages that
        ``corpus_edge_table`` calls through its module globals."""
        from pregel_golang_implementation_spark.plans import runner as runner_mod
        from pregel_golang_implementation_spark.sources import corpus as corpus_mod

        self._patch(runner_mod.PregelRunner, "run", "runner", "runner.run", _runner_attrs)
        for fn in ("assign_vertex_ids", "extract_import_edges"):
            self._patch(corpus_mod, fn, "sources.corpus", f"sources.corpus.{fn}", None)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _patch(self, owner, attr: str, layer: str, name: str, result_attrs) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name, layer) as rec:
                out = orig(*args, **kwargs)
                if result_attrs is not None:
                    rec["attrs"].update(result_attrs(out))
                return out

        wrapped.__wrapped__ = orig
        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    # ------------------------------------------------------ status store

    def _json(self, sc: SparkContext, obj) -> dict:
        if self._mapper_ctx is not sc:
            jvm = sc._jvm
            scala_module = getattr(
                getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
                "MODULE$",
            )
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
                scala_module
            )
            self._mapper_ctx = sc
        return json.loads(self._mapper.writeValueAsString(obj))

    def _read_group(self, sc: SparkContext, group: str, wall: float) -> dict:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        job_ids = list(sc._jsc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        evicted = 0
        for jid in job_ids:
            try:
                stage_ids.update(self._json(sc, store.job(jid))["stageIds"])
            except Py4JJavaError:  # evicted from the bounded store
                evicted += 1
        stages = []
        for sid in sorted(stage_ids):
            try:
                sd = self._json(sc, store.lastStageAttempt(sid))
            except Py4JJavaError:  # evicted from the bounded store
                evicted += 1
                continue
            if sd["status"] != "SKIPPED":
                stages.append(sd)
        run_ms = sum(s["executorRunTime"] for s in stages)
        out = {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / _MB,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / _MB,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages)
            / _MB,
            "executor_run_s": run_ms / 1000.0,
            "core_busy_frac": (run_ms / 1000.0) / (self.cores * wall) if wall > 0 else 0.0,
            "task_skew": 0.0,
            "longest_stage_run_s": 0.0,
            "evicted": evicted,
        }
        if stages:
            longest = max(stages, key=lambda s: s["executorRunTime"])
            out["longest_stage_run_s"] = longest["executorRunTime"] / 1000.0
            out["task_skew"] = self._task_skew(sc, store, longest)
        return out

    def _task_skew(self, sc: SparkContext, store, stage: dict) -> float:
        """max / median task run time of one stage (1.0 = no skew)."""
        q = sc._gateway.new_array(sc._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(stage["stageId"], stage["attemptId"], q)
        if not summary.isDefined():
            return 0.0
        med, top = self._json(sc, summary.get())["executorRunTime"]
        return top / med if med > 0 else 1.0


def _set_group(group: str | None, description: str | None) -> None:
    sc = SparkContext._active_spark_context
    if sc is None:
        return
    if group is None:
        sc._jsc.clearJobGroup()
    else:
        sc.setJobGroup(group, description)


def _runner_attrs(result) -> dict:
    walls = [m.wall_secs for m in result.metrics]
    return {
        "supersteps": result.supersteps,
        "messages": result.total_messages,
        "active_vertex_steps": sum(m.active_vertices for m in result.metrics),
        "superstep_walls": walls,
        "loop_s": sum(walls),
    }


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
