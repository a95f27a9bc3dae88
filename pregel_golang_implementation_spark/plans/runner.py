"""The superstep runner: BSP loop as iterative DataFrame passes.

Replaces the reference's entire control plane — master barrier state
machine (/root/reference/Master.go:1014-1068), exchange phases
(Master.go:834-845), per-vertex goroutines (Worker.go:695-713), TCP
message routing (Worker.go:799-849) and the full-graph value gather
(Master.go:958-967) — with:

  superstep  = one Spark job        (DAG scheduler is the barrier)
  exchange   = one shuffle          (groupBy(dst) on the messages)
  routing    = hash partitioning    (replaces id % numWorkers, InputParsing.go:63)
  gather     = scalar metrics agg   (never collects vertex state to the driver)
  recovery   = parquet checkpoint + manifest (replaces verticesValue snapshot,
               Master.go:28, and RESTART_STATE restore, Worker.go:641-654)

Scale design (SURVEY.md §4):
  - edges are hash-partitioned by src ONCE and cached; state is produced
    partitioned by id from the combine groupBy, so the state⋈messages join
    needs no extra shuffle (P1 co-partitioning).
  - frontier/delta execution: only changed vertices scatter (P5).
  - small frontiers are broadcast to skip the scatter-join shuffle (P11).
  - lineage is broken every few supersteps via localCheckpoint, or the
    iterative plan grows without bound (P10).
  - AQE handles skew-join splitting; hub salting lives in sources/graphs.py.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec, combine_messages

STATE_SCHEMA_DOC = "state(id: long, value: double, active: boolean, *static)"
MAX_STEPS_PER_ACTION = 6  # in-block plan doubles per chained step


class _MsgGlobalsUnavailable:
    """Globals handed to msg_fn on chained steps 2..K of a block:
    mid-job there IS no driver-side scalar to hand out, and the in-plan
    broadcast globals only reach apply_fn.  Any access fails loudly
    instead of silently scattering with stale values.  Deliberately NOT
    a dict subclass: ``{**g}`` on a real dict subclass reads the empty
    C-level storage directly and never calls ``keys()`` — a plain class
    routes every read path (subscript, get, in, iteration, unpacking,
    len, truthiness) through a raising method."""

    def _raise(self, key="<globals>"):
        raise RuntimeError(
            f"msg_fn reads global {key!r}, which is unavailable on chained "
            "supersteps (globals reach only apply_fn in-plan); run with "
            "steps_per_action=1 for specs whose msg_fn depends on globals"
        )

    def __getitem__(self, key):  # noqa: D105
        self._raise(key)

    def get(self, key, default=None):  # noqa: D102
        self._raise(key)

    # every other read path a msg_fn could take — iteration, membership,
    # keys()/values()/items(), len(), truthiness, {**g} — must raise too,
    # or it sees an EMPTY dict and silently scatters without globals
    def __contains__(self, key):  # noqa: D105
        self._raise(key)

    def __iter__(self):  # noqa: D105
        self._raise()

    def keys(self):  # noqa: D102
        self._raise()

    def values(self):  # noqa: D102
        self._raise()

    def items(self):  # noqa: D102
        self._raise()

    def __len__(self):  # noqa: D105
        self._raise()

    def __bool__(self):  # noqa: D105
        self._raise()


@dataclass
class SuperstepMetrics:
    """Per-superstep counters (north_rule: messages sent, active vertices,
    convergence delta; the reference only ever recorded total wall time —
    Master.go:1052-1053).  Counters are exact per superstep (each step has
    its own Observation) — ``wall_secs`` alone is the block wall divided
    by the block's step count when ``steps_per_action > 1``, since chained
    steps share one job and have no individual wall clock."""

    superstep: int
    active_vertices: int
    messages_sent: int
    max_delta: float
    num_vertices: int
    wall_secs: float
    globals: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "superstep": self.superstep,
            "active_vertices": self.active_vertices,
            "messages_sent": self.messages_sent,
            "max_delta": self.max_delta,
            "num_vertices": self.num_vertices,
            "wall_secs": self.wall_secs,
            "globals": self.globals,
        }


@dataclass
class PregelResult:
    state: DataFrame  # (id, value, active, *static)
    supersteps: int
    converged: bool
    metrics: list[SuperstepMetrics]

    @property
    def total_messages(self) -> int:
        return sum(m.messages_sent for m in self.metrics)


class PregelRunner:
    def __init__(
        self,
        spark: SparkSession,
        spec: AlgorithmSpec,
        num_partitions: int | None = None,
        lineage_break_every: int = 2,  # plan doubles per step; truncate every K
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 0,
        broadcast_frontier_threshold: int = 100_000,
        salt_degree_threshold: int | None = None,
        num_salts: int = 32,
        steps_per_action: int = 1,
    ):
        self.spark = spark
        self.spec = spec
        # None ⇒ SCALE-ADAPTIVE: resolved from the edge count at
        # _prepare_edges time as min(conf, max(8, ⌈edges / 75k⌉)) — the
        # configured shuffle partitioning is an UPPER bound chosen for the
        # cluster, and a small graph (or a shrunken residual/dup graph)
        # paying one task per configured partition spends more wall on
        # task dispatch than on rows (guide §2.2/§6: size partitions to
        # the data, not to a constant; measured at sf0.1/600k edges:
        # 8 partitions beat the conf 32 by 1.5-3s per run on pagerank/CC).
        # Large graphs hit the conf cap and behave exactly as before.
        self._conf_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.num_partitions = num_partitions
        self.lineage_break_every = lineage_break_every
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every
        self.broadcast_frontier_threshold = broadcast_frontier_threshold
        # explicit skew splitting of hub inboxes (north_rule; SURVEY.md §4
        # P7 — the reference routes the whole inbox of a hub to one worker,
        # Worker.go:821). Every combiner is saltable (combine_messages);
        # requires non-negative vertex ids (the salted key space is negative).
        self.salt_degree_threshold = salt_degree_threshold
        self.num_salts = num_salts
        self._salting = bool(salt_degree_threshold)
        self._edges_cached: DataFrame | None = None
        # chain K supersteps into ONE job (each still reports exact
        # metrics via its own Observation): the superstep barrier only
        # needs an ACTION when the driver must read something between
        # steps. At 1000 executors the per-job driver latency is the
        # deep-iteration bottleneck; locally it is the small-graph floor
        # (~1.5s/step). Convergence is still exact for frontier
        # algorithms: steps chained past the fixed point are no-ops
        # (empty frontier → no messages → no change) and are trimmed
        # from the result.
        #
        # Specs WITH global_aggs (PageRank's dangling mass) chain too:
        # the first step of each block reads the previous block's exact
        # globals off its Observation (driver literals — the fast path,
        # see the ApplyFn note in plans/spec.py); each FURTHER chained step
        # computes the globals in-plan as a broadcast 1-row aggregate of
        # the previous step's frame, so the block still needs only one
        # action. Globals are then only available to apply_fn — a msg_fn
        # that reads them raises loudly (no current spec does).
        #
        # WHEN TO CHAIN (measured, r4): chaining trades one driver
        # round-trip (~0.3s) for the in-block cost of sharing the
        # intermediate state between its consumers (a lazy localCheckpoint
        # write + reads). That wins when per-step wall sits near the
        # driver floor (frontier algorithms whose steps shrink to ~1s;
        # sf0.01-scale fixed-iteration runs; very large clusters where
        # scheduling dominates) and LOSES when per-step work is tens of
        # seconds: at 8M vertices / 156M edges on local[16], spa=2
        # measured 5.6M edges/s vs spa=1's 8.4M. Default stays 1; callers
        # opt in where their step wall is floor-bound.
        if steps_per_action > MAX_STEPS_PER_ACTION:
            # each chained step references the previous state twice, so the
            # analyzed plan DOUBLES per step within a block — past ~6
            # unbroken steps Catalyst analysis cost turns exponential (the
            # same hazard lineage_break_every guards across blocks)
            import warnings

            warnings.warn(
                f"steps_per_action={steps_per_action} exceeds the safe "
                f"unbroken-plan depth; clamping to {MAX_STEPS_PER_ACTION} "
                "(the in-block plan doubles per chained step)",
                stacklevel=2,
            )
            steps_per_action = MAX_STEPS_PER_ACTION
        self.steps_per_action = max(1, steps_per_action)
        # SLIM combine exchange: the messages-sent counter (O21) rides a
        # CollectMetrics Observation on the PRE-shuffle message frame and
        # the combine ships no msg_count — (id, msg, count) → (id, msg),
        # 8 fewer bytes/row through the only per-superstep shuffle, with
        # metrics still exact (salting rewrites hub dst ids but never adds
        # or drops an edge, so the pre-shuffle count is unchanged).
        # Unchained runs only: a CollectMetrics inside a chained step's
        # lazy localCheckpoint belongs to an inner query execution and
        # reports ZEROS (measured, r4) — so chained blocks count in the
        # combine.
        self.slim_shuffle = self.steps_per_action == 1

    # ----------------------------------------------------------------- setup

    EDGES_PER_PARTITION = 75_000  # adaptive floor: ≥75k edge rows per task
    MIN_PARTITIONS = 8

    def _prepare_edges(self, edges: DataFrame) -> DataFrame:
        cols = [F.col("src").cast("long"), F.col("dst").cast("long")]
        if "weight" in edges.columns:
            cols.append(F.col("weight").cast("double"))
        else:
            cols.append(F.lit(1.0).alias("weight"))
        e = edges.select(*cols)
        if self._salting:
            # salted hub keys live in the NEGATIVE id space — a graph that
            # already uses negative ids would be silently corrupted (real
            # negative ids get unsalted and re-merged as hub partials). Fail
            # loudly instead: one cheap agg over the raw edges, once per run.
            row = e.agg(F.min("src").alias("_ms"), F.min("dst").alias("_md")).first()
            lo = min(row["_ms"] or 0, row["_md"] or 0)
            if lo < 0:
                raise ValueError(
                    f"hub salting requires non-negative vertex ids (found {lo}); "
                    "disable salt_degree_threshold for graphs with negative ids"
                )
            from pregel_golang_implementation_spark.sources.graphs import salt_hubs

            e, _hubs = salt_hubs(
                e, degree_threshold=self.salt_degree_threshold, num_salts=self.num_salts
            )
        # The layout is sorted within partitions so the cached edge order
        # is a function of the DATA, not of shuffle-fetch interleaving:
        # every float message-sum downstream accumulates in edge order, so
        # in LOCAL mode this is what makes two runs of the same graph
        # (chained vs unchained, resume vs cold) bit-identical regardless
        # of how the CALLER's prep plan happened to order rows.  On a
        # cluster the guarantee ends at the shuffle: the reduce side merges
        # partial sums in shuffle-fetch arrival order, which is not fixed,
        # so float sums may differ in the last ulp from run to run.
        # One per-partition sort, once per run, amortized over every
        # superstep; the per-step joins are hash-based and don't need it.
        order = e.columns  # total order over every column ⇒ ties can't reorder
        if self.num_partitions is None:
            # size the layout to the data (scale-adaptive note in
            # __init__) WITHOUT running the edge lineage twice: cache the
            # un-laid-out edges, count them to pick the partition count,
            # then shuffle FROM the cache into the final layout and drop
            # the staging cache — the lineage executes exactly once.
            e0 = e.persist()
            n_edges = e0.count()
            self.num_partitions = min(
                self._conf_partitions,
                max(self.MIN_PARTITIONS, math.ceil(n_edges / self.EDGES_PER_PARTITION)),
            )
            e = (
                e0.repartition(self.num_partitions, "src")
                .sortWithinPartitions(*order)
                .persist()
            )
            e.count()
            e0.unpersist()
        else:
            e = (
                e.repartition(self.num_partitions, "src")
                .sortWithinPartitions(*order)
                .persist()
            )
            e.count()  # materialize once; every superstep reuses this layout
        self._edges_cached = e  # tracked so run() can unpersist (no leak)
        return e

    @staticmethod
    def vertices_from_edges(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def _init_state(self, vertices: DataFrame) -> DataFrame:
        state = self.spec.init_fn(vertices)
        if "active" not in state.columns:
            state = state.withColumn("active", F.lit(True))
        cols = ["id", "value", "active", *self.spec.static_cols]
        state = state.select(
            F.col("id").cast("long"),
            F.col("value").cast("double"),
            F.col("active").cast("boolean"),
            *[F.col(c) for c in self.spec.static_cols],
        ).select(*cols)
        # persist, NOT eager localCheckpoint (r6): a checkpoint erases the
        # hash(id) partitioning metadata, so superstep 1's state⋈messages
        # joins re-shuffled the state it had JUST laid out — the persist
        # keeps the partitioning visible exactly like every later
        # superstep's state cache.  Materialization rides the next action
        # (collect_globals or the first block's barrier); the loop
        # releases it as the zeroth `prev_cached`.
        return state.repartition(self.num_partitions, "id").persist()

    def _collect_globals(self, state: DataFrame) -> dict:
        if not self.spec.global_aggs:
            return {}
        row = state.agg(
            *[c.alias(k) for k, c in self.spec.global_aggs.items()]
        ).first()
        return row.asDict()

    # ------------------------------------------------------------- superstep

    def _one_superstep(
        self,
        state: DataFrame,
        edges: DataFrame,
        g: dict,
        prev_active: int,
        inplan_globals: bool = False,
        msg_obs: Observation | None = None,
    ) -> DataFrame:
        """One superstep's frame.  ``inplan_globals=True`` (chained steps
        2..K of a block) computes ``spec.global_aggs`` as a broadcast
        1-row aggregate of the INCOMING ``state`` frame instead of driver
        literals — the state entering this step is mid-job, so its
        aggregates cannot be driver scalars without breaking the chain.
        ``msg_obs`` (slim-shuffle mode) counts messages on the pre-shuffle
        frame so the combine can drop its msg_count partial."""
        spec = self.spec
        frontier = state.filter("active") if spec.use_frontier else state
        small_frontier = (
            spec.use_frontier and 0 < prev_active <= self.broadcast_frontier_threshold
        )
        if small_frontier:
            # small frontier: ship it to every edge partition instead of
            # shuffling the (much larger) edge table (SURVEY.md §4 P11)
            frontier = F.broadcast(frontier)
        else:
            # both sides are already hash-partitioned on the join key
            # (edges by src once at setup; state by id from the previous
            # apply join) — a shuffle-hash join skips the per-superstep
            # sort that sort-merge would redo on the full edge table every
            # iteration (iterative workloads never amortize that sort)
            frontier = frontier.hint("shuffle_hash")

        # scatter: the join IS the message send (replaces Vertex.go:54-66 +
        # the worker TCP mesh Worker.go:799-849). Aliased — state lineage can
        # derive from edges (vertices_from_edges), a classic ambiguous
        # self-join otherwise.
        msg_g = _MsgGlobalsUnavailable() if inplan_globals else g
        msgs = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.id") == F.col("e.src"), "inner")
            .select(
                F.col("e.dst").alias("id"),
                spec.msg_fn(F.col("f.value"), F.col("e.weight"), msg_g).alias("msg"),
            )
        )
        if msg_obs is not None:
            # messages-sent observed HERE, map-side, before the partial agg
            # collapses rows — exactly what the combine's count would have
            # totalled, without shipping a count per combined row
            msgs = msgs.observe(msg_obs, F.count(F.lit(1)).alias("_msgs_sent"))
        # combine: sender-side partial agg + final agg — the exchange shuffle
        unsalt = None
        if self._salting:
            from pregel_golang_implementation_spark.sources.graphs import unsalt_ids

            unsalt = lambda df: unsalt_ids(df, id_col="id", num_salts=self.num_salts)  # noqa: E731
        has_count = msg_obs is None
        combined = combine_messages(msgs, spec.combine, has_count, unsalt)

        # apply: fold inbox into state (replaces Vertex.go:68-88); both
        # sides partitioned by id → shuffle-hash, no sort
        joined = state.join(combined.hint("shuffle_hash"), "id", "left")
        if spec.global_aggs and inplan_globals:
            # chained step: globals of the incoming state as a 1-row
            # aggregate cross-joined broadcast — the whole block stays one
            # job.  The agg is a third consumer of the previous step's
            # frame, but its join-input exchanges are deduped by
            # ReuseExchange, so the extra cost is one more pass over the
            # (already-shuffled) state rows, not an extra shuffle — far
            # cheaper than the driver round-trip + codegen recompile that
            # an action-per-step costs on a deep iteration.
            gdf = state.agg(
                *[c.alias(f"_g_{k}") for k, c in spec.global_aggs.items()]
            )
            joined = joined.join(F.broadcast(gdf))
            gcols = {
                k: F.coalesce(F.col(f"_g_{k}"), F.lit(0.0))
                for k in spec.global_aggs
            }
        else:
            # per-superstep scalars as literals (see ApplyFn in plans/spec.py)
            gcols = {k: F.lit(float(g[k] or 0.0)) for k in spec.global_aggs}
        new_value = spec.apply_fn(F.col("value"), F.col("msg"), gcols)
        nmsg = (
            F.coalesce(F.col("msg_count"), F.lit(0)) if has_count else F.lit(0)
        )
        out = joined.select(
            F.col("id"),
            *[F.col(c) for c in spec.static_cols],
            F.col("value").alias("_prev"),
            new_value.cast("double").alias("value"),
            nmsg.cast("long").alias("_nmsg"),
            F.col("msg").alias("_msg"),
        )
        out = out.withColumn(
            "active", spec.active_fn(F.col("_prev"), F.col("value"), F.col("_msg"))
        )
        # inf-inf would be NaN; equal values (incl. ±inf) are delta 0
        out = out.withColumn(
            "_delta",
            F.when(F.col("value").eqNullSafe(F.col("_prev")), F.lit(0.0)).otherwise(
                F.abs(F.col("value") - F.col("_prev"))
            ),
        )
        return out.drop("_msg")

    # ------------------------------------------------------------------ run

    def run(
        self,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        state: DataFrame | None = None,
        start_superstep: int = 0,
        max_supersteps: int | None = None,
    ) -> PregelResult:
        """Run the BSP loop to convergence (no active vertices — the
        reference's all-workers-SEND_EMPTY condition, Master.go:1044-1063)
        or to ``max_supersteps``."""
        spec = self.spec
        max_steps = max_supersteps or spec.max_supersteps
        if state is None and vertices is None and self._salting:
            # derive vertices from the UNSALTED edges — salting (below)
            # rewrites hub dst ids into a reserved negative key space that
            # must never become vertex state
            vertices = self.vertices_from_edges(
                edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
            )
        edges = self._prepare_edges(edges)
        if state is None and vertices is None:
            # unsalted: derive vertices from the PREPARED (cached,
            # partitioned) edge table instead of the raw input — the
            # distinct reads the edge cache rather than re-running the
            # source scan lineage a second time (r6)
            vertices = self.vertices_from_edges(edges)
        try:
            return self._run_loop(
                edges, vertices, state, start_superstep, max_steps
            )
        finally:
            # a long-lived session runs many jobs through many runners —
            # leaked edge caches accumulate dead blocks and evict useful
            # ones. The result state is localCheckpointed before return, so
            # it never depends on these blocks.
            edges.unpersist()
            self._edges_cached = None

    def _run_loop(
        self,
        edges: DataFrame,
        vertices: DataFrame | None,
        state: DataFrame | None,
        start_superstep: int,
        max_steps: int,
    ) -> PregelResult:
        spec = self.spec
        prev_cached = None  # the previous superstep's persisted new_state
        if state is None:
            state = self._init_state(vertices)
            # the init persist is the zeroth block cache: released after
            # the first block materializes, like every later new_state
            prev_cached = state
        g = self._collect_globals(state)
        prev_active = -1  # unknown → don't broadcast on step 1

        metrics: list[SuperstepMetrics] = []
        step = start_superstep
        converged = False
        last_ckpt_step = None
        # persist keeps the hash(id) output partitioning visible to the
        # planner (localCheckpoint would erase it and force a re-shuffle
        # of state on every join). Metrics + global aggregates ride on
        # the SAME materializing action via the Observation API — one
        # job per block of supersteps, no second pass over state (the
        # reference needs a whole master round-trip for this,
        # Master.go:958-967).
        agg_cols = [
            F.sum(F.col("active").cast("long")).alias("_active"),
            F.sum("_nmsg").alias("_msgs"),
            F.max("_delta").alias("_maxdelta"),
            F.count(F.lit(1)).alias("_n"),
        ] + [c.alias(k) for k, c in spec.global_aggs.items()]
        while step - start_superstep < max_steps:
            k_steps = min(
                self.steps_per_action, max_steps - (step - start_superstep)
            )
            t0 = time.monotonic()
            observations: list[Observation] = []
            msg_observations: list[Observation | None] = []
            cur = state
            for j in range(k_steps):
                obs = Observation(f"superstep_{step + j + 1}")
                mobs = (
                    Observation(f"msgs_{step + j + 1}")
                    if self.slim_shuffle
                    else None
                )
                msg_observations.append(mobs)
                # step 1 of the block: exact globals off the previous
                # block's Observation as driver literals (fast path);
                # steps 2..K: globals in-plan from the incoming frame
                full = self._one_superstep(
                    cur,
                    edges,
                    g,
                    prev_active if j == 0 else -1,
                    inplan_globals=(j > 0),
                    msg_obs=mobs,
                )
                if j < k_steps - 1:
                    # LAZY localCheckpoint: pins the intermediate step to
                    # ONE physical RDD, so its chained consumers (next
                    # scatter, next apply probe, in-plan globals agg, the
                    # per-step observe) share a single execution of this
                    # step's apply join via stage-level dedup — still zero
                    # actions, one job per block.  Without it each consumer
                    # re-executed the join (exchanges were reused, joins
                    # were not): measured 1.8× block cost on 8M vertices /
                    # 156M edges at local[16].  A .repartition dedup point
                    # gets optimizer-removed as redundant (state is already
                    # id-partitioned); the lazy checkpoint preserves that
                    # partitioning, so no extra exchange appears.  The
                    # checkpoint must sit BELOW the observe: a CollectMetrics
                    # captured inside the checkpointed RDD belongs to an
                    # inner query execution whose metrics never reach this
                    # block's action (observed: zeros → false convergence).
                    full = full.localCheckpoint(eager=False)
                full = full.observe(obs, *agg_cols)
                observations.append(obs)
                cur = full.select("id", *spec.static_cols, "value", "active")
            new_state = cur.persist()
            new_state.count()  # the BSP barrier action (one per block)
            block_wall = time.monotonic() - t0
            rows = [o.get for o in observations]
            g = {k: rows[-1][k] for k in spec.global_aggs}

            if prev_cached is not None:
                prev_cached.unpersist()  # previous block's blocks — now dead
            prev_cached = new_state
            state = new_state
            step += k_steps
            if self.lineage_break_every and step % self.lineage_break_every < k_steps:
                # lineage break: every superstep references the previous
                # state TWICE (frontier join + apply join), so the analyzed
                # plan tree DOUBLES per step — Catalyst analysis cost grows
                # exponentially past ~6 unbroken steps even though caches
                # stop recomputation. Truncate every few steps; the eager
                # localCheckpoint copies from the still-persisted blocks
                # (cheap) at the cost of re-shuffling state once on the next
                # join (its partitioning metadata is erased). Measured
                # optimum ≈ every 2 steps (SURVEY.md §4 P10).
                state = state.localCheckpoint(eager=True)
                prev_cached.unpersist()
                prev_cached = None

            for j, row in enumerate(rows):
                if msg_observations[j] is not None:
                    # slim mode: the exact count off the pre-shuffle
                    # Observation (the combine shipped no counts)
                    try:
                        msgs_sent = int(
                            msg_observations[j].get["_msgs_sent"] or 0
                        )
                    except Py4JJavaError as exc:
                        # AQE empty-relation propagation: when the message
                        # frame is provably empty (e.g. the final frontier
                        # has no out-edges), the apply join's right subtree
                        # is folded away in the FINAL plan and its
                        # CollectMetrics never reaches observedMetrics —
                        # getRow then hands back a schema-less row whose
                        # toPyRow conversion fails its arity assert.
                        # Pruning fires only for empty subtrees, and
                        # combined is empty iff msgs is empty, so the true
                        # count is exactly 0.  ONLY that signature is
                        # swallowed (ADVICE r5): any other metrics-
                        # retrieval failure is a real error, not a real
                        # zero-message superstep — re-raise it.
                        if "toPyRow" not in str(exc):
                            raise
                        msgs_sent = 0
                else:
                    msgs_sent = int(row["_msgs"] or 0)
                m = SuperstepMetrics(
                    superstep=step - k_steps + j + 1,
                    active_vertices=int(row["_active"] or 0),
                    messages_sent=msgs_sent,
                    max_delta=float(row["_maxdelta"] or 0.0),
                    num_vertices=int(row["_n"]),
                    wall_secs=block_wall / k_steps,
                    # each step's OWN observation row — not the block-final
                    # globals — so chained metrics equal unchained exactly
                    globals={k: row[k] for k in spec.global_aggs},
                )
                metrics.append(m)
                if m.active_vertices == 0:
                    # chained steps past the fixed point were no-ops (empty
                    # frontier → no messages → identical state): report the
                    # true convergence step and drop the no-op tail
                    converged = True
                    step = m.superstep
                    break
            prev_active = metrics[-1].active_vertices

            if self.checkpoint_dir and self.checkpoint_every and (
                step % self.checkpoint_every < k_steps
            ):
                self._write_checkpoint(state, step, metrics)
                last_ckpt_step = step

            if converged:
                break

        if self.checkpoint_dir and last_ckpt_step != step:
            self._write_checkpoint(state, step, metrics)
        if prev_cached is not None:
            # detach the result from the loop's cached blocks (and from the
            # edge cache, unpersisted by run()'s finally): the eager copy is
            # one pass over the final state, after which nothing the caller
            # holds references runner-internal storage.
            state = state.localCheckpoint(eager=True)
            prev_cached.unpersist()
        return PregelResult(
            state=state, supersteps=step - start_superstep, converged=converged,
            metrics=metrics,
        )

    # ----------------------------------------------------------- checkpoint

    def _write_checkpoint(
        self, state: DataFrame, step: int, metrics: list[SuperstepMetrics]
    ) -> None:
        """Durable snapshot + manifest (replaces the master's verticesValue
        map, Master.go:28, and MASTER_SYNC replication, Master.go:810-821).
        The manifest is written AFTER the parquet commit and acts as the
        atomic marker (replaces the Start/Exit write-ahead marker log,
        Master.go:969-1012)."""
        path = os.path.join(self.checkpoint_dir, f"step={step:06d}")
        state.write.mode("overwrite").parquet(os.path.join(path, "state"))
        lineage = [
            {"partition": int(r["pid"]), "rows": int(r["rows"])}
            for r in state.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ]
        manifest = {
            "algorithm": self.spec.name,
            "params": self.spec.params,
            "superstep": step,
            "num_partitions": self.num_partitions,
            "static_cols": list(self.spec.static_cols),
            "partition_lineage": lineage,
            "counters": metrics[-1].to_dict() if metrics else {},
            "history": [m.to_dict() for m in metrics],
        }
        tmp = os.path.join(path, "MANIFEST.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, os.path.join(path, "MANIFEST.json"))

    @staticmethod
    def latest_checkpoint(checkpoint_dir: str) -> tuple[int, dict] | None:
        """Find the newest COMMITTED snapshot (manifest present)."""
        if not os.path.isdir(checkpoint_dir):
            return None
        best = None
        for name in sorted(os.listdir(checkpoint_dir)):
            mf = os.path.join(checkpoint_dir, name, "MANIFEST.json")
            if name.startswith("step=") and os.path.exists(mf):
                with open(mf) as f:
                    manifest = json.load(f)
                best = (manifest["superstep"], manifest)
        return best

    def resume(self, edges: DataFrame, max_supersteps: int | None = None) -> PregelResult:
        """Resume from the last committed checkpoint (reference semantics:
        restart from the last completed superstep's values; in-flight
        messages are pure functions of state so re-scatter is free —
        Worker.go:641-654, SURVEY.md §4.4)."""
        found = self.latest_checkpoint(self.checkpoint_dir)
        if found is None:
            return self.run(edges, max_supersteps=max_supersteps)
        step, manifest = found
        # a checkpoint dir written by a DIFFERENT algorithm/spec would
        # silently resume into wrong results — the manifest records
        # everything needed to refuse (reference analogue: RESTART_STATE
        # only ever restores the same hardcoded program, Worker.go:641-654;
        # a multi-algorithm engine must check).
        want = {
            "algorithm": self.spec.name,
            "params": json.loads(json.dumps(self.spec.params)),
            "static_cols": list(self.spec.static_cols),
        }
        got = {k: manifest.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"checkpoint at {self.checkpoint_dir!r} was written by a "
                f"different spec: manifest has {got}, runner has {want}"
            )
        if self.num_partitions is None:
            # adopt the snapshot's layout — the adaptive sizing already
            # ran (and was recorded) when the checkpoint was written
            self.num_partitions = int(manifest["num_partitions"])
        path = os.path.join(self.checkpoint_dir, f"step={step:06d}", "state")
        state = (
            self.spark.read.parquet(path)
            .repartition(self.num_partitions, "id")
            .localCheckpoint(eager=True)
        )
        return self.run(
            edges, state=state, start_superstep=step, max_supersteps=max_supersteps
        )
