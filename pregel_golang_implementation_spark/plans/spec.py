"""Algorithm specification: the vertex program as Column expressions.

The reference's only extension point is the hand-written Go vertex program
``Compute()`` (/root/reference/Vertex.go:68-88) plus its scatter
``SendMessageToWorker()`` (Vertex.go:54-66).  Here an algorithm is a pure
declarative 5-tuple — (init, msg, combine, apply, halt) — over DataFrame
columns, so Catalyst/Tungsten (codegen, partial aggregation, AQE) execute
it; no per-row Python anywhere on the hot path.

Semantics contract (mirrors the reference's superstep, minus its races —
SURVEY.md §2.3, §7 "hard parts (f)"):
  msg       = msg_fn(value(src), weight(src→dst))       # scatter, Vertex.go:56-61
  inbox(v)  = combine over all msgs targeting v         # fold, Vertex.go:71-80
  value'    = apply_fn(value(v), inbox(v), globals)     # relax, Vertex.go:74-77
  active'   = active_fn(value, value', inbox)           # vote-to-halt, Worker.go:707
  halt when no vertex is active                          # Master.go:1044-1063
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (src_value, edge_weight, globals as python floats) -> message value
MsgFn = Callable[[Column, Column, dict], Column]
# (old_value, combined_msg_or_null, globals as COLUMNS) -> new value.
# Globals reach apply as per-superstep F.lit() literals (measured faster
# than a broadcast 1-row globals frame despite recompiling codegen every
# superstep: ~3 s/step vs 5-33 s/step on 19M edges, local[16]); chained
# steps 2..K of a block compute them in-plan instead (see runner).
ApplyFn = Callable[[Column, Column, dict], Column]
# (old_value, new_value, combined_msg_or_null) -> active boolean
ActiveFn = Callable[[Column, Column, Column], Column]
# state DataFrame -> scalar aggregate Column (computed once per superstep)
GlobalAgg = Callable[[], Column]

# The message combiners a spec can name.  The reference folds its inbox
# at the receiver only (Vertex.go:71-80); here every combiner is an
# aggregate Spark partial-combines map-side (SURVEY.md §4 P2).
COMBINERS = ("min", "sum", "mode")


def combine_messages(
    msgs: DataFrame,
    op: str,
    with_count: bool,
    unsalt: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """Fold the inbox: DataFrame(id, msg) -> (id, msg [, msg_count]),
    exactly one row per id.

    ``op`` is one of ``COMBINERS``:
      - ``min``/``sum``: one algebraic aggregate.
      - ``mode``: most frequent message, ties → smallest value.  Counts
        per (id, msg), then the winner is max by (cnt, -msg) as ONE
        aggregate (struct ordering is field-lexicographic).  No window:
        an aggregate partial-combines map-side and has no per-id sort, so
        a hub whose inbox holds millions of distinct labels costs one
        running max per map partition, not a single-task sort.

    ``with_count`` adds ``msg_count`` (messages folded into the row).  It
    only feeds the messages-sent counter, so the runner asks for it only
    when it cannot count on the pre-shuffle frame instead; without it the
    exchange row is (id, msg), 8 bytes/row lighter.

    ``unsalt`` (hub salting) maps salted ids back to real ids.  Hub inboxes
    were split across salt replicas in the negative id space; ALL partials
    are unsalted (non-hub ids pass through) and re-merged in ONE
    second-level aggregate over ~V rows, whose groupBy("id") output stays
    hash-partitioned for the apply join.  A filter/union formulation runs
    the first aggregate twice and loses that partitioning — measured 2-3×
    slower per superstep on the Zipf skew bench.  Mode winners can't be merged across replicas, so mode carries its
    (msg, cnt) partials across the unsalt boundary and re-sums them."""
    if op == "mode":
        counts = msgs.groupBy("id", "msg").agg(F.count(F.lit(1)).alias("cnt"))
        if unsalt is not None:
            counts = unsalt(counts).groupBy("id", "msg").agg(F.sum("cnt").alias("cnt"))
        aggs = [F.max(F.struct(F.col("cnt"), (-F.col("msg")).alias("_neg"))).alias("_w")]
        if with_count:
            aggs.append(F.sum("cnt").alias("msg_count"))
        return counts.groupBy("id").agg(*aggs).select(
            "id", (-F.col("_w._neg")).alias("msg"), *(["msg_count"] if with_count else [])
        )
    fold = {"min": F.min, "sum": F.sum}[op]
    aggs = [fold("msg").alias("msg")]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("msg_count"))
    out = msgs.groupBy("id").agg(*aggs)
    if unsalt is not None:
        aggs = [fold("msg").alias("msg")]
        if with_count:
            aggs.append(F.sum("msg_count").alias("msg_count"))
        out = unsalt(out).groupBy("id").agg(*aggs)
    return out


def default_active(old: Column, new: Column, msg: Column) -> Column:
    """Reference halt-voting: a vertex stays active iff its value changed
    this superstep (Vertex.go:82-85 'updated' + Worker.go:707 IDLE)."""
    return ~(new.eqNullSafe(old))


@dataclass
class AlgorithmSpec:
    """A Pregel vertex program as declarative column expressions.

    ``init_fn`` takes the vertices DataFrame (at least column ``id``) and
    returns (id, value [, static columns...]).  Static columns listed in
    ``static_cols`` (e.g. a dangling flag for PageRank) are carried through
    every superstep unchanged.
    """

    name: str
    init_fn: Callable[[DataFrame], DataFrame]
    msg_fn: MsgFn
    # message combiner, one of COMBINERS (see combine_messages)
    combine: str
    apply_fn: ApplyFn
    active_fn: ActiveFn = default_active
    static_cols: tuple[str, ...] = ()
    # scatter only changed vertices (delta/frontier execution — SURVEY.md §4 P5).
    # Must be False when combine needs messages from ALL neighbors every
    # round (e.g. mode for LPA), not just changed ones.
    use_frontier: bool = True
    # name -> state aggregate recomputed each superstep, available to
    # msg_fn/apply_fn via the globals dict (e.g. PageRank dangling mass).
    global_aggs: dict[str, Column] = field(default_factory=dict)
    max_supersteps: int = 200
    params: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.combine not in COMBINERS:
            raise ValueError(
                f"AlgorithmSpec {self.name!r}: combine must be one of "
                f"{COMBINERS}, got {self.combine!r}"
            )
