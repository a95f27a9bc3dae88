"""The benchmark's workloads: seeded inputs, timed calls, reference checks.

Every workload goes through the library's public API only.  ``setup``
generates the seeded inputs, then loads and materializes them;
``warm_up`` runs the calls untimed first; ``reference``
computes the reference answers (untimed); ``iteration`` makes the timed
algorithm calls; ``check`` judges each call's result.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pregel_golang_implementation_spark import operators as ops
from pregel_golang_implementation_spark import sources
from perfbench import reference as ref

PART_OFFSET = 10_000_000  # edges_from_lineitem's part-vertex id offset
# The lineitem graph is fixed; the run seed only relabels its vertices.
LINEITEM_GRAPH_SEED = 20_240_101
PR_TOL = 1e-6  # BASELINE.json's PageRank fixed point
PR_DAMPING = 0.85
PR_MAX_STEPS = 100


@dataclasses.dataclass
class Call:
    """One timed algorithm call: from the call until its result is in
    driver memory."""

    name: str
    result: object = None
    edge_steps: int = 0
    seconds: float = 0.0
    end: float = 0.0  # monotonic time the call returned or raised


@contextlib.contextmanager
def timed_call(calls: list[Call], name: str):
    """Record a call before it runs, so one that raises is still attempted."""
    call = Call(name)
    calls.append(call)
    t0 = time.monotonic()
    try:
        yield call
    finally:
        call.end = time.monotonic()
        call.seconds = call.end - t0


class Workload:
    name = ""

    def __init__(self, size: dict, seed: int, workdir: str, cores: int):
        self.size = size
        self.seed = seed
        self.workdir = workdir
        self.cores = cores
        self.inputs: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def setup(self, spark: SparkSession, tr) -> None:
        raise NotImplementedError

    def warm_up(self, spark: SparkSession, tr) -> None:
        """Run the workload's calls, as part of set-up, so the first timed
        call does not pay for first-use class loading, code generation and
        JIT compilation."""
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def iteration(self, spark: SparkSession, tr, calls: list[Call]) -> None:
        raise NotImplementedError

    def check(self, call: Call) -> str | None:
        """None if the call's result matches the reference, else why not."""
        raise NotImplementedError

    def corrupt(self, call: Call) -> None:
        """Damage a result in place (self-test of the checks)."""
        raise NotImplementedError


def _tiny_graph(spark: SparkSession) -> DataFrame:
    """64 vertices with two out-edges each."""
    v = F.col("id")
    return spark.range(64).select(v.alias("src"), ((v * 7 + 1) % 64).alias("dst")).union(
        spark.range(64).select(v.alias("src"), ((v * 13 + 5) % 64).alias("dst"))
    )


def _collect(df: DataFrame, *cols: str) -> pd.DataFrame:
    return df.select(*cols).toPandas()


def _compare_exact(got: pd.DataFrame, want: pd.DataFrame, key: str, col: str) -> str | None:
    g = got.set_index(key)[col].astype(np.int64).sort_index()
    w = want.set_index(key)[col].astype(np.int64).sort_index()
    if len(g) != len(w) or not g.index.equals(w.index):
        return f"{col}: vertex set differs ({len(g)} vs {len(w)} rows)"
    bad = int((g.values != w.values).sum())
    return f"{col}: {bad} of {len(w)} values differ" if bad else None


# ------------------------------------------------------------ pagerank_dense


class PageRankDense(Workload):
    name = "pagerank_dense"

    def setup(self, spark, tr) -> None:
        # A synthetic stand-in for TPC-H lineitem, not the real table: order
        # and part keys drawn uniformly, in TPC-H proportions (6M lines, 1.5M
        # orders and 200k parts per unit of scale factor).
        sf = self.size["sf"]
        n_rows, n_orders, n_parts = int(6_000_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
        g = np.random.default_rng(LINEITEM_GRAPH_SEED)
        order = g.integers(0, n_orders, n_rows)
        part = g.integers(0, n_parts, n_rows)
        line = g.integers(1, 8, n_rows).astype(np.int32)
        relabel = np.random.default_rng(self.seed)
        self.lineitem = pd.DataFrame(
            {
                "l_orderkey": relabel.permutation(n_orders)[order],
                "l_partkey": relabel.permutation(n_parts)[part],
                "l_linenumber": line,
            }
        )
        with tr.span("inputs.lineitem_parquet", "inputs"):
            self.lineitem.to_parquet(self.path("lineitem.parquet"), index=False)
        with tr.span("sources.graphs.edges_from_lineitem", "sources.graphs"):
            edges = sources.edges_from_lineitem(spark, self.workdir).persist()
            edges.count()
        self.inputs = {"edges": edges}

    def warm_up(self, spark, tr) -> None:
        # A superstep pair on a tiny graph, as the frozen bench.py does.
        # Three supersteps on the real graph left the JIT half warm, and the
        # timed call then swung between 22 and 35 s from run to run.
        with tr.span("warmup.pagerank", "bench"):
            ops.pagerank(spark, _tiny_graph(spark), tol=0.0, max_supersteps=2)

    def reference(self) -> None:
        src = self.lineitem["l_orderkey"].to_numpy(np.int64)
        dst = self.lineitem["l_partkey"].to_numpy(np.int64) + PART_OFFSET
        self.ref_ranks, _ = ref.pagerank(src, dst, PR_DAMPING, PR_TOL, PR_MAX_STEPS)
        self.layout_edges = len(np.unique(np.stack([src, dst], axis=1), axis=0))

    def iteration(self, spark, tr, calls) -> None:
        with timed_call(calls, "pagerank") as call:
            with tr.span("operators.pagerank", "operators"):
                res = ops.pagerank(spark, self.inputs["edges"], damping=PR_DAMPING, tol=PR_TOL)
            call.result = _collect(res.state, "id", "value")
            call.edge_steps = self.layout_edges * res.supersteps

    def check(self, call) -> str | None:
        got = call.result.set_index("id")["value"].sort_index()
        want = self.ref_ranks.set_index("id")["value"].sort_index()
        if len(got) != len(want) or not got.index.equals(want.index):
            return f"rank vertex set differs ({len(got)} vs {len(want)} rows)"
        err = float(np.abs(got.values - want.values).max())
        mass = float(got.values.sum())
        if err > PR_TOL:
            return f"max rank error {err:.3e} > {PR_TOL}"
        if abs(mass - 1.0) > PR_TOL:
            return f"rank mass {mass!r} != 1"
        return None

    def corrupt(self, call) -> None:
        call.result.loc[call.result.index[0], "value"] += 1e-3


# --------------------------------------------------------- wedge_zipf_corpus


class WedgeZipfCorpus(Workload):
    name = "wedge_zipf_corpus"

    def setup(self, spark, tr) -> None:
        with tr.span("sources.graphs.synthetic_edges", "sources.graphs"):
            zipf = sources.synthetic_edges(
                spark,
                num_vertices=self.size["zipf_vertices"],
                avg_degree=8,
                dst_skew=4,
                seed=self.seed,
            ).persist()
            zipf.count()
        with tr.span("inputs.synthetic_corpus", "inputs"):
            corpus, golden, manifest = sources.synthetic_corpus(
                spark,
                num_repos=self.size["repos"],
                files_per_repo=self.size["files_per_repo"],
                seed=self.seed,
            )
            corpus.write.parquet(self.path("corpus.parquet"))
            manifest.write.parquet(self.path("manifest.parquet"))
            self.golden = golden.toPandas()
        with tr.span("inputs.load_parquet", "inputs"):
            self.inputs = {
                name: spark.read.parquet(self.path(f"{name}.parquet")).persist()
                for name in ("corpus", "manifest")
            }
            for df in self.inputs.values():
                df.count()
        self.inputs["zipf"] = zipf

    def warm_up(self, spark, tr) -> None:
        # Every timed call once on the real inputs: at 30k vertices, after a
        # warm-up on tiny inputs the timed calls took 15-20 s, against
        # 11-14 s after this one.
        # corpus_edge_table's import extraction also starts one Python
        # worker per core.
        with tr.span("warmup.calls", "bench"):
            ops.triangle_count(spark, self.inputs["zipf"])
            ops.triangles_per_vertex(spark, self.inputs["zipf"]).count()
            corpus = self.inputs["corpus"]
            sources.verify_content_sha256(corpus, self.inputs["manifest"]).count()
            sources.corpus_edge_table(corpus)[0].count()

    def reference(self) -> None:
        e = _collect(self.inputs["zipf"], "src", "dst")
        src, dst = e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)
        self.ref_total, self.ref_per_vertex = ref.triangles(src, dst, self.cores)
        canon = np.unique(np.stack([np.minimum(src, dst), np.maximum(src, dst)], axis=1), axis=0)
        self.canonical_edges = int((canon[:, 0] != canon[:, 1]).sum())

        self.ref_ids = ref.corpus_ids(_collect(self.inputs["corpus"], "repo", "path"))
        key = self.ref_ids.set_index(["repo", "path"])["id"]
        g = self.golden
        gsrc = key.loc[list(zip(g["src_repo"], g["src_path"]))].to_numpy(np.int64)
        gdst = key.loc[list(zip(g["dst_repo"], g["dst_path"]))].to_numpy(np.int64)
        self.ref_edges = set(zip(gsrc.tolist(), gdst.tolist()))

    def iteration(self, spark, tr, calls) -> None:
        edges = self.inputs["zipf"]
        with timed_call(calls, "triangle_count") as call:
            with tr.span("operators.triangle_count", "operators") as span:
                call.result = ops.triangle_count(spark, edges)
                span["attrs"]["triangles"] = call.result
            call.edge_steps = self.canonical_edges
        with timed_call(calls, "triangles_per_vertex") as call:
            with tr.span("operators.triangles_per_vertex", "operators"):
                per_vertex = ops.triangles_per_vertex(spark, edges)
            call.result = _collect(per_vertex, "id", "triangles")
            call.edge_steps = self.canonical_edges

        corpus = self.inputs["corpus"]
        with timed_call(calls, "verify_content_sha256") as call:
            with tr.span("sources.corpus.verify_content_sha256", "sources.corpus"):
                call.result = sources.verify_content_sha256(corpus, self.inputs["manifest"]).count()
        with timed_call(calls, "corpus_edge_table") as call:
            with tr.span("sources.corpus.corpus_edge_table", "sources.corpus"):
                corpus_edges, ids = sources.corpus_edge_table(corpus)
                corpus_edges = corpus_edges.persist()
                corpus_edges.count()
            call.result = (_collect(corpus_edges, "src", "dst"), _collect(ids, "repo", "path", "id"))
            call.edge_steps = len(call.result[0])
            corpus_edges.unpersist()

    def check(self, call) -> str | None:
        if call.name == "triangle_count":
            ok = call.result == self.ref_total
            return None if ok else f"triangle count {call.result} != {self.ref_total}"
        if call.name == "triangles_per_vertex":
            return _compare_exact(call.result, self.ref_per_vertex, "id", "triangles")
        if call.name == "verify_content_sha256":
            return None if call.result == 0 else f"{call.result} sha256 mismatches"
        edges, ids = call.result
        if not ids.sort_values("id").reset_index(drop=True).equals(self.ref_ids):
            return "vertex ids differ from the (repo, path) rank"
        got = set(zip(edges["src"].tolist(), edges["dst"].tolist()))
        if len(edges) != len(got) or got != self.ref_edges:
            return (
                f"edge set differs: {len(got ^ self.ref_edges)} edges in one set only, "
                f"{len(edges) - len(got)} duplicates"
            )
        return None

    def corrupt(self, call) -> None:
        if call.name in ("triangle_count", "verify_content_sha256"):
            call.result += 1
        elif call.name == "triangles_per_vertex":
            call.result.loc[call.result.index[0], "triangles"] += 1
        else:
            edges, ids = call.result
            call.result = (edges.iloc[1:], ids)


WORKLOADS = {w.name: w for w in (PageRankDense, WedgeZipfCorpus)}

# "full" is what BENCHMARK.json runs; "smoke" is the self-test's small input.
SIZES = {
    "full": {"sf": 0.03, "zipf_vertices": 20_000, "repos": 10, "files_per_repo": 150},
    "smoke": {"sf": 0.002, "zipf_vertices": 3_000, "repos": 4, "files_per_repo": 40},
}
