"""Dump .explain("formatted") for every query path touched in r6.

Usage: python tools/dump_r6_plans.py <repo_path> <suffix> [out_dir]
  repo_path: repo root to import the engine from (round-start worktree
             for *_before.txt, /root/repo for *_after.txt)
  suffix:    "before" | "after"
  out_dir:   default /root/repo/plans/r06

Each dump is the formatted physical plan of the LAZY frame the operator
builds (for operators that now materialize eagerly, the after-plan shows
the ExistingRDD scan that proves the materialization; the shape evidence
for those lives in the before-plan + the operator code).  A short header
records Exchange / scan / join-node counts so diffs read at a glance.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

repo = sys.argv[1]
suffix = sys.argv[2]
out_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/plans/r06"
sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402

from pregel_golang_implementation_spark.session import get_spark  # noqa: E402
from pregel_golang_implementation_spark.sources.graphs import (  # noqa: E402
    edges_from_lineitem,
)

SF = "/root/testdata/sf0.01"


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump(name: str, df) -> None:
    plan = grab(df)
    # InMemoryRelation prints its cached child plan inline, which
    # inflates naive whole-text counts — the "live" line below counts
    # only nodes OUTSIDE cached subtrees (execution reads the
    # InMemoryTableScan leaves), which is the honest shape for cached
    # inputs.
    tree_lines = plan.split("\n\n", 1)[0].splitlines()
    live_lines: list[str] = []
    skip_indent: int | None = None
    for ln in tree_lines:
        indent = len(ln) - len(ln.lstrip(" :+-*"))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in ln:
            skip_indent = indent
            continue
        live_lines.append(ln)
    tree = "\n".join(live_lines)
    hdr = (
        f"== {name} ({suffix}) ==\n"
        f"whole-text: Exchange={plan.count('Exchange')} "
        f"ReusedExchange={plan.count('ReusedExchange')} "
        f"ScanParquet={plan.count('Scan parquet')} "
        f"ScanRDD={plan.count('Scan ExistingRDD')} "
        f"SMJ={plan.count('SortMergeJoin')} "
        f"SHJ={plan.count('ShuffledHashJoin')} "
        f"BHJ={plan.count('BroadcastHashJoin')} "
        f"BatchEvalPython={plan.count('BatchEvalPython')}\n"
        f"tree-only:  Exchange={tree.count('Exchange')} "
        f"InMemoryTableScan={tree.count('InMemoryTableScan')} "
        f"ScanParquet={tree.count('Scan parquet')} "
        f"ScanRDD={tree.count('Scan ExistingRDD')} "
        f"SHJ={tree.count('ShuffledHashJoin')} "
        f"BHJ={tree.count('BroadcastHashJoin')}\n\n"
    )
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(hdr + plan)
    print(name, "ok")


def main() -> None:
    spark = get_spark(app_name=f"plans_r6_{suffix}", cores=8, shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    edges = edges_from_lineitem(spark, SF)
    from pregel_golang_implementation_spark.plans.pin import Pins

    pins = Pins()  # every internal pin lives as long as the session

    # ---- pagerank: prep chain + one superstep
    from pregel_golang_implementation_spark.operators.pagerank import (
        pagerank_spec,
        prepare_pagerank_graph,
    )
    from pregel_golang_implementation_spark.plans.runner import PregelRunner

    pr_edges, vertices = prepare_pagerank_graph(edges)
    dump("pagerank_prep_edges", pr_edges)
    dump("pagerank_prep_vertices", vertices)
    n = vertices.count()
    runner = PregelRunner(spark, pagerank_spec(n))
    e = runner._prepare_edges(pr_edges, pins)
    state = runner._init_state(vertices, pins)
    state.count()  # materialize exactly as the runner's first action does
    step = runner._one_superstep(state, e, {"dangling_mass": 0.0}, -1)
    dump("pagerank_superstep", step)

    # ---- connected components superstep (frontier path)
    from pregel_golang_implementation_spark.operators.connected_components import (
        cc_spec,
        symmetrize,
    )

    und = symmetrize(edges, dedup=False)
    cc_runner = PregelRunner(spark, cc_spec())
    ecc = cc_runner._prepare_edges(und, pins)
    ccv = cc_runner.vertices_from_edges(ecc)
    cc_state = cc_runner._init_state(ccv, pins)
    cc_state.count()
    cc_step = cc_runner._one_superstep(cc_state, ecc, {}, -1)
    dump("cc_superstep", cc_step)

    # ---- dedup family
    from pregel_golang_implementation_spark.operators import dedup as D

    try:
        bands = D.minhash_bands(docs, shingle_n=3, num_hashes=16, rows_per_band=4,
                                hash_fn="xxhash")
    except AttributeError:  # round-start tree has no fused path
        sh = D.word_shingles(docs, n=3)
        sig = D.minhash_signatures(sh, num_hashes=16, hash_fn="xxhash")
        bands = D.lsh_bands(sig, rows_per_band=4)
    dump("minhash_bands", bands)
    dump("minhash_candidate_pairs", D.lsh_candidate_pairs(bands))
    shm = D.word_shingles(docs, n=3)
    sigm = D.minhash_signatures(shm, num_hashes=16, hash_fn="md5")
    pairs_md5 = D.lsh_candidate_pairs(D.lsh_bands(sigm, rows_per_band=4))
    dump(
        "ngram_jaccard_verify",
        D.ngram_jaccard(docs, pairs=pairs_md5, shingle_n=3, threshold=0.5,
                        shingles=shm),
    )

    # ---- triangles
    from pregel_golang_implementation_spark.operators import triangles as TR

    dump("triangle_rows", TR._triangle_rows(edges, True, pins))

    # ---- similarity
    from pregel_golang_implementation_spark.operators import similarity as S

    dump("ann_candidates", S.ann_candidates(emb, bits=8))
    dump("knn_graph", S.knn_graph(emb, k=5, bits=6, round_to=6))
    dump("cosine_topk", S.cosine_topk(emb, query_ids=[0, 1, 2, 3, 4], k=10))

    # ---- terms
    from pregel_golang_implementation_spark.operators import terms as TM

    dump("tfidf_top3", TM.tfidf_top_terms(docs, k=3))
    dump("bm25_topk", TM.bm25_topk(docs, ["the", "of", "and"], k=10))

    # ---- wedge/link family (lazy in the before tree, eager after —
    # the ExistingRDD leaf in the after plan is the materialization)
    from pregel_golang_implementation_spark.operators.link_prediction import (
        common_neighbor_topk,
    )
    from pregel_golang_implementation_spark.operators.graph_metrics import (
        square_count,
    )
    from pregel_golang_implementation_spark.operators.bfs import harmonic_centrality
    from pregel_golang_implementation_spark.operators.kcore import kcore_peel

    und3 = symmetrize(edges)
    dump("common_neighbors", common_neighbor_topk(und3, k=3))
    dump("square_count", square_count(und3, max_middle_degree=100))
    dump("harmonic_4src", harmonic_centrality(und3, [1, 2, 3, 4], hops=3))
    dump("kcore_peel_3", kcore_peel(und3, k=3, rounds=3))

    # ---- events funnel
    from pregel_golang_implementation_spark.operators.events import funnel

    events = spark.read.parquet(f"{SF}/events.parquet")
    dump("event_funnel", funnel(events))

    pins.release_all()
    spark.stop()


if __name__ == "__main__":
    main()
