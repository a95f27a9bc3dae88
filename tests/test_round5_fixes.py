"""Round-5 fixes: the four r4 ADVICE items + the new contract queries'
building blocks (salted PageRank under chaining, 4-iter LPA)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.runner import (
    PregelRunner,
    _MsgGlobalsUnavailable,
)


# ------------------------------------------------- ADVICE: globals guard

def test_msg_globals_guard_raises_on_every_read_path():
    """A msg_fn reading globals on a chained step must fail LOUDLY on any
    access shape — subscript, get, membership, iteration, keys/values/
    items, len, truthiness, and dict unpacking (the C-fast-path hole a
    dict subclass cannot intercept)."""
    g = _MsgGlobalsUnavailable()
    probes = [
        lambda: g["dangling_mass"],
        lambda: g.get("dangling_mass"),
        lambda: "dangling_mass" in g,
        lambda: list(g),
        lambda: g.keys(),
        lambda: g.values(),
        lambda: g.items(),
        lambda: len(g),
        lambda: bool(g),
        lambda: {**g},
        lambda: dict(g),
    ]
    for probe in probes:
        with pytest.raises((RuntimeError, TypeError)):
            probe()


def test_msg_fn_iterating_globals_raises_on_chained_step(spark):
    """End-to-end: a spec whose msg_fn ITERATES the globals dict (not just
    subscripts it) must raise on chained steps 2..K, not silently scatter
    without globals."""
    from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec

    def init_fn(v):
        return v.select("id", F.lit(1.0).alias("value"))

    def msg_fn(value, weight, g):
        scale = 1.0
        for _k in g:  # iteration read path
            scale += 1.0
        return value * F.lit(scale)

    spec = AlgorithmSpec(
        name="iter_globals",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combine="sum",
        apply_fn=lambda old, msg, g: F.coalesce(msg, old),
        use_frontier=False,
        global_aggs={"total": F.sum("value")},
        max_supersteps=4,
    )
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, weight double"
    )
    runner = PregelRunner(spark, spec, steps_per_action=2)
    with pytest.raises(Exception, match="unavailable on chained"):
        runner.run(edges, max_supersteps=2)


# --------------------------------------------- ADVICE: delta conflict match

def test_delta_conflict_matcher_retries_only_concurrency_conflicts():
    from pregel_golang_implementation_spark.streaming.ingest import (
        _is_delta_conflict,
    )

    class ConcurrentAppendException(Exception):
        pass

    class ProtocolChangedException(Exception):
        pass

    class AnalysisException(Exception):
        pass

    assert _is_delta_conflict(ConcurrentAppendException("files were added"))
    assert _is_delta_conflict(ProtocolChangedException("protocol changed"))
    # captured JVM exceptions carry the Java class in the message head
    assert _is_delta_conflict(
        Exception("io.delta.exceptions.ConcurrentWriteException: conflict")
    )
    # deterministic failures must surface immediately
    assert not _is_delta_conflict(AnalysisException("schema mismatch"))
    assert not _is_delta_conflict(ValueError("missing table"))
    assert not _is_delta_conflict(
        Exception("org.apache.spark.sql.AnalysisException: permission denied")
    )


# -------------------------------------- ADVICE: simhash occupancy cap/report

def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_near_dups_cap_excludes_oversized_buckets(spark, caplog):
    """A band bucket over the cap is excluded from pairing, the drop is
    WARNING-logged (never silent), and surviving pairs are a subset of the
    exhaustive result with identical (exact) hamming values."""
    import logging

    from pregel_golang_implementation_spark.operators.dedup import (
        simhash_near_dups,
    )

    # 12 near-identical docs (one mega band bucket) + 2 unrelated ones
    rows = [(i, f"the quick brown fox jumps over dog {i % 2}") for i in range(12)]
    rows += [(100, "completely different text entirely"), (101, "another thing")]
    docs = _mk_docs(spark, rows)

    full = simhash_near_dups(docs, bits=16, max_hamming=3)
    full_pairs = {(r.doc_a, r.doc_b): r.hamming for r in full.collect()}

    with caplog.at_level(logging.WARNING):
        capped = simhash_near_dups(docs, bits=16, max_hamming=3, max_bucket_size=4)
        capped_pairs = {(r.doc_a, r.doc_b): r.hamming for r in capped.collect()}
    assert len(capped_pairs) < len(full_pairs)
    for pair, ham in capped_pairs.items():
        assert full_pairs[pair] == ham  # values stay exact, coverage shrinks
    assert any("simhash_near_dups" in r.message for r in caplog.records)


def test_simhash_near_dups_cap_noop_on_healthy_corpus(spark):
    """When no bucket exceeds the cap the result is the exhaustive set."""
    from pregel_golang_implementation_spark.operators.dedup import (
        simhash_near_dups,
    )

    rows = [(i, f"document number {i} with its own words {i * 7}") for i in range(8)]
    docs = _mk_docs(spark, rows)
    full = sorted(simhash_near_dups(docs, bits=16, max_hamming=3).collect())
    capped = sorted(
        simhash_near_dups(docs, bits=16, max_hamming=3, max_bucket_size=1000).collect()
    )
    assert full == capped


# ------------------------------------- ADVICE: bands unpersist on error path

def test_near_dup_clusters_unpersists_bands_on_failure(spark, monkeypatch):
    """If the resolve pipeline raises mid-flight, the bands cache must be
    released (try/finally), not leak for the session lifetime."""
    import pregel_golang_implementation_spark.operators.dedup as dedup

    docs = _mk_docs(
        spark, [(i, f"some text body {i} repeated words here") for i in range(20)]
    )
    # compare RDD ID SETS, not counts: the async ContextCleaner may drop
    # unrelated stale entries (e.g. lazy localCheckpoints from earlier
    # tests in the shared session) between the two reads, which made a
    # size-equality assert flaky in full-suite runs — a leak means a NEW
    # id that survives the failure, regardless of what else got cleaned
    def _ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    before = _ids()

    def boom(*a, **k):
        raise RuntimeError("injected failure")

    monkeypatch.setattr(dedup, "lsh_candidate_pairs", boom)
    with pytest.raises(RuntimeError, match="injected failure"):
        dedup.near_dup_clusters(docs, max_bucket_size=10)
    leaked = _ids() - before
    assert not leaked, f"bands cache leaked on the failure path: {leaked}"


def test_near_dup_clusters_still_resolves(spark):
    """Happy path unchanged by the try/finally restructure."""
    from pregel_golang_implementation_spark.operators.dedup import (
        near_dup_clusters,
    )

    base = "alpha beta gamma delta epsilon zeta theta iota kappa lambda"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " mu"),  # near dup of 1 (jaccard 8/9)
        (4, "totally unrelated content lives here now"),
    ]
    docs = _mk_docs(spark, rows)
    # rows_per_band=1 → collide iff ANY of the 16 minhashes agree: at
    # jaccard 8/9 the miss probability is (1/9)^16 — deterministic given
    # the fixed hash functions, verified by this very test
    out = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, threshold=0.3, rows_per_band=1).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4


# ------------------------------------------------- r5: slim combine shuffle

def _path_edges(spark, n=20):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
    )


def test_slim_shuffle_empty_final_frontier_counts_zero(spark):
    """The convergence superstep of frontier SSSP sends ZERO messages; AQE
    folds the empty message subtree out of the final plan, taking the
    CollectMetrics with it — the runner must report 0, not crash
    (regression: Py4JJavaError in Observation.get, r5)."""
    from pregel_golang_implementation_spark.operators.sssp import sssp

    res = sssp(spark, _path_edges(spark), source=0)
    assert res.converged
    assert res.metrics[-1].messages_sent == 0
    assert res.total_messages == 20


def test_slim_shuffle_ineligible_paths_fall_back(spark):
    """Chained runners must not enable slim (a chained step's
    CollectMetrics lands in an inner query execution and reports zeros);
    salted unchained runners are slim (salting keeps the edge count, so
    the pre-shuffle message count is exact)."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank_spec

    spec = pagerank_spec(100)
    assert PregelRunner(spark, spec, steps_per_action=2).slim_shuffle is False
    assert PregelRunner(
        spark, spec, salt_degree_threshold=5, num_salts=4, steps_per_action=2
    ).slim_shuffle is False
    assert PregelRunner(
        spark, spec, salt_degree_threshold=5, num_salts=4
    ).slim_shuffle is True
    assert PregelRunner(spark, spec, steps_per_action=1).slim_shuffle is True
