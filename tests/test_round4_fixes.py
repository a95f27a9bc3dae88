"""Round-4 items: NULL-sim top-k safety, fraction edge cases in hash
sampling, order-independent session/window value sums, oracle-twin
robustness for missing JSON props.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.operators.events import (
    event_window_stats,
    sessionize,
)
from pregel_golang_implementation_spark.operators.sampling import hash_sample
from pregel_golang_implementation_spark.operators.similarity import (
    ann_topk,
    cosine_topk,
    knn_graph,
)


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_topk_drops_null_sim_neighbors(spark):
    """A zero-norm embedding has NULL cosine against everything (Spark
    division by zero is NULL); it must never occupy a top-k rank — the
    struct sort used by the two-level top-k would otherwise place NULL
    ``-sim`` FIRST and rank the degenerate vector above every real one."""
    emb = _emb(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.5, 0.5]),
            (4, [0.0, 0.0]),  # zero-norm: NULL sim vs everything
        ],
    )
    rows = cosine_topk(emb, query_ids=[1], k=3).collect()
    neighbors = {r["neighbor_id"] for r in rows}
    assert 4 not in neighbors
    assert neighbors == {2, 3}
    # real neighbors keep dense ranks starting at 1
    assert sorted(r["rank"] for r in rows) == [1, 2]
    # and a zero-norm QUERY simply produces no rows (never NULL-ranked junk)
    assert cosine_topk(emb, query_ids=[4], k=3).count() == 0


def test_knn_graph_and_ann_topk_drop_null_sims(spark):
    emb = _emb(
        spark,
        [(i, [float(i), 1.0]) for i in range(1, 6)] + [(9, [0.0, 0.0])],
    )
    for frame in (
        knn_graph(emb, k=3, bits=1),
        ann_topk(emb, query_ids=[1, 2], k=3, bits=1),
    ):
        assert frame.filter(F.col("sim").isNull()).count() == 0
        assert frame.filter(F.col("neighbor_id") == 9).count() == 0


def test_hash_sample_full_and_empty_fractions(spark):
    """fraction >= 1.0 must keep EVERYTHING: the 4-hex-char draw compared
    against the 5-char threshold '10000' silently kept only ~6.25% of
    rows before the short-circuit.  fraction <= 0 is the mirror case."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    assert hash_sample(docs, 1.0).count() == 200
    assert hash_sample(docs, 1.5).count() == 200
    assert hash_sample(docs, 0.0).count() == 0
    assert hash_sample(docs, -0.1).count() == 0
    # interior fractions keep behaving like a real sample
    n = hash_sample(docs, 0.5).count()
    assert 0 < n < 200


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string"
    )


def test_session_sums_are_partition_order_independent(spark):
    """total_value sums doubles whose fp addition is not associative —
    the decimal(38,9) sum makes the rounded result identical under any
    partitioning, so the driver's exact value hash can never flip at a
    partition-order boundary."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    # values chosen so naive double summation order visibly matters
    vals = [0.1, 0.2, 0.3, 1e9, -1e9, 0.123456789, 7.7, 1e-7] * 25
    rows = [
        (i, 1, base + dt.timedelta(seconds=10 * i), "click", v, "{}")
        for i, v in enumerate(vals)
    ]
    ev = _events(spark, rows)
    outs = []
    for parts in (1, 7, 32):
        got = sorted(
            sessionize(ev.repartition(parts), gap_minutes=30)
            .select("user_id", "session_no", "total_value")
            .collect()
        )
        outs.append(got)
    assert outs[0] == outs[1] == outs[2]
    w = []
    for parts in (1, 7, 32):
        w.append(
            sorted(
                event_window_stats(ev.repartition(parts))
                .select("window_start", "total_value")
                .collect()
            )
        )
    assert w[0] == w[1] == w[2]


def test_avg_k_skips_events_without_prop(spark):
    """An event whose props string has no "k" property must be SKIPPED by
    avg_k (not counted as 0, not an error) — and the DuckDB oracle twin
    must agree instead of hard-failing on CAST('' AS BIGINT)."""
    import datetime as dt

    import duckdb

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 1, base, "click", 1.0, '{"k": 4}'),
        (2, 1, base + dt.timedelta(seconds=5), "click", 1.0, '{"other": 9}'),
        (3, 1, base + dt.timedelta(seconds=9), "click", 1.0, '{"k": 8}'),
    ]
    got = (
        event_window_stats(_events(spark, rows))
        .select("avg_k")
        .collect()
    )
    assert len(got) == 1 and got[0]["avg_k"] == pytest.approx(6.0)
    # the twin expression (same shape __spark_entry__ uses) on the same rows
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE e AS SELECT * FROM (VALUES "
        "('{\"k\": 4}'), ('{\"other\": 9}'), ('{\"k\": 8}')) t(props)"
    )
    want = con.sql(
        "SELECT AVG(TRY_CAST(NULLIF(regexp_extract(props, '\"k\":\\s*(\\d+)', 1), '') AS BIGINT)) FROM e"
    ).fetchone()[0]
    assert want == pytest.approx(6.0)


# ------------------------------------------- chained supersteps with globals


def test_pagerank_chained_supersteps_identical(spark):
    """PageRank carries a per-superstep global (dangling mass); chained
    blocks compute it in-plan for steps 2..K and must stay bit-identical
    to the one-job-per-step run: same values, same per-step metrics, same
    per-step dangling-mass observations.  Fixed 4-step runs so both
    executions take exactly the same number of supersteps."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    # hub-ish seeded digraph; synthetic graphs have dangling vertices, so
    # the global aggregate is load-bearing (dangling_mass > 0)
    edges = synthetic_edges(spark, num_vertices=400, avg_degree=3, seed=7)
    r1 = pagerank(spark, edges, tol=0.0, max_supersteps=4)
    r2 = pagerank(spark, edges, tol=0.0, max_supersteps=4, steps_per_action=2)
    a = {r["id"]: r["value"] for r in r1.state.collect()}
    b = {r["id"]: r["value"] for r in r2.state.collect()}
    assert a == b  # bit-identical, not approx
    assert r1.supersteps == r2.supersteps == 4
    m1 = [
        (m.superstep, m.active_vertices, m.messages_sent, m.globals["dangling_mass"])
        for m in r1.metrics
    ]
    m2 = [
        (m.superstep, m.active_vertices, m.messages_sent, m.globals["dangling_mass"])
        for m in r2.metrics
    ]
    assert m1 == m2
    # mass is conserved through the chained dangling redistribution
    mass = sum(b.values())
    assert mass == pytest.approx(1.0, abs=1e-9)


def test_pagerank_chained_convergence(spark):
    """To-convergence chained run converges to the same fixed point (the
    trailing in-block refinements past the halt threshold are sub-tol by
    construction, so values agree within tol)."""
    from pregel_golang_implementation_spark.operators.pagerank import pagerank
    from pregel_golang_implementation_spark.sources.graphs import synthetic_edges

    edges = synthetic_edges(spark, num_vertices=300, avg_degree=4, seed=11)
    r1 = pagerank(spark, edges, tol=1e-6)
    r2 = pagerank(spark, edges, tol=1e-6, steps_per_action=2)
    assert r2.converged
    assert abs(r1.supersteps - r2.supersteps) <= 1
    a = {r["id"]: r["value"] for r in r1.state.collect()}
    b = {r["id"]: r["value"] for r in r2.state.collect()}
    assert max(abs(a[i] - b[i]) for i in a) < 1e-6


def test_msg_fn_reading_globals_raises_on_chained_steps(spark):
    """A spec whose msg_fn depends on globals cannot chain — the guard
    must raise a clear error instead of scattering stale values."""
    from pregel_golang_implementation_spark.plans.runner import PregelRunner
    from pregel_golang_implementation_spark.plans.spec import AlgorithmSpec

    def init_fn(v):
        return v.select("id", F.lit(1.0).alias("value"))

    def msg_fn(value, weight, g):
        return value * F.lit(float(g.get("total", 1.0)))  # reads a global

    spec = AlgorithmSpec(
        name="needs_globals_in_msg",
        init_fn=init_fn,
        msg_fn=msg_fn,
        combine="sum",
        apply_fn=lambda old, msg, g: F.coalesce(msg, old),
        global_aggs={"total": F.sum("value")},
        max_supersteps=4,
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with pytest.raises(RuntimeError, match="msg_fn reads global"):
        PregelRunner(spark, spec, steps_per_action=2).run(edges)
    # one job per step still works for such specs
    res = PregelRunner(spark, spec, steps_per_action=1).run(edges, max_supersteps=2)
    assert res.supersteps == 2


# ----------------------------------------------- degree-ordered triangles


def test_degree_ordered_triangles_bound_hub_wedges(spark):
    """On a hub-skewed graph the default (degree-ordered) orientation must
    (a) count exactly the same triangles and (b) enumerate wedges from the
    LOW-degree endpoints: the star hub's C(m,2) wedge pairs disappear."""
    from pregel_golang_implementation_spark.operators.triangles import (
        _wedges,
        canonical_edges,
        triangle_count,
        triangles_per_vertex,
    )

    m = 120
    hub = 61  # mid-range id: id-orientation splits hub edges in/out
    leaves = [i for i in range(1, m + 2) if i != hub]
    # every leaf touches the hub; consecutive leaves (sorted) also touch,
    # so each consecutive pair closes a triangle with the hub
    rows = [(leaf, hub) for leaf in leaves] + [
        (leaves[j], leaves[j + 1]) for j in range(len(leaves) - 1)
    ]
    n_tri = len(leaves) - 1
    edges = spark.createDataFrame(rows, "src long, dst long")
    assert triangle_count(spark, edges) == n_tri  # default: degree-ordered
    assert triangle_count(spark, edges, degree_order=False) == n_tri
    # wedge volume: id-orientation (src<dst) gives the hub ~m/2 in-edges
    # and ~m/2 out-edges -> (m/2)^2 wedges pivot ON the hub; degree
    # ordering points every hub edge INTO the hub (leaf degree <= 3), so
    # zero wedges pivot on it and the total stays O(m)
    unordered = _wedges(canonical_edges(edges, degree_order=False)).count()
    ordered = _wedges(canonical_edges(edges, degree_order=True)).count()
    assert unordered >= (m // 2) ** 2
    assert ordered < 4 * m
    # per-vertex credit is orientation-independent too
    pv = {
        r["id"]: r["triangles"]
        for r in triangles_per_vertex(spark, edges).collect()
    }
    assert pv[hub] == n_tri  # hub corners every triangle
    assert pv[leaves[0]] == 1 and pv[leaves[1]] == 2


# ------------------------------------------- optional codec probe paths


def test_codec_probe_paths(spark):
    """Auto-upgrade probes for compressed audio (soundfile) and video
    (PyAV): when the library is absent — this container — the operators
    must (a) keep working via the deterministic stubs with decoded=false
    and (b) FAIL LOUDLY if the codec path is forced, never silently mix
    stub and real features in one column.  Where a codec lib IS present
    the same assertions flip to the real path."""
    from pregel_golang_implementation_spark.operators.multimodal import (
        HAS_PYAV,
        HAS_SOUNDFILE,
        attach_media,
        decode_audio_features,
        frame_sample,
    )

    docs = spark.createDataFrame(
        [(1, "not audio at all", "src0")], "doc_id long, text string, source string"
    )
    media = attach_media(docs)
    row = decode_audio_features(media).collect()[0]
    # junk payload: stub either way (soundfile also can't parse prose)
    assert row["decoded"] is False
    fr = frame_sample(media, every_n_bytes=8, max_frames=3).collect()
    assert fr and all(r["decoded"] is (False if not HAS_PYAV else r["decoded"]) for r in fr)
    if not HAS_SOUNDFILE:
        with pytest.raises(Exception, match="soundfile"):
            decode_audio_features(media, use_soundfile=True).collect()
    if not HAS_PYAV:
        with pytest.raises(Exception, match="av is not importable"):
            frame_sample(media, use_av=True).collect()


# ------------------------------------------- transactional table format


def test_delta_compaction_probe(spark, tmp_path):
    """Without delta-spark (this image) the delta path must refuse loudly
    and the default file-protocol path must keep working; with it, the
    same compaction runs as one transactional overwrite."""
    from pregel_golang_implementation_spark.streaming.ingest import (
        HAS_DELTA,
        compact_edge_table,
    )

    tdir = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 2, 1.0), (1, 2, 3.0), (2, 3, 1.0)], "src long, dst long, weight double"
    ).write.mode("overwrite").parquet(tdir)
    if not HAS_DELTA:
        with pytest.raises(RuntimeError, match="delta-spark"):
            compact_edge_table(spark, tdir, table_format="delta")
    fmt = "delta" if HAS_DELTA else "parquet"
    n = compact_edge_table(spark, tdir, table_format=fmt)
    assert n == 2  # (1,2) collapsed to min weight, (2,3) kept
    rows = {
        (r["src"], r["dst"]): r["weight"]
        for r in spark.read.parquet(tdir).collect()
    }
    assert rows[(1, 2)] == 1.0


# --------------------------------------------------- simhash near-dups


def test_simhash_banding_has_perfect_recall(spark):
    """Pigeonhole guarantee: with max_hamming+1 bands, every pair within
    max_hamming differing bits shares >=1 whole band — the banded plan
    must return exactly the brute-force n² Hamming join's pairs."""
    from pregel_golang_implementation_spark.operators.dedup import (
        simhash,
        simhash_near_dups,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + f" tail{i % 7}") for i in range(40)] + [
        (100, base),
        (101, base + " x"),
        (102, "completely different text about graph engines at scale"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = simhash(docs, bits=16)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_hb"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )
    want = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in brute.collect()}
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dups(docs, bits=16, max_hamming=3).collect()
    }
    assert got == want and len(want) > 0
