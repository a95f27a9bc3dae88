"""Salted-hub execution inside the runner must be result-identical to
unsalted execution (north_rule: explicit skew splitting of hub vertices).
Per-step message counts must match too: salting rewrites hub dst ids but
never adds or drops an edge, so the pre-shuffle count is unchanged.
"""

from __future__ import annotations

import pytest

from pregel_golang_implementation_spark.operators.connected_components import (
    cc_spec,
    symmetrize,
)
from pregel_golang_implementation_spark.operators.pagerank import (
    pagerank_spec,
    prepare_pagerank_graph,
)
from pregel_golang_implementation_spark.operators.sssp import sssp_spec
from pregel_golang_implementation_spark.plans.runner import PregelRunner


def _skewed_edges(spark):
    # hub vertex 0 with in-degree 300, plus a chain hanging off it
    hub_in = [(i, 0, 1.0) for i in range(1, 301)]
    chain = [(0, 1000, 2.0), (1000, 1001, 3.0), (1001, 1002, 1.0)]
    return spark.createDataFrame(hub_in + chain, "src long, dst long, weight double")


def _sent(result):
    return [m.messages_sent for m in result.metrics]


def test_salted_cc_identical(spark):
    edges = symmetrize(_skewed_edges(spark))
    plain = PregelRunner(spark, cc_spec()).run(edges)
    salted = PregelRunner(
        spark, cc_spec(), salt_degree_threshold=50, num_salts=8
    ).run(edges)
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert a == b
    assert salted.converged
    assert _sent(salted) == _sent(plain)


def test_salted_sssp_identical(spark):
    edges = _skewed_edges(spark)
    plain = PregelRunner(spark, sssp_spec(source=5)).run(edges)
    salted = PregelRunner(
        spark, sssp_spec(source=5), salt_degree_threshold=50, num_salts=8
    ).run(edges)
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert a == b
    assert _sent(salted) == _sent(plain)


def test_salted_pagerank_allclose(spark):
    edges = _skewed_edges(spark)
    pr_edges, vertices = prepare_pagerank_graph(edges)
    n = vertices.count()
    plain = PregelRunner(spark, pagerank_spec(n, tol=1e-10)).run(
        pr_edges, vertices=vertices
    )
    salted = PregelRunner(
        spark, pagerank_spec(n, tol=1e-10), salt_degree_threshold=50, num_salts=8
    ).run(pr_edges, vertices=vertices)
    a = {r["id"]: r["value"] for r in plain.state.collect()}
    b = {r["id"]: r["value"] for r in salted.state.collect()}
    assert set(a) == set(b)
    for k in a:
        assert b[k] == pytest.approx(a[k], abs=1e-9)
    assert _sent(salted) == _sent(plain)
