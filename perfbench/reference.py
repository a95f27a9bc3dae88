"""Independent reference answers (numpy and DuckDB, no Spark).

Each function reimplements the algorithm's documented semantics from
scratch over plain arrays, so an engine bug cannot hide in shared code.
They run once per seed, outside every timed region.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def _dense(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vertex ids, src index, dst index) over the endpoints of the edges."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(
    src: np.ndarray, dst: np.ndarray, damping: float, tol: float, max_steps: int
) -> tuple[pd.DataFrame, int]:
    """Power iteration with the engine's rules: duplicate edges collapsed,
    rank split evenly over out-edges, the mass of vertices without
    out-edges spread uniformly, stop after the first step in which no rank
    moved by more than ``tol``.  Returns ((id, value), steps)."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    ids, s, d = _dense(pairs[:, 0], pairs[:, 1])
    n = len(ids)
    outdeg = np.bincount(s, minlength=n)
    dangling = outdeg == 0
    w = 1.0 / outdeg[s]
    x = np.full(n, 1.0 / n)
    steps = 0
    for steps in range(1, max_steps + 1):
        dm = x[dangling].sum()
        msg = np.bincount(d, weights=x[s] * w, minlength=n)
        new = (1.0 - damping) / n + damping * (msg + dm / n)
        moved = np.abs(new - x).max()
        x = new
        if moved <= tol:
            break
    return pd.DataFrame({"id": ids, "value": x}), steps


def triangles(src: np.ndarray, dst: np.ndarray, threads: int) -> tuple[int, pd.DataFrame]:
    """Exact triangle count and per-vertex counts of the undirected simple
    graph (DuckDB self-joins over the id-ordered edge set)."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        con.register("raw", pd.DataFrame({"src": src, "dst": dst}))
        con.execute(
            "CREATE TABLE e AS SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
            "FROM raw WHERE src <> dst"
        )
        con.execute(
            "CREATE TABLE t AS SELECT e1.a AS a, e1.b AS b, e2.b AS c FROM e e1 "
            "JOIN e e2 ON e1.b = e2.a JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
        )
        total = con.execute("SELECT count(*) FROM t").fetchone()[0]
        per_vertex = con.execute(
            "SELECT id, count(*) AS triangles FROM (SELECT a AS id FROM t UNION ALL "
            "SELECT b FROM t UNION ALL SELECT c FROM t) GROUP BY id"
        ).df()
        return int(total), per_vertex
    finally:
        con.close()


def corpus_ids(files: pd.DataFrame) -> pd.DataFrame:
    """(repo, path, id): 1-based rank of (repo, path), the dense id
    contract of ``assign_vertex_ids``."""
    out = files[["repo", "path"]].drop_duplicates().sort_values(["repo", "path"])
    return out.assign(id=np.arange(1, len(out) + 1, dtype=np.int64)).reset_index(drop=True)
