"""Independent expected outputs for every timed call, computed outside the
timed region: the DuckDB SQL twins in ``graphscope_spark.tpch_graphs`` for
the co-purchase graph, numpy for the synthetic graph."""

from __future__ import annotations

import os

import numpy as np

#: (ids ascending, values aligned with ids)
Table = tuple[np.ndarray, np.ndarray]


def _sorted(ids, vals) -> Table:
    ids = np.asarray(ids, dtype=np.int64)
    vals = np.asarray(vals)
    o = np.argsort(ids, kind="stable")
    return ids[o], vals[o]


def copurchase_expected(input_dir: str,
                        pagerank_rounds: int) -> dict[str, Table]:
    """Run the DuckDB twins of pagerank and wcc over the generated
    ``lineitem.parquet``."""
    import duckdb

    from graphscope_spark import tpch_graphs as tg

    con = duckdb.connect()
    try:
        path = os.path.join(input_dir, "lineitem.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in (
            ("pagerank", tg.pagerank_sql(pagerank_rounds)),
            ("wcc", tg.wcc_sql()),
        ):
            rows = con.execute(sql).fetchall()
            out[name] = _sorted([r[0] for r in rows], [r[1] for r in rows])
        return out
    finally:
        con.close()


def _vertex_index(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate((src, dst)))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src: np.ndarray, dst: np.ndarray, rounds: int,
             alpha: float = 0.85) -> Table:
    """Fixed-round PageRank on a directed multigraph with dangling mass
    spread evenly — the update rule of ``algorithms.pagerank``."""
    ids, si, di = _vertex_index(src, dst)
    n = ids.size
    out_deg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(rounds):
        contrib = np.divide(rank, out_deg, out=np.zeros(n), where=~dangling)
        gathered = np.bincount(di, weights=contrib[si], minlength=n)
        dang = rank[dangling].sum()
        rank = alpha * gathered + (1.0 - alpha) / n + alpha * dang / n
    return ids, rank


def wcc(src: np.ndarray, dst: np.ndarray, rounds: int | None = None) -> Table:
    """Min-label propagation over both edge directions: after ``rounds``
    synchronous rounds, or to the fixpoint when ``rounds`` is None."""
    ids, si, di = _vertex_index(src, dst)
    a = np.concatenate((si, di))
    b = np.concatenate((di, si))
    comp = ids.copy()
    k = 0
    while rounds is None or k < rounds:
        cand = comp.copy()
        np.minimum.at(cand, b, comp[a])
        if np.array_equal(cand, comp):
            break
        comp = cand
        k += 1
    return ids, comp


def compare(expected: Table, got: Table, atol: float | None = None,
            rtol: float = 0.0) -> str | None:
    """None when ``got`` matches ``expected``; otherwise a one-line reason.
    Values compare exactly unless ``atol`` is given."""
    e_ids, e_vals = expected
    g_ids, g_vals = _sorted(*got)
    if e_ids.shape != g_ids.shape or not np.array_equal(e_ids, g_ids):
        return (f"vertex set differs: expected {e_ids.size} ids, "
                f"got {g_ids.size}")
    if atol is None:
        bad = np.flatnonzero(np.asarray(e_vals) != np.asarray(g_vals))
    else:
        ev = np.asarray(e_vals, dtype=np.float64)
        gv = np.asarray(g_vals, dtype=np.float64)
        bad = np.flatnonzero(~(np.abs(gv - ev) <= atol + rtol * np.abs(ev)))
    if bad.size:
        i = bad[0]
        return (f"{bad.size} of {e_ids.size} values differ; first at id "
                f"{e_ids[i]}: expected {e_vals[i]!r}, got {g_vals[i]!r}")
    return None
