import numpy as np
import pytest

import inputs
import oracles


def _pagerank_loop(edges, rounds, alpha=0.85):
    """Plain-Python reference for oracles.pagerank."""
    ids = sorted({v for e in edges for v in e})
    n = len(ids)
    out = {v: 0 for v in ids}
    for s, _ in edges:
        out[s] += 1
    rank = {v: 1.0 / n for v in ids}
    for _ in range(rounds):
        dang = sum(rank[v] for v in ids if out[v] == 0)
        new = {v: (1 - alpha) / n + alpha * dang / n for v in ids}
        for s, d in edges:
            new[d] += alpha * rank[s] / out[s]
        rank = new
    return np.array(ids), np.array([rank[v] for v in ids])


def test_pagerank_matches_loop_reference_on_a_multigraph():
    # duplicate edge, self-loop, and a dangling vertex (4)
    edges = [(1, 2), (1, 2), (2, 3), (3, 1), (3, 3), (1, 4), (5, 1)]
    src = np.array([e[0] for e in edges])
    dst = np.array([e[1] for e in edges])
    for rounds in (1, 3, 10):
        ids, rank = oracles.pagerank(src, dst, rounds)
        ref_ids, ref = _pagerank_loop(edges, rounds)
        assert np.array_equal(ids, ref_ids)
        assert np.allclose(rank, ref, rtol=1e-12, atol=0)
        assert abs(rank.sum() - 1.0) < 1e-12


def test_wcc_rounds_and_fixpoint():
    # a path 9-8-7-6 needs three rounds for label 6 to reach vertex 9
    src = np.array([9, 8, 7, 20])
    dst = np.array([8, 7, 6, 21])
    ids, comp = oracles.wcc(src, dst, rounds=1)
    assert dict(zip(ids, comp)) == {6: 6, 7: 6, 8: 7, 9: 8, 20: 20, 21: 20}
    ids, comp = oracles.wcc(src, dst)
    assert dict(zip(ids, comp)) == {6: 6, 7: 6, 8: 6, 9: 6, 20: 20, 21: 20}


def test_compare_exact_and_tolerance():
    exp = (np.array([1, 2, 3]), np.array([10, 20, 30]))
    assert oracles.compare(exp, (np.array([3, 1, 2]),
                                 np.array([30, 10, 20]))) is None
    msg = oracles.compare(exp, (np.array([1, 2, 3]), np.array([10, 21, 30])))
    assert msg.startswith("1 of 3 values differ; first at id 2")
    msg = oracles.compare(exp, (np.array([1, 2]), np.array([10, 20])))
    assert "vertex set differs" in msg
    expf = (np.array([1, 2]), np.array([0.5, 0.25]))
    near = (np.array([1, 2]), np.array([0.5 + 5e-9, 0.25]))
    assert oracles.compare(expf, near, atol=1e-8) is None
    assert oracles.compare(expf, near, atol=1e-9) is not None
    assert oracles.compare(expf, near, atol=0.0, rtol=1e-7) is None
    assert oracles.compare(expf, near, atol=0.0, rtol=1e-9) is not None
    nan = (np.array([1, 2]), np.array([np.nan, 0.25]))
    assert oracles.compare(expf, nan, atol=1.0) is not None


def test_generators_are_seeded(tmp_path):
    a = inputs.hub_skewed_edges(3, 10_000)
    b = inputs.hub_skewed_edges(3, 10_000)
    c = inputs.hub_skewed_edges(4, 10_000)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[0], c[0])
    src, dst = a
    nv = 10_000 // 8
    assert src.max() < nv and dst.max() < nv
    # hub destinations (ids <= nv/100) get ~20% of the edges plus their
    # uniform share
    assert 0.15 < np.mean(dst <= nv // 100) < 0.25
    import pyarrow.parquet as pq
    p1 = inputs.lineitem(5, str(tmp_path / "x"))
    p2 = inputs.lineitem(5, str(tmp_path / "y"))
    t1 = pq.read_table(f"{p1}/lineitem.parquet")
    assert t1.equals(pq.read_table(f"{p2}/lineitem.parquet"))
    assert t1.num_rows == inputs.LINEITEM_ROWS + 2 * (inputs.CHAIN - 1)


def test_duckdb_twins_agree_with_numpy_on_generated_lineitem(tmp_path):
    pytest.importorskip("duckdb")
    import pyarrow.parquet as pq

    d = inputs.lineitem(7, str(tmp_path))
    exp = oracles.copurchase_expected(d, pagerank_rounds=3)
    # the co-purchase graph rebuilt with pandas: parts bought in one order,
    # both lines with l_quantity >= 44, both directions
    li = pq.read_table(f"{d}/lineitem.parquet").to_pandas()
    li = li[li.l_quantity >= 44][["l_orderkey", "l_partkey"]]
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs.l_partkey_x < pairs.l_partkey_y].drop_duplicates(
        ["l_partkey_x", "l_partkey_y"])
    src = np.concatenate((pairs.l_partkey_x, pairs.l_partkey_y))
    dst = np.concatenate((pairs.l_partkey_y, pairs.l_partkey_x))
    assert oracles.compare(exp["wcc"], oracles.wcc(src, dst)) is None
    # the planted chain sets the propagation depth: CHAIN - 1 rounds
    depth = inputs.CHAIN - 1
    assert oracles.compare(exp["wcc"], oracles.wcc(src, dst, depth)) is None
    assert oracles.compare(exp["wcc"],
                           oracles.wcc(src, dst, depth - 1)) is not None
    assert oracles.compare(exp["pagerank"], oracles.pagerank(src, dst, 3),
                           atol=1e-8) is None
