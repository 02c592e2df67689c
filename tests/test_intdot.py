"""The integer-exact core's numpy half, without a Spark session: the
int64 wrap guard of ``intdot.int_matmul`` and the self-masked
(dot desc, id asc) pick of ``intdot.topk_rows``."""

from __future__ import annotations

import numpy as np
import pytest

from aliyun_emapreduce_datasources_spark.similarity.intdot import (
    int_matmul,
    micro_np,
    topk_rows,
)


def test_int_matmul_refuses_the_worst_case_bound():
    # dim · max|l| · max|r| = 1 · 2³¹ · 2³¹ = 2⁶², the guard's bound
    edge = np.array([[2**31]], dtype=np.int64)
    with pytest.raises(OverflowError, match="may exceed int64"):
        int_matmul(edge, edge)


def test_int_matmul_passes_just_under_the_bound():
    ml = np.array([[2**31]], dtype=np.int64)
    mr = np.array([[2**31 - 1]], dtype=np.int64)
    assert int_matmul(ml, mr).tolist() == [[2**62 - 2**31]]


def test_int_matmul_bounds_by_dim_too():
    # 4 · 2³⁰ · 2³⁰ = 2⁶²: each product is small, the sum is not
    m = np.full((1, 4), 2**30, dtype=np.int64)
    with pytest.raises(OverflowError):
        int_matmul(m, m)
    assert int_matmul(m[:, :3], m[:, :3]).tolist() == [[3 * 2**60]]


def _reference_topk(dots, q_ids, n_ids, k):
    out = []
    for i, row in enumerate(dots.tolist()):
        cand = sorted(
            (-d, int(n), j) for j, (d, n) in enumerate(zip(row, n_ids)) if n != q_ids[i]
        )
        out += [(i, j) for _, _, j in cand[:k]]
    return out


@pytest.mark.parametrize("seed", range(5))
def test_topk_rows_matches_sorted_reference(seed):
    rng = np.random.default_rng(seed)
    n_ids = rng.permutation(40)[:12].astype(np.int64)
    q_ids = np.concatenate([n_ids[:4], rng.permutation(np.arange(100, 110))[:5]])
    dots = rng.integers(-3, 4, size=(len(q_ids), len(n_ids))).astype(np.int64)  # many ties
    i, j = topk_rows(dots, q_ids, n_ids, 5)
    assert list(zip(i.tolist(), j.tolist())) == _reference_topk(dots, q_ids, n_ids, 5)


def test_topk_rows_k_above_width_and_empty():
    dots = np.array([[5, 7]], dtype=np.int64)
    i, j = topk_rows(dots, np.array([1]), np.array([1, 2]), 10)
    assert (i.tolist(), j.tolist()) == ([0], [1])  # self (id 1) skipped
    i, j = topk_rows(np.zeros((0, 3), dtype=np.int64), np.array([]), np.arange(3), 2)
    assert len(i) == len(j) == 0


def test_micro_np_floors_toward_negative_infinity():
    q = micro_np([[0.0000015, -0.0000015, 1.0]])
    assert q.tolist() == [[1.0, -2.0, 1_000_000.0]]
