"""Spark-free checks of the numpy vector fold: ``_np_dot`` /
``_np_row_dot`` against a literal Python left fold, ``_np_nearest``'s
tie-break and k contract, and a structural guard that the fold and the
nearest-cell ranking each exist once across the similarity modules."""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pytest

from gcp_map_reduce_spark.operators import similarity
from gcp_map_reduce_spark.operators.similarity import (
    _np_dot,
    _np_nearest,
    _np_row_dot,
)


def _fold(a, b):
    """The JVM ``_dot`` / ``_SQL_DOT`` order, written out: 0.0, then
    a[0]*b[0], a[1]*b[1], ... added left to right."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _rows(rng, n, d):
    # mixed magnitudes, so a different summation order changes bits
    return rng.standard_normal((n, d)) * 10.0 ** rng.integers(-3, 4, (n, d))


@pytest.mark.parametrize("d", [1, 64])
@pytest.mark.parametrize("n", [255, 256, 257])
def test_np_dot_is_the_left_fold_across_the_chunk_boundary(n, d):
    rng = np.random.default_rng(n * 100 + d)
    A = _rows(rng, n, d)
    B = _rows(rng, 5, d)
    got = _np_dot(A, B)
    assert got.shape == (n, 5) and got.dtype == np.float64
    expect = [[_fold(a, b) for b in B.tolist()] for a in A.tolist()]
    assert got.tolist() == expect


@pytest.mark.parametrize("d", [1, 64])
@pytest.mark.parametrize("n", [255, 256, 257])
def test_np_row_dot_is_the_left_fold(n, d):
    rng = np.random.default_rng(n * 100 + d + 1)
    A = _rows(rng, n, d)
    B = _rows(rng, n, d)
    assert _np_row_dot(A, B).tolist() == [
        _fold(a, b) for a, b in zip(A.tolist(), B.tolist())
    ]
    assert _np_row_dot(A, A).tolist() == [_fold(a, a) for a in A.tolist()]


def test_fold_order_is_observable_on_the_test_data():
    """The == comparisons above have teeth: on the same data, summing
    the products in reverse order changes some results."""
    rng = np.random.default_rng(7)
    A = _rows(rng, 256, 64).tolist()
    assert any(_fold(a, a) != _fold(a[::-1], a[::-1]) for a in A)


def test_np_nearest_ranks_by_distance_then_cell_id():
    rng = np.random.default_rng(3)
    E = _rows(rng, 40, 8)
    C = _rows(rng, 6, 8)
    C[4] = C[1]  # two equal centroids: every row ties between them
    cell_ids = np.array([50, 40, 30, 20, 10, 0], dtype=np.int64)
    En2 = _np_row_dot(E, E)
    Cn2 = _np_row_dot(C, C)
    got = _np_nearest(E, En2, cell_ids, C, Cn2, 6)
    for i, e in enumerate(E.tolist()):
        dist = [
            (En2[i] - 2.0 * _fold(e, c)) + Cn2[j]
            for j, c in enumerate(C.tolist())
        ]
        expect = sorted(range(6), key=lambda j: (dist[j], cell_ids[j]))
        assert got[i].tolist() == expect
        # the tied pair: equal distance, lower cell_id (10) ranks first
        pos = got[i].tolist()
        assert dist[1] == dist[4] and pos.index(4) < pos.index(1)


def test_np_nearest_k_beyond_the_codebook_returns_every_cell():
    rng = np.random.default_rng(5)
    E = _rows(rng, 7, 4)
    C = _rows(rng, 3, 4)
    cell_ids = np.array([2, 0, 1], dtype=np.int64)
    got = _np_nearest(
        E, _np_row_dot(E, E), cell_ids, C, _np_row_dot(C, C), 10
    )
    assert got.shape == (7, 3)
    assert all(sorted(row) == [0, 1, 2] for row in got.tolist())
    top1 = _np_nearest(
        E, _np_row_dot(E, E), cell_ids, C, _np_row_dot(C, C), 1
    )
    assert (top1[:, 0] == got[:, 0]).all()


_GUARDED = (
    "operators/similarity.py",
    "operators/ann_index.py",
    "streaming/embedding_near_dup.py",
)
_D_LOOP = re.compile(r"for\s+d\s+in\s+range\(")
_RETIRED = {"_seq_dot", "_seq_dots", "_np_n2"}


def _stray(pkg: pathlib.Path) -> list:
    """Every hand copy of the fold or the nearest-cell ranking in the
    guarded modules: a d loop outside ``_np_dot``/``_np_row_dot``, an
    ``np.lexsort`` outside ``_np_nearest``, or a retired helper."""
    stray = []
    for rel in _GUARDED:
        src = (pkg / rel).read_text()
        tree = ast.parse(src)
        for node in tree.body:
            name = getattr(node, "name", None)
            seg = ast.get_source_segment(src, node)
            if name not in ("_np_dot", "_np_row_dot") and _D_LOOP.search(seg):
                stray.append((rel, name, "d-sequential fold"))
            if name != "_np_nearest" and "np.lexsort" in seg:
                stray.append((rel, name, "nearest-cell lexsort"))
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name in _RETIRED:
                stray.append((rel, node.name, "retired helper"))
    return stray


def test_one_vector_fold_and_one_nearest_cell_routine():
    assert not _stray(pathlib.Path(similarity.__file__).parents[1])
