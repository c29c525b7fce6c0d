"""Spark-free checks of the gram-feature kernel: the numpy back half
against a plain-Python reference, and a structural guard that the
rolling-gram arithmetic, the xxhash64 front-half branch and the Python
normalize chain each exist once in the package."""

from __future__ import annotations

import ast
import pathlib
import random
import re

import numpy as np
import pytest

from gcp_map_reduce_spark.operators import dedup
from gcp_map_reduce_spark.operators.dedup import (
    MERSENNE31,
    MINHASH_A,
    MINHASH_B,
    ROLL_C,
    _gram_back_half,
)


def _reference(th, n):
    """(sig, sorted distinct grams) of one doc, or None when it has no
    gram: gram i folds ``g = (g*C + h[i+j]) % P`` over its n tokens —
    ``((h1*C + h2) % P * C + h3) % P`` at n=3 — and sig_k is the min of
    ``(A_k*g + B_k) % P`` over the doc's grams."""
    if th is None or len(th) < n:
        return None
    grams = []
    for i in range(len(th) - n + 1):
        g = th[i]
        for j in range(1, n):
            g = (g * ROLL_C + th[i + j]) % MERSENNE31
        grams.append(g)
    sig = [
        min((a * g + b) % MERSENNE31 for g in grams)
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]
    return sig, sorted(set(grams))


@pytest.mark.parametrize("n", [3, 5])
def test_gram_back_half_matches_python_reference(n):
    rng = random.Random(n)

    def doc(k):
        return [rng.randrange(MERSENNE31) for _ in range(k)]

    docs = [doc(n - 1), doc(n), None, doc(n + 1), [7] * (n + 4), doc(40), []]
    ths = [None if d is None else np.array(d, np.int64) for d in docs]
    expect = [_reference(d, n) for d in docs]
    kept = [e for e in expect if e is not None]

    keep, cols = _gram_back_half(ths, n, True, True)
    assert keep.tolist() == [e is not None for e in expect]
    assert [list(s) for s in cols["sig"]] == [s for s, _ in kept]
    assert [list(a) for a in cols["gh_arr"]] == [a for _, a in kept]

    keep_s, sig_only = _gram_back_half(ths, n, True, False)
    keep_a, arr_only = _gram_back_half(ths, n, False, True)
    assert set(sig_only) == {"sig"} and set(arr_only) == {"gh_arr"}
    assert keep_s.tolist() == keep_a.tolist() == keep.tolist()
    assert [list(s) for s in sig_only["sig"]] == [s for s, _ in kept]
    assert [list(a) for a in arr_only["gh_arr"]] == [a for _, a in kept]


def test_gram_back_half_batch_where_no_doc_qualifies():
    ths = [None, np.array([1, 2], np.int64), np.array([], np.int64)]
    keep, cols = _gram_back_half(ths, 3, True, True)
    assert keep.tolist() == [False, False, False] and cols == {}
    keep, cols = _gram_back_half([], 3, True, True)
    assert len(keep) == 0 and cols == {}


_XXHASH_FRONT_HALF = re.compile(r"_token_hash_expr\(\s*True\s*\)")
_ASCII_FOLD = re.compile(r"""\.encode\(\s*["']ascii["']\s*,\s*["']ignore["']\s*\)""")


def test_one_gram_back_half_one_hash_branch_one_normalize_twin():
    """The rolling-gram/min-hash numpy arithmetic lives only in
    ``_gram_back_half``, the JVM xxhash64 front half is chosen only in
    ``gram_features``, and the Python ASCII-fold normalize chain is only
    ``functions/text.py``'s PY_NORMALIZE."""
    pkg = pathlib.Path(dedup.__file__).parents[1]
    stray = []
    for py in sorted(pkg.rglob("*.py")):
        rel = py.relative_to(pkg).as_posix()
        src = py.read_text()
        if rel != "functions/text.py" and _ASCII_FOLD.search(src):
            stray.append((rel, "inline normalize chain"))
        for node in ast.parse(src).body:
            name = getattr(node, "name", None)
            seg = ast.get_source_segment(src, node)
            numpy_roll = re.search(r"\*\s*ROLL_C\b", seg) and "np." in seg
            if name != "_gram_back_half" and (
                "np.minimum.reduceat" in seg or numpy_roll
            ):
                stray.append((rel, name, "rolling-gram back half"))
            if name != "gram_features" and _XXHASH_FRONT_HALF.search(seg):
                stray.append((rel, name, "fast_hash front-half branch"))
    assert not stray, stray
