"""Property tests for operators/foldmath.py, the fold-order arithmetic
every vector kernel calls: on arbitrary small matrices drawn from the
tie-prone grid of test_topn_properties.py, each helper must equal a
pure-Python left fold over the dims from 0.0 BIT FOR BIT - the same
sequence the DuckDB oracles replay with list_reduce. Shapes vary on
both sides, so sq_dists' operand swap (fewer loop iterations when the
second operand is longer) is exercised in both directions."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from test_topn_properties import COMP

from etl_pipeline_mini_project_01_spark.operators.foldmath import (
    norm2,
    outer_dots,
    row_dots,
    sq_dists,
)

#: the tie-prone grid plus arbitrary float32-representable values
VALUE = st.one_of(COMP, st.floats(min_value=-4.0, max_value=4.0, width=32))
_SETTINGS = dict(max_examples=100, deadline=None)


def _fold(terms):
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


@st.composite
def _pair(draw, same_rows: bool):
    """Two float64 matrices sharing a dim; row counts differ unless
    `same_rows`."""
    dim = draw(st.integers(min_value=1, max_value=12))
    na = draw(st.integers(min_value=1, max_value=6))
    nb = na if same_rows else draw(st.integers(min_value=1, max_value=6))
    row = st.lists(VALUE, min_size=dim, max_size=dim)
    a = draw(st.lists(row, min_size=na, max_size=na))
    b = draw(st.lists(row, min_size=nb, max_size=nb))
    return np.array(a, dtype=np.float64), np.array(b, dtype=np.float64)


def _same_bits(got: np.ndarray, want) -> bool:
    want = np.asarray(want, dtype=np.float64)
    return got.shape == want.shape and got.tobytes() == want.tobytes()


@given(_pair(same_rows=False))
@settings(**_SETTINGS)
def test_sq_dists_is_the_left_fold(ab):
    x, c = ab
    want = [[_fold((xi - ci) * (xi - ci) for xi, ci in zip(xr, cr))
             for cr in c.tolist()] for xr in x.tolist()]
    assert _same_bits(sq_dists(x, c), want)


@given(_pair(same_rows=True))
@settings(**_SETTINGS)
def test_row_dots_and_norm2_are_the_left_fold(ab):
    a, b = ab
    al, bl = a.tolist(), b.tolist()
    assert _same_bits(row_dots(a, b),
                      [_fold(x * y for x, y in zip(ar, br))
                       for ar, br in zip(al, bl)])
    assert _same_bits(norm2(a), [_fold(x * x for x in ar) for ar in al])
    # one broadcast (1, dim) row, the literal-query shape
    assert _same_bits(row_dots(a, b[:1]),
                      [_fold(x * y for x, y in zip(ar, bl[0]))
                       for ar in al])


@given(_pair(same_rows=False))
@settings(**_SETTINGS)
def test_outer_dots_is_the_left_fold(ab):
    a, b = ab
    want = [[_fold(x * y for x, y in zip(ar, br)) for br in b.tolist()]
            for ar in a.tolist()]
    assert _same_bits(outer_dots(a, b), want)
