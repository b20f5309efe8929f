"""Fold-order float64 arithmetic shared by every vector kernel.

The determinism contract that makes the vector rows oracle-checkable:
every dot product, squared norm and squared euclidean distance is a
LEFT FOLD over the dims in ascending index order, starting from a 0.0
accumulator, with each step one correctly-rounded IEEE float64 op
(difference, product, add). That is exactly the sequence the DuckDB
oracles replay with `list_reduce(list_prepend(0.0, ...))` / `list_reduce`
over the zipped products, and the sequence a pure-Python `acc = 0.0;
for i in range(dim): acc = acc + ...` loop performs - so engine, oracle
and test replay produce bit-identical doubles, and argmin / threshold /
ranking outcomes cannot flip between them.

The helpers below batch that fold ACROSS rows (numpy column ops, one
per dim) and keep it sequential ACROSS dims. numpy elementwise float64
ops are the same IEEE ops the scalar fold performs; only the order
matters, and the order is pinned here, in one place. Inputs are float64
2-D arrays (rows x dim); callers widen float32 storage first.

Kept in their own module (not as public functions of the operator
modules) so that pandas_udf closures calling them reference plain
module-level functions - importable on the workers and never wrapped by
call-tracing shims installed on the operator modules.
"""

from __future__ import annotations

import numpy as np


def sq_dists(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(len(x), len(c)) squared euclidean distances: entry (r, j) is
    the fold of (x[r, i] - c[j, i])^2 over i ascending from 0.0.

    The loop runs over the SHORTER operand and batches the longer one,
    so a single query against k centroids costs dim column ops, not
    k*dim. Swapping the operands is exact: IEEE subtraction rounds
    symmetrically (fl(a - b) == -fl(b - a)), so every squared
    difference - and therefore every accumulation step - is unchanged."""
    if c.shape[0] > x.shape[0]:
        return sq_dists(c, x).T
    out = np.empty((x.shape[0], c.shape[0]), dtype=np.float64)
    for j in range(c.shape[0]):
        acc = np.zeros(x.shape[0], dtype=np.float64)
        for i in range(x.shape[1]):              # fold order: dims ascending
            d = x[:, i] - c[j, i]
            acc = acc + d * d
        out[:, j] = acc
    return out


def row_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a),) row-wise dot products: the fold of a[r, i] * b[r, i]
    over i ascending from 0.0. `b` may be a single (1, dim) row, which
    broadcasts against every row of `a`."""
    acc = np.zeros(a.shape[0], dtype=np.float64)
    for i in range(a.shape[1]):                  # fold order: dims ascending
        acc = acc + a[:, i] * b[:, i]
    return acc


def norm2(x: np.ndarray) -> np.ndarray:
    """(len(x),) squared L2 norms: the fold of x[r, i] * x[r, i]."""
    return row_dots(x, x)


def outer_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(len(a), len(b)) all-pairs dot products: entry (r, j) is the
    fold of a[r, i] * b[j, i] over i ascending from 0.0 (one outer
    product per dim). Memory is len(a) x len(b) doubles - callers block
    `a` to bound it."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for i in range(a.shape[1]):                  # fold order: dims ascending
        acc = acc + np.outer(a[:, i], b[:, i])
    return acc
