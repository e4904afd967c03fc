"""Sequential-fold vector kernels for the Arrow/numpy operators.

Every dot product and sum of squares here is a left fold over
DIMENSIONS, vectorized across the other axes: one rounded multiply and
one rounded add per element per step, in dimension order. That is the
rounding sequence of the Column fold (`F.aggregate` over `zip_with`, see
dedup.cosine) and of DuckDB's list functions, so sign bits, argmaxes and
ppm-floored cosines computed here are bit-identical to theirs. BLAS
`dot` and numpy's pairwise `np.sum` sum in another order and can land a
few ulps off — enough to flip a sign bit or a ppm floor.

Callers: the LSH band keys and bucket scorer (dedup), the IVF bucket
assignment, the IVF cogroup scorer and the closure k-NN join
(similarity).
"""

from __future__ import annotations

import math

import numpy as np


def seq_dot(e: np.ndarray, m: np.ndarray) -> np.ndarray:
    """(n x dim) rows against (dim x q) columns -> (n x q) dots."""
    dot = np.zeros((e.shape[0], m.shape[1]), dtype=np.float64)
    for d in range(e.shape[1]):
        dot += e[:, d][:, None] * m[d][None, :]
    return dot


def seq_norm2(e: np.ndarray) -> np.ndarray:
    """(n x dim) rows -> (n,) sums of squares."""
    acc = np.zeros(e.shape[0], dtype=np.float64)
    for d in range(e.shape[1]):
        col = e[:, d]
        acc += col * col
    return acc


def valid_matrix(vectors, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(row indices, len(indices) x dim matrix) of the vectors in an
    Arrow batch column that the Column fold scores to a non-NULL value:
    not NULL, exactly `dim` elements, no NULL element. A NULL element
    arrives from Arrow as NaN, so a literal-NaN element is dropped too —
    the one divergence from the Column fold (which orders NaN above
    every number), unreachable on a real embedding corpus."""
    idx, rows = [], []
    for i, v in enumerate(vectors):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if len(a) == dim and not np.isnan(a).any():
            idx.append(i)
            rows.append(a)
    mat = np.asarray(rows, dtype=np.float64).reshape(len(rows), dim)
    return np.asarray(idx, dtype=np.int64), mat


def fold_cos_pair(va, vb):
    """Scalar twin of dedup.cosine for one pair, reproducing the Column
    fold's NULL semantics exactly: a NULL vector or NULL element gives a
    NULL norm (cos -> 0.0 via the otherwise branch), a zero norm gives
    0.0, and a LENGTH-MISMATCHED pair with valid norms gives NULL
    (zip_with pads with null, the fold goes sticky-null). Python float
    arithmetic is the same IEEE double sequence as the fold."""
    def norm2(v):
        if v is None:
            return None
        acc = 0.0
        for x in v:
            if x is None:
                return None
            acc = acc + x * x
        return acc

    na2, nb2 = norm2(va), norm2(vb)
    if na2 is None or nb2 is None:
        return 0.0
    na, nb = math.sqrt(na2), math.sqrt(nb2)
    if not (na > 0 and nb > 0):
        return 0.0
    if len(va) != len(vb):
        return None  # padded null poisons the dot fold
    acc = 0.0
    for x, y in zip(va, vb):
        acc = acc + x * y
    return acc / (na * nb)
