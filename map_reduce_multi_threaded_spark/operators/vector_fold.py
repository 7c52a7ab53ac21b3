"""The sequential-fold kernel of the Arrow embedding scorers.

Every numpy scorer in :mod:`.similarity` reads its Arrow batch with
:func:`batch_matrix` and folds dots and norms with :func:`dots` and
:func:`sq_norms`, the only per-dimension accumulation loops.  Each loop
step is one vectorized multiply and one add; numpy rounds each
elementwise op correctly and never fuses them, so every (row, column)
scalar sees exactly the JVM ``aggregate`` / DuckDB ``list_sum``
left-to-right fold from a +0.0 seed, and ``np.sqrt`` equals the
engines' ``sqrt``.  numpy's pairwise ``sum()`` and BLAS ``matmul``
round differently and could flip a near-zero projection's sign or a
cosine tie (tests/test_similarity.py fails on either swap).

The kernel lives apart from :mod:`.similarity` because cloudpickle
ships module-level functions by reference: a Python worker that
unpickles a scorer imports this module, and it needs only numpy.
Importing :mod:`.similarity` itself builds every oracle's SQL (~60 ms
per worker).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

DIM = 64  # embedding width (FIXTURES.md)


def batch_matrix(col: pd.Series, dtype=np.float64) -> np.ndarray:
    """One Arrow batch of array values as a (rows, DIM) matrix.  An
    empty batch reads as a (0, DIM) matrix, so each scorer's
    vectorized math yields its own empty result with no special case."""
    if len(col) == 0:
        return np.empty((0, DIM), dtype=dtype)
    return np.stack(col.to_numpy()).astype(dtype)


def sq_norms(m: np.ndarray) -> np.ndarray:
    """Row-wise squared L2 norms of a (rows, DIM) matrix."""
    acc = np.zeros(m.shape[0])
    for j in range(DIM):
        acc = acc + m[:, j] * m[:, j]
    return acc


def dots(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """(n, DIM) × (k, DIM) → (n, k) dot products."""
    acc = np.zeros((rows.shape[0], cols.shape[0]))
    for j in range(DIM):
        acc = acc + rows[:, j : j + 1] * cols[:, j]
    return acc


def norms(m: np.ndarray) -> np.ndarray:
    """Row L2 norms.  A zero-norm row raises: its cosine is undefined,
    a NaN score would rank first under Spark's NaN-largest ordering,
    and a NaN quantized through ``floor().astype(int64)`` is undefined
    in numpy."""
    sq = sq_norms(m)
    if not np.all(sq > 0.0):
        raise ValueError("zero-norm embedding: cosine space undefined")
    return np.sqrt(sq)


def unit(m: np.ndarray) -> np.ndarray:
    """Rows divided elementwise by their :func:`norms`."""
    return m / norms(m)[:, None]
