"""Search objective for the ``search_portfolio`` workload.

Imported by Spark's Python workers, so it depends on numpy alone.
"""

from __future__ import annotations

import numpy as np

DIMS = 10
# axis weights: condition number 4, so pattern search converges in a
# handful of poll rounds from a few steps away
WEIGHTS = np.linspace(1.0, 4.0, DIMS)
# fixed elementwise work per evaluation (no BLAS): BURN_WIDTH sines,
# BURN_PASSES times over
BURN_WIDTH = 8192
BURN_PASSES = 32


def shifted_quadratic(xs: np.ndarray, center: np.ndarray) -> np.ndarray:
    """Vectorized objective over a (points, DIMS) batch: a weighted
    quadratic with its argmin at ``center``, plus a fixed CPU cost per
    point that does not change the value."""
    d = xs - center
    z = np.tile(d[:, :1], (1, BURN_WIDTH))
    for _ in range(BURN_PASSES):
        z = np.sin(z)
    return (WEIGHTS * d * d).sum(axis=1) + 0.0 * z[:, 0]
