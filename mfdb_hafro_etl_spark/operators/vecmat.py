"""The vector-matrix step of the embedding kernels in
:mod:`.similarity`. It lives apart from that module because the
kernels run in Python workers: a kernel that calls a function of
``similarity`` makes each worker import it and its driver-side
dependencies (``sinks``, ``pyspark.sql.functions``), while this module
imports numpy only."""

from __future__ import annotations

import numpy as np


def _vec_matrix(vecs) -> np.ndarray:
    """The vectors of one Arrow batch (a pandas Series of numpy arrays)
    as one float64 matrix: a single stack, then a widening of float32
    input, which is exact."""
    return np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
