"""Vector math — JVM expression path + Arrow/Pandas vectorized path.

The JVM path (`cosine_expr`) folds with `zip_with`/`aggregate`: exact,
deterministic summation order (matches the DuckDB oracle), but Spark runs
higher-order lambdas interpreted — fine at 64 dims, linear cost in width.

The Pandas-UDF path (`cosine_pandas_udf`) ships both columns through Arrow
and does one numpy matmul per batch — the wide-vector (≥ 512-dim) choice:
per-batch O(rows·dim) SIMD instead of per-element interpreted eval. Its
float summation order differs (numpy pairwise), so use it where a 1e-12
tolerance is acceptable — ranking, thresholding — not where bit-exact
oracle parity is required.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def dot_fold(a: Column, b: Column) -> Column:
    """JVM dot product as ONE left-to-right fold over the pairwise products —
    the summation order the DuckDB oracle's list ops and the numpy kernels
    below reproduce bit for bit; every JVM dot in the package is this
    expression."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine_expr(a: Column, b: Column) -> Column:
    """JVM cosine: deterministic sequential fold (oracle-parity path)."""
    dot = dot_fold(a, b)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


@pandas_udf(DoubleType())
def cosine_pandas_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine: one numpy matmul per batch (wide-vector path)."""
    ma = np.stack(a.to_numpy())
    mb = np.stack(b.to_numpy())
    dots = np.einsum("ij,ij->i", ma, mb)
    norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(dots / norms)


# ── sequential-order batch kernels (oracle-parity safe) ─────────────────────
# These reproduce the JVM fold F.aggregate(zip_with(a,b,x*y), 0.0, acc+x)
# BIT-FOR-BIT: every product a_i*b_i is rounded once (IEEE double multiply,
# identical in the JVM and numpy), then the 64 partial sums are formed in
# the same left-to-right order — acc_k = fl(acc_{k-1} + p_k) — as explicit
# vectorized adds over the k axis. NO numpy reduction (np.sum/.dot/einsum
# uses pairwise/SIMD summation, which reassociates and can differ in the
# last bits; that is the summation-order hazard the r12 memory note pins).


def seq_dot_rows(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """Row-wise sequential-fold dot of two (n, dim) matrices."""
    prod = ma * mb
    acc = np.zeros(prod.shape[0], dtype=np.float64)
    for k in range(prod.shape[1]):
        acc = acc + prod[:, k]
    return acc


def seq_dot_cross(ma: np.ndarray, mb: np.ndarray) -> np.ndarray:
    """All-pairs sequential-fold dot: (m, dim) × (n, dim) → (m, n).

    acc is accumulated as dim rank-1 updates — per pair the additions
    happen in exactly the fold's order, so every cell is bit-identical to
    the JVM fold of that pair (each += rounds once per cell, products
    round once; no reassociation)."""
    acc = np.zeros((ma.shape[0], mb.shape[0]), dtype=np.float64)
    for k in range(ma.shape[1]):
        acc += np.multiply.outer(ma[:, k], mb[:, k])
    return acc
