"""Spillover compensation (SURVEY.md §2.9 C1).

The FCS compensation step multiplies every event's channel vector by a
(channels × channels) inverse-spillover matrix. With n_channels ~ 4-40,
the Spark-first form is NOT a UDF: the matrix is driver-side constant
data, so we generate n_channels column expressions
``sum_j M[i][j] * col_j`` — Catalyst constant-folds the weights and
WholeStageCodegen fuses the whole matvec into the scan projection.
Zero Python, zero shuffle, scales to any row count.

A Pandas-UDF/NumPy path would pay Arrow serialization for a fused
multiply the JVM already does for free at this matrix size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compensation_exprs(channels: list[str], matrix: list[list[float]]) -> list[Column]:
    """Unaliased ``Σ_j matrix[i][j] * channels[j]`` per channel i, summed
    left to right: ``(m[i][0]·c0 + m[i][1]·c1) + …``."""
    n = len(channels)
    assert len(matrix) == n and all(len(row) == n for row in matrix)
    outs = []
    for i in range(n):
        expr = None
        for j in range(n):
            term = F.lit(matrix[i][j]) * F.col(channels[j])
            expr = term if expr is None else expr + term
        outs.append(expr)
    return outs


def compensate(
    df: DataFrame,
    channels: list[str],
    matrix: list[list[float]],
    keep: list[str] | None = None,
    prefix: str = "comp_",
) -> DataFrame:
    """Apply ``out_i = Σ_j matrix[i][j] * channels[j]`` per row."""
    outs = [
        e.alias(f"{prefix}{c}") for c, e in zip(channels, compensation_exprs(channels, matrix))
    ]
    keep_cols = [F.col(c) for c in (keep if keep is not None else df.columns)]
    return df.select(*keep_cols, *outs)
