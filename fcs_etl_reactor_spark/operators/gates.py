"""Gating operators — SURVEY.md §2.2 P2 (range) / P5 (polygon,
ellipse). The reference pipeline's step 3 (debris removal, population
selection) reconstructed from the public TASBE/flowCore gating model.

All three gates are pure Column predicates: they run inside whole-stage
codegen with no Python runner, and range gates push partially into the
parquet scan. The polygon gate unrolls even-odd ray casting into one
crossing test per edge, with the vertices as literals, so it costs
O(rows × edges) JVM arithmetic and no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_gate(col: Column | str, lo: float, hi: float) -> Column:
    """1-D channel gate lo <= x < hi (P2). Pushes down to parquet."""
    c = F.col(col) if isinstance(col, str) else col
    return (c >= F.lit(lo)) & (c < F.lit(hi))


def ellipse_gate(
    x: Column | str,
    y: Column | str,
    cx: float,
    cy: float,
    rx: float,
    ry: float,
    theta: float = 0.0,
) -> Column:
    """Rotated-ellipse gate as a pure expression (no UDF): point inside
    iff ((dx·cosθ+dy·sinθ)/rx)² + ((−dx·sinθ+dy·cosθ)/ry)² ≤ 1."""
    import math

    xc = F.col(x) if isinstance(x, str) else x
    yc = F.col(y) if isinstance(y, str) else y
    dx, dy = xc - F.lit(cx), yc - F.lit(cy)
    ct, st = math.cos(theta), math.sin(theta)
    u = (dx * F.lit(ct) + dy * F.lit(st)) / F.lit(rx)
    v = (-dx * F.lit(st) + dy * F.lit(ct)) / F.lit(ry)
    return (u * u + v * v) <= F.lit(1.0)


def polygon_gate(x: Column | str, y: Column | str, vertices: list[tuple[float, float]]) -> Column:
    """2-D polygon gate (P5): even-odd ray casting as a Column expression.

    ``vertices`` is the polygon boundary (closed implicitly). Edge i
    joins vertex i to vertex i-1; it crosses the point's rightward ray
    iff ``(y1 > py) != (y2 > py)`` and ``px < (x2-x1)*(py-y1)/(y2-y1)+x1``
    (float64, in that op order), and the crossings are XOR-folded.
    Points exactly on an edge follow that half-open convention.
    Horizontal edges never cross, so they are left out, and no division
    by zero is planned. A null coordinate is outside.
    """
    px = (F.col(x) if isinstance(x, str) else x).cast("double")
    py = (F.col(y) if isinstance(y, str) else y).cast("double")
    # + 0.0 turns a -0.0 vertex into 0.0, which no comparison here can
    # tell apart. Spark's Literal equality calls -0.0 and 0.0 equal but
    # hashes them apart, and subexpression elimination then reads the
    # never-computed slot of one for the other (a wrong, constant row).
    vs = [(float(vx) + 0.0, float(vy) + 0.0) for vx, vy in vertices]
    inside = None
    for i in range(len(vs)):
        x1, y1 = vs[i]
        x2, y2 = vs[i - 1]
        if y1 == y2:
            continue
        crosses = (F.lit(y1) > py) != (F.lit(y2) > py)
        xint = F.lit(x2 - x1) * (py - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        term = crosses & (px < xint)
        inside = term if inside is None else inside != term
    return F.lit(False) if inside is None else F.coalesce(inside, F.lit(False))


def apply_gates(df: DataFrame, gates: dict[str, Column]) -> DataFrame:
    """Attach named boolean gate columns + an `ungated` conjunction
    flag; callers filter on what they need (keeps one scan for all
    gate statistics)."""
    out = df
    combined = None
    for name, cond in gates.items():
        out = out.withColumn(name, cond)
        combined = F.col(name) if combined is None else (combined & F.col(name))
    if combined is not None:
        out = out.withColumn("all_gates", combined)
    return out
