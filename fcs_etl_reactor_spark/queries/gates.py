"""P5 gating envelope query (SURVEY.md §2.2): polygon point-in-polygon
gate over two lineitem-derived coordinates, oracle-checked exactly.

The polygon gate is operators/gates.polygon_gate, an even-odd
ray-caster built as a Column expression. The oracle is its SQL twin:
the SAME crossing arithmetic, with the SAME literal vertices, emitted
as SQL — float64 ops in identical order are IEEE-exact in both
engines, so the boolean matches row for row (the q6f trick).

Scale: the gate is one codegen-fused projection, stateless and
shuffle-free — O(rows × edges) JVM arithmetic at scan parallelism
whatever the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.io import load
from fcs_etl_reactor_spark.operators.gates import polygon_gate
from fcs_etl_reactor_spark.queries import query

#: Non-convex integer-lattice pentagon inside the (quantity, partkey%40)
#: domain [1,50]×[0,39]. No horizontal edges (adjacent y's all differ),
#: so the crossing division is never 0/0.
_POLY = [(5, 5), (45, 2), (40, 35), (25, 15), (10, 38)]


def _edge_terms_sql(px: str, py: str) -> str:
    """The ray-caster's per-edge crossing test as SQL, replicating
    operators/gates.polygon_gate arithmetic term for term: edge i pairs
    vertex i with vertex i-1 (j = i-1 mod n), crosses iff the edge
    spans py's horizontal line, counts iff px is left of the
    intersection x = (x2-x1)*(py-y1)/(y2-y1)+x1 (float64, same op
    order both engines)."""
    terms = []
    n = len(_POLY)
    for i in range(n):
        x1, y1 = _POLY[i]
        x2, y2 = _POLY[(i - 1) % n]
        terms.append(
            f"CASE WHEN ({y1} > {py}) != ({y2} > {py})"
            f" AND {px} < ({x2} - {x1}) * ({py} - {y1})"
            f" / CAST({y2} - {y1} AS DOUBLE) + {x1}"
            f" THEN 1 ELSE 0 END"
        )
    return " + ".join(terms)


@query(
    "q4b_polygon_gate",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           l_quantity AS x,
           CAST(l_partkey % 40 AS DOUBLE) AS y,
           ({_edge_terms_sql("l_quantity", "CAST(l_partkey % 40 AS DOUBLE)")})
             % 2 = 1 AS inside
    FROM lineitem
    WHERE l_orderkey % 10 = 0
    """,
)
def q4b_polygon_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")  # noqa: E741
    sample = l.filter(F.col("l_orderkey") % 10 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("x"),
        (F.col("l_partkey") % 40).cast("double").alias("y"),
    )
    return sample.withColumn("inside", polygon_gate("x", "y", _POLY))


# --------------------------------------------------------------------------
# q4e — ellipse gate (P5's second form): pure-expression membership,
# whole-stage codegen, no UDF. θ=0 keeps cos/sin exact
# literals so both engines run identical IEEE arithmetic; rotation is
# covered by operator unit tests. The gated rollup is the reference's
# "population fraction per sample" shape.
# --------------------------------------------------------------------------


@query(
    "q4e_ellipse_gate",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN
               ((l_quantity - 25.0) / 15.0) * ((l_quantity - 25.0) / 15.0)
             + ((l_discount * 100.0 - 5.0) / 4.0)
               * ((l_discount * 100.0 - 5.0) / 4.0) <= 1.0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_inside
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q4e_ellipse_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.gates import ellipse_gate

    l = load(spark, sf_dir, "lineitem")  # noqa: E741
    inside = ellipse_gate(
        F.col("l_quantity"),
        F.col("l_discount") * 100.0,
        cx=25.0, cy=5.0, rx=15.0, ry=4.0,
    )
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(inside, 1).otherwise(0)).cast("bigint").alias("n_inside"),
    )


# --------------------------------------------------------------------------
# q4j — grid-bucketed spatial join (point-in-radius), the scalable
# spatial-join pattern: bucket points into cells of size = radius,
# cover each query center with its 3x3 cell neighborhood, equi-join on
# the cell id, then exact-filter by distance. Because the cell size
# equals the radius, every true match is within +/-1 cell of the
# center's cell, so the equi-join provably loses nothing — and the
# oracle IS the naive quadratic distance join, making the equivalence
# the thing the driver verifies (the same oracle-as-exact-arm pattern
# as the LSH family).
#
# Coordinates are md5-derived integer centi-units (0..9999), so every
# squared distance is exact BIGINT arithmetic in both engines — a
# float spatial join could flip boundary points between engines.
#
# Scale: the 9-cell side is the SMALL side (facilities), exploded then
# broadcast; points shuffle nowhere (scan → project cell → probe).
# At 100 TB the equi-join on cell id replaces the O(|P|·|F|) cross
# join with O(|P| + matches) — the standard geohash/S2 topology.
# --------------------------------------------------------------------------

_CELL = 500          # centi-units; == radius
_R2 = _CELL * _CELL  # squared radius


def _ixy(key: str, salt: str):
    """Deterministic integer coordinate in [0, 10000) from md5."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 10000
    )


def _o_ixy(key: str, salt: str) -> str:
    return (
        f"CAST(('0x' || SUBSTR(MD5(CAST({key} AS VARCHAR) || '{salt}'), 1, 8))"
        f" AS BIGINT) % 10000"
    )


@query(
    "q4j_spatial_grid_join",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey, c_acctbal,
             {_o_ixy("c_custkey", "px")} AS xi,
             {_o_ixy("c_custkey", "py")} AS yi
      FROM customer
    ),
    fac AS (
      SELECT s_suppkey,
             {_o_ixy("s_suppkey", "px")} AS xf,
             {_o_ixy("s_suppkey", "py")} AS yf
      FROM supplier
    )
    SELECT s_suppkey,
           COUNT(*) AS n_within,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_acctbal
    FROM fac JOIN pts
      ON (xi - xf) * (xi - xf) + (yi - yf) * (yi - yf) <= {_R2}
    GROUP BY s_suppkey
    """,
)
def q4j_spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    pts = c.select(
        "c_custkey",
        "c_acctbal",
        _ixy("c_custkey", "px").alias("xi"),
        _ixy("c_custkey", "py").alias("yi"),
    ).withColumns(
        {
            "cell_x": F.expr(f"xi div {_CELL}"),
            "cell_y": F.expr(f"yi div {_CELL}"),
        }
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    fac = (
        s.select(
            "s_suppkey",
            _ixy("s_suppkey", "px").alias("xf"),
            _ixy("s_suppkey", "py").alias("yf"),
        )
        .withColumn("dx", F.explode(off))
        .withColumn("dy", F.explode(off))
        .withColumns(
            {
                "cell_x": F.expr(f"xf div {_CELL}") + F.col("dx"),
                "cell_y": F.expr(f"yf div {_CELL}") + F.col("dy"),
            }
        )
    )
    d2 = (F.col("xi") - F.col("xf")) * (F.col("xi") - F.col("xf")) + (
        F.col("yi") - F.col("yf")
    ) * (F.col("yi") - F.col("yf"))
    return (
        pts.join(F.broadcast(fac), ["cell_x", "cell_y"])
        .filter(d2 <= F.lit(_R2))
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            (
                F.sum(F.floor(F.col("c_acctbal") * 100.0 + F.lit(0.5)).cast("long"))
                .cast("double")
                / 100.0
            ).alias("sum_acctbal"),
        )
    )
