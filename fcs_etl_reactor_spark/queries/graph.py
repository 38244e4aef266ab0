"""Iterative graph algorithms over the relational fixtures.

PageRank is the canonical "iterative algorithm the engine must not
fake": each iteration is edges ⋈ ranks (shuffle on src) followed by a
groupBy(dst) — the textbook distributed formulation. Iteration state
is localCheckpointed per round (the MLlib checkpoint cadence; see
operators/graphs.py): each round runs as a small sequential job
instead of one deep plan whose stages AQE materializes concurrently
(measured OOM on a vanilla 1g heap), and lineage truncation lets
earlier rounds' shuffles be cleaned. No driver-side collect of row
data anywhere.

Determinism strategy (oracle parity): ranks are FIXED-POINT longs
(scale 1e12). Every per-iteration op — FLOOR(r/outdeg) contribution,
FLOOR(sum*85/100.0) damping, FLOOR(1.5e11/N) base — is an IEEE double
op on integer-valued inputs below 2^53 followed by a floor, which is
bit-identical in Spark and DuckDB regardless of partitioning or
summation order (integer sums are exact). No last-ulp drift is
possible, unlike a double-typed PageRank.

Scale shape: ranks and edges are both distributed; out-degrees are
computed once and joined (not broadcast — |V| is unbounded); the
per-iteration shuffle is |E| contributions hash-partitioned on dst
with map-side partial sums. Dangling mass (suppliers have no
out-edges) is dropped, the standard simplified formulation — total
mass shrinks, relative ranking is preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.io import load
from fcs_etl_reactor_spark.queries import query

from fcs_etl_reactor_spark.operators.graphs import (
    DAMP_DEN as _DAMP_DEN,
    DAMP_NUM as _DAMP_NUM,
    PR_SCALE as _PR_SCALE,
)

_PR_ITERS = 3  # fixed unroll — an iteration cap by construction


def _pagerank_oracle(iters: int = _PR_ITERS) -> str:
    base = f"CAST(FLOOR({_PR_SCALE * (_DAMP_DEN - _DAMP_NUM) // _DAMP_DEN}.0 / n_nodes) AS BIGINT)"
    ctes = [
        """edges AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )""",
        """nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    )""",
        """deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)""",
        """n AS (SELECT COUNT(*) AS n_nodes FROM nodes)""",
        f"""r0 AS (
      SELECT node, CAST(FLOOR({_PR_SCALE}.0 / n_nodes) AS BIGINT) AS r
      FROM nodes CROSS JOIN n
    )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""m{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(FLOOR(r.r / d.outdeg) AS BIGINT)) AS m
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""r{i} AS (
      SELECT nodes.node,
             {base}
             + CAST(FLOOR(COALESCE(m{i}.m, 0) * {_DAMP_NUM} / {_DAMP_DEN}.0) AS BIGINT)
               AS r
      FROM nodes CROSS JOIN n LEFT JOIN m{i} ON nodes.node = m{i}.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, r AS rank_scaled FROM r{iters}"
    )


@query("q5n_pagerank", oracle=_pagerank_oracle())
def q5n_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank on the customer→supplier purchase graph
    (operators/graphs.pagerank; oracle generated above replays the
    identical fixed-point arithmetic).

    Edges: distinct (customer, supplier) pairs observed in orders ⋈
    lineitem, namespaced 'c<id>' / 's<id>' into one node id space.
    """
    from fcs_etl_reactor_spark.operators.graphs import pagerank

    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iters=_PR_ITERS)


# --------------------------------------------------------------------------
# q5o — triangle counting on the co-purchase graph (edges = part pairs
# appearing in ≥ 2 shared orders). The classic distributed-graph
# benchmark after PageRank, implemented with DEGREE ORIENTATION: every
# undirected edge is stored once, directed from its lower-(deg, id)
# endpoint to its higher one. Wedges join on the shared source and the
# third (oriented) edge closes them, so each triangle is counted
# exactly once with no dedup pass — and the wedge fanout per vertex is
# its OUT-degree, which degree orientation caps at O(√m) even on
# hub-heavy graphs (the id-oriented variant probed 12.9× at a 10×
# densified graph; degree orientation is the production form).
# Determinism: orientation and wedge canonicalization compare integer
# (deg, id) pairs — no floats anywhere.
# --------------------------------------------------------------------------

_TRI_MIN_SHARED = 2


@query(
    "q5o_triangles",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_TRI_MIN_SHARED}
    ),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und
      ) GROUP BY v
    ),
    oriented AS (
      SELECT
        CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS src,
        CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS dst,
        CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS ddeg
      FROM und u
      JOIN deg da ON da.v = u.a
      JOIN deg db ON db.v = u.b
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_triangles,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM oriented) AS n_edges
    FROM oriented e1
    JOIN oriented e2
      ON e2.src = e1.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
    JOIN oriented e3
      ON e3.src = e1.dst AND e3.dst = e2.dst
    """,
)
def q5o_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output contract: BOUNDED — one row (n_triangles, n_edges). The
    triangle listing is an intermediate that is never collected: an
    exact count must touch every triangle by spec, but the corners
    flow straight into partial counts (map-side combine), so a
    pathological graph costs shuffle/CPU on the degree-oriented
    O(m^1.5) join, never driver memory or output rows. Full-listing
    consumers use operators/graphs.oriented_triangles and own their
    own cap (min_shared pre-filter or k-core peel first)."""
    from fcs_etl_reactor_spark.operators.graphs import (
        copurchase_pairs,
        triangle_count,
    )

    li = load(spark, sf_dir, "lineitem")
    und = copurchase_pairs(li, min_shared=_TRI_MIN_SHARED).select("a", "b")
    return triangle_count(und)


# --------------------------------------------------------------------------
# q5r — single-source BFS hop distances over the co-purchase graph
# (unweighted SSSP, operators/graphs.bfs_hops): the third iterative
# graph algorithm beside PageRank (q5n) and connected components
# (q5b/q5f). Source = smallest part id with any edge; 3 unrolled
# frontier rounds; distances are INTs so MIN is order-independent —
# no fixed-point scaling needed. The oracle unrolls the same rounds
# as a CTE chain. Output is the hop histogram (calendar of the
# graph's 3-hop neighborhood sizes).
# --------------------------------------------------------------------------

_BFS_HOPS = 3


def _bfs_oracle(hops: int) -> str:
    ctes = [
        """e0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )""",
        """edges AS (
      SELECT p1 AS src, p2 AS dst FROM e0
      UNION ALL
      SELECT p2, p1 FROM e0
    )""",
        """d0 AS (
      SELECT MIN(src) AS node, 0 AS d FROM edges
    )""",
    ]
    for t in range(1, hops + 1):
        ctes.append(f"""d{t} AS (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM d{t - 1}
        UNION ALL
        SELECT e.dst, p.d + 1 FROM d{t - 1} p JOIN edges e ON e.src = p.node
      ) GROUP BY node
    )""")
    return f"""
    WITH {','.join(ctes)}
    SELECT CAST(d AS INTEGER) AS hop, COUNT(*) AS n_nodes
    FROM d{hops} GROUP BY 1
    """


@query("q5r_bfs_hops", oracle=_bfs_oracle(_BFS_HOPS))
def q5r_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.graphs import bfs_hops, copurchase_pairs

    l = load(spark, sf_dir, "lineitem")
    from fcs_etl_reactor_spark.operators.graphs import symmetrize

    pairs = copurchase_pairs(l).select("a", "b")
    # one-pass symmetrization: the unionAll form executed the
    # co-purchase self-join twice inside bfs_hops' checkpoint job
    und = symmetrize(pairs, "a", "b", "src", "dst")
    dist = bfs_hops(und, _BFS_HOPS)
    return dist.groupBy(F.col("d").cast("int").alias("hop")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


# --------------------------------------------------------------------------
# q1d — Apriori frequent-triple mining over market baskets: L2 =
# frequent pairs, candidate triples generated by the classic prefix
# join L2(a,b) x L2(a,c), PRUNED by requiring the third face (b,c) in
# L2, then support-counted candidate-first (three order-keyed joins
# driven BY the candidate set — the whole point of Apriori at scale:
# the corpus is never triple-enumerated).
# Support is a FRACTION of the basket count — max(2, ceil(N/10000))
# — computed as a 1-row broadcast on both sides. An absolute support
# does not survive data growth: the 10x scale probe measured 149x
# wall with support=2 because the frequent-pair lattice explodes as
# density rises; with fractional support the probe is ~linear.
# The oracle enumerates triples naively with HAVING — equal by the
# Apriori downward-closure property (every frequent triple's faces
# are frequent), so the driver verifies pruned == naive.
# --------------------------------------------------------------------------


_AP_ORACLE = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    thr AS (SELECT GREATEST(2, CAST(CEIL(COUNT(DISTINCT o) / 10000.0)
                                    AS BIGINT)) AS s FROM op)
    SELECT a.p AS p1, b.p AS p2, c.p AS p3, COUNT(*) AS support
    FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
              JOIN op c ON b.o = c.o AND b.p < c.p
    GROUP BY 1, 2, 3
    HAVING COUNT(*) >= (SELECT s FROM thr)
    """


@query("q1d_apriori_triples", oracle=_AP_ORACLE)
def q1d_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output contract: SUPPORT-CAPPED — only triples above the
    fractional min-support (≥ max(2, |orders|/10k)) survive, and the
    apriori invariant prunes BEFORE the expensive join: candidate
    triples are generated from frequent PAIRS only, so the
    intermediate is support-filtered at every level. On a pathological
    basket corpus the support threshold (a fraction of |orders|, not a
    constant) is what keeps the lattice from exploding — the classic
    apriori guarantee, not an ad-hoc limit."""
    l = load(spark, sf_dir, "lineitem")
    op = l.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    thr = op.agg(
        F.greatest(
            F.lit(2).cast("bigint"),
            F.ceil(F.count_distinct("o") / F.lit(10000.0)).cast("bigint"),
        ).alias("s")
    )
    # L2: frequent pairs at the fractional support
    oa, ob = op.alias("oa"), op.alias("ob")
    l2 = (
        oa.join(
            ob,
            (F.col("oa.o") == F.col("ob.o")) & (F.col("oa.p") < F.col("ob.p")),
        )
        .groupBy(F.col("oa.p").alias("x"), F.col("ob.p").alias("y"))
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(thr))
        .filter(F.col("n") >= F.col("s"))
        .select("x", "y")
    )
    # candidate generation: shared prefix + downward-closure prune
    ab = l2.select(F.col("x").alias("p1"), F.col("y").alias("p2"))
    ac = l2.select(F.col("x").alias("p1"), F.col("y").alias("p3"))
    bc = l2.select(F.col("x").alias("p2"), F.col("y").alias("p3"))
    cand = (
        ab.join(ac, "p1")
        .filter(F.col("p2") < F.col("p3"))
        .join(bc, ["p2", "p3"], "left_semi")
    )
    # candidate-driven support counting: three joins keyed on the
    # order id, each restricted to candidate members
    o1 = op.select(F.col("o"), F.col("p").alias("q1"))
    o2 = op.select(F.col("o").alias("o2"), F.col("p").alias("q2"))
    o3 = op.select(F.col("o").alias("o3"), F.col("p").alias("q3"))
    return (
        cand.join(o1, F.col("q1") == F.col("p1"))
        .join(o2, (F.col("o") == F.col("o2")) & (F.col("q2") == F.col("p2")))
        .join(o3, (F.col("o") == F.col("o3")) & (F.col("q3") == F.col("p3")))
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).alias("support"))
        .join(F.broadcast(thr))
        .filter(F.col("support") >= F.col("s"))
        .select("p1", "p2", "p3", "support")
    )


# --------------------------------------------------------------------------
# q1e — item-item collaborative filtering: top-5 most co-purchased
# parts per catalog item (the p_size=1 slice), scored by cosine
# similarity over order co-occurrence — sim(a,b) = c_ab/√(c_a·c_b).
# The RANKING key is (c_ab, other) — integers only, so the top-5 set
# never depends on float ordering; the cosine is emitted as a 9-dp
# value. Co-occurrence pairs come from the order-bounded self-join
# (never corpus-quadratic); per-item totals are a part-bounded
# broadcast.
# --------------------------------------------------------------------------


@query(
    "q1e_item_similarity",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    cnt AS (SELECT p, COUNT(*) AS c FROM op GROUP BY 1),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS cab
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT p1 AS item, p2 AS other, cab FROM pairs
      UNION ALL
      SELECT p2, p1, cab FROM pairs
    ),
    ranked AS (
      SELECT s.item, s.other, s.cab,
             ROUND(CAST(s.cab AS DOUBLE)
                   / SQRT(CAST(ci.c AS DOUBLE) * CAST(co.c AS DOUBLE)), 9)
               AS sim,
             ROW_NUMBER() OVER (PARTITION BY s.item
                                ORDER BY s.cab DESC, s.other) AS rn
      FROM sym s JOIN cnt ci ON s.item = ci.p
                 JOIN cnt co ON s.other = co.p
    )
    SELECT r.item, r.other, r.cab, r.sim
    FROM ranked r JOIN part ON r.item = p_partkey
    WHERE p_size = 1 AND rn <= 5
    """,
)
def q1e_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    op = l.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pk")
    ).distinct()
    cnt = op.groupBy(F.col("pk")).agg(F.count(F.lit(1)).alias("c"))
    # pairs over the DISTINCT (order, part) set — true co-occurrence,
    # not lineitem-row pairs (a part listed twice in one order must
    # not inflate the count)
    oa, ob = op.alias("oa"), op.alias("ob")
    pairs = (
        oa.join(
            ob,
            (F.col("oa.o") == F.col("ob.o")) & (F.col("oa.pk") < F.col("ob.pk")),
        )
        .groupBy(F.col("oa.pk").alias("a"), F.col("ob.pk").alias("b"))
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    sym = pairs.selectExpr("a AS item", "b AS other", "cab").unionAll(
        pairs.selectExpr("b AS item", "a AS other", "cab")
    )
    ci = cnt.select(F.col("pk").alias("item"), F.col("c").alias("ci"))
    co = cnt.select(F.col("pk").alias("other"), F.col("c").alias("co"))
    w = Window.partitionBy("item").orderBy(F.col("cab").desc(), F.col("other"))
    return (
        sym.join(F.broadcast(ci), "item")
        .join(F.broadcast(co), "other")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .join(F.broadcast(p), F.col("item") == F.col("p_partkey"), "left_semi")
        .select(
            "item",
            "other",
            "cab",
            F.round(
                F.col("cab").cast("double")
                / F.sqrt(F.col("ci").cast("double") * F.col("co").cast("double")),
                9,
            ).alias("sim"),
        )
    )


# --------------------------------------------------------------------------
# q5s — Bellman-Ford weighted shortest paths (3 relaxation rounds)
# over the co-purchase graph, edge weight = 6 − LEAST(n_orders, 5)
# (stronger co-purchase ties are "closer": weight 1..5). Same Pregel
# topology as BFS (q5r) with integer distance MIN — exact at any
# partitioning; the oracle unrolls the rounds. Unreached nodes absent
# by construction on both sides.
# --------------------------------------------------------------------------

_BF_ROUNDS = 3


def _bf_oracle(rounds: int) -> str:
    ctes = [
        """e0 AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )""",
        """edges AS (
      SELECT p1 AS src, p2 AS dst, 6 - LEAST(n, 5) AS w FROM e0
      UNION ALL
      SELECT p2, p1, 6 - LEAST(n, 5) FROM e0
    )""",
        """d0 AS (
      SELECT MIN(src) AS node, 0 AS d FROM edges
    )""",
    ]
    for t in range(1, rounds + 1):
        ctes.append(f"""d{t} AS (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM d{t - 1}
        UNION ALL
        SELECT e.dst, p.d + e.w FROM d{t - 1} p JOIN edges e ON e.src = p.node
      ) GROUP BY node
    )""")
    return f"""
    WITH {','.join(ctes)}
    SELECT CAST(d AS INTEGER) AS dist, COUNT(*) AS n_nodes
    FROM d{rounds} GROUP BY 1
    """


@query("q5s_bellman_ford", oracle=_bf_oracle(_BF_ROUNDS))
def q5s_bellman_ford(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.graphs import copurchase_pairs

    l = load(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(l)
    from fcs_etl_reactor_spark.operators.graphs import symmetrize

    wcol = (F.lit(6) - F.least(F.col("n_orders"), F.lit(5))).cast("int")
    # one-pass symmetrization: the unionAll form executed the
    # co-purchase self-join twice inside the checkpoint job
    und = symmetrize(
        pairs.select("a", "b", wcol.alias("w")), "a", "b", "src", "dst",
        carry=["w"],
    )
    und = und.localCheckpoint()
    dist = (
        und.agg(F.min("src").alias("node"))
        .withColumn("d", F.lit(0).cast("int"))
    )
    for _ in range(_BF_ROUNDS):
        nxt = dist.join(und, dist["node"] == und["src"]).select(
            F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
        )
        dist = (
            dist.unionAll(nxt)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return dist.groupBy(F.col("d").cast("int").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


# --------------------------------------------------------------------------
# q1f — offline recommender evaluation (MRR@5): split orders into
# train (orderkey % 5 != 0) and test (% 5 == 0), build top-5
# co-purchase recommendations per catalog item (p_size = 1 slice)
# from TRAIN only, then score them against TEST co-occurrence as
# ground truth. Reciprocal ranks are kept EXACT by scaling with
# lcm(1..5) = 60 — rr_scaled = 60 / rank is an integer — so the MRR
# numerator is an exact BIGINT sum and only the final division is
# float. Denominator = items with at least one recommendation.
# Scale: the same order-bounded pair joins as q1e; the eval join is
# rec-set (items × 5) vs test-pair set, both bounded.
# --------------------------------------------------------------------------


@query(
    "q1f_recsys_eval",
    oracle="""
    WITH train AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey % 5 <> 0
    ),
    test AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey % 5 = 0
    ),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS cab
      FROM train a JOIN train b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT p1 AS item, p2 AS other, cab FROM pairs
      UNION ALL SELECT p2, p1, cab FROM pairs
    ),
    recs AS (
      SELECT item, other, rn FROM (
        SELECT item, other,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY cab DESC, other) AS rn
        FROM sym
      ) WHERE rn <= 5
    ),
    truth AS (
      SELECT DISTINCT a.p AS item, b.p AS other
      FROM test a JOIN test b ON a.o = b.o AND a.p <> b.p
    ),
    eval_items AS (
      SELECT r.item, MIN(CASE WHEN t.other IS NOT NULL THEN r.rn END) AS hit
      FROM recs r
        JOIN part ON r.item = p_partkey AND p_size = 1
        LEFT JOIN truth t ON r.item = t.item AND r.other = t.other
      GROUP BY r.item
    )
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           CAST(SUM(CASE WHEN hit IS NOT NULL THEN 60 // hit ELSE 0 END)
                AS DOUBLE) / (60.0 * COUNT(*)) AS mrr
    FROM eval_items
    """,
)
def q1f_recsys_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    p1slice = load(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    op = l.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pk")
    ).distinct()
    train = op.filter(F.col("o") % 5 != 0)
    test = op.filter(F.col("o") % 5 == 0)
    ta, tb = train.alias("ta"), train.alias("tb")
    pairs = (
        ta.join(
            tb,
            (F.col("ta.o") == F.col("tb.o")) & (F.col("ta.pk") < F.col("tb.pk")),
        )
        .groupBy(F.col("ta.pk").alias("a"), F.col("tb.pk").alias("b"))
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    sym = pairs.selectExpr("a AS item", "b AS other", "cab").unionAll(
        pairs.selectExpr("b AS item", "a AS other", "cab")
    )
    w = Window.partitionBy("item").orderBy(F.col("cab").desc(), F.col("other"))
    recs = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .join(F.broadcast(p1slice), F.col("item") == F.col("p_partkey"), "left_semi")
        .select("item", "other", "rn")
    )
    ea, eb = test.alias("ea"), test.alias("eb")
    truth = (
        ea.join(
            eb,
            (F.col("ea.o") == F.col("eb.o")) & (F.col("ea.pk") != F.col("eb.pk")),
        )
        .select(F.col("ea.pk").alias("t_item"), F.col("eb.pk").alias("t_other"))
        .distinct()
    )
    hits = (
        recs.join(
            truth,
            (F.col("item") == F.col("t_item")) & (F.col("other") == F.col("t_other")),
            "left",
        )
        .groupBy("item")
        .agg(
            F.min(F.when(F.col("t_other").isNotNull(), F.col("rn"))).alias("hit")
        )
    )
    return hits.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_hit"),
        (
            F.sum(
                F.when(
                    F.col("hit").isNotNull(), F.expr("60 div hit")
                ).otherwise(0)
            ).cast("double")
            / (F.lit(60.0) * F.count(F.lit(1)))
        ).alias("mrr"),
    )


# --------------------------------------------------------------------------
# q1g — association-rule mining (a→b with confidence and lift) from
# the co-purchase pairs: the rule layer on top of q1c/q1d. Both
# metrics are emitted as exact INTEGER basis points —
# conf_bp = 10000·c_ab div c_a, lift_bp = 10000·N·c_ab div (c_a·c_b)
# — so no float enters the output or the ranking; top-20 by
# (c_ab, a, b). Same order-bounded pair join and part-bounded
# count broadcasts as the rest of the family.
# --------------------------------------------------------------------------


@query(
    "q1g_association_rules",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                FROM lineitem),
    n AS (SELECT COUNT(DISTINCT o) AS n FROM op),
    cnt AS (SELECT p, COUNT(*) AS c FROM op GROUP BY 1),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS cab
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    rules AS (
      SELECT p1 AS ante, p2 AS cons, cab FROM pairs
      UNION ALL
      SELECT p2, p1, cab FROM pairs
    )
    SELECT r.ante, r.cons, r.cab AS support_cnt,
           CAST(10000 * r.cab // ca.c AS BIGINT) AS conf_bp,
           CAST(10000 * n.n * r.cab // (ca.c * cc.c) AS BIGINT) AS lift_bp
    FROM rules r JOIN cnt ca ON r.ante = ca.p
                 JOIN cnt cc ON r.cons = cc.p, n
    ORDER BY r.cab DESC, r.ante, r.cons LIMIT 20
    """,
)
def q1g_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    op = l.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    n = op.agg(F.count_distinct("o").alias("n"))
    cnt = op.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    oa, ob = op.alias("oa"), op.alias("ob")
    pairs = (
        oa.join(
            ob,
            (F.col("oa.o") == F.col("ob.o")) & (F.col("oa.p") < F.col("ob.p")),
        )
        .groupBy(F.col("oa.p").alias("p1"), F.col("ob.p").alias("p2"))
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    rules = pairs.selectExpr("p1 AS ante", "p2 AS cons", "cab").unionAll(
        pairs.selectExpr("p2 AS ante", "p1 AS cons", "cab")
    )
    ca = cnt.select(F.col("p").alias("ante"), F.col("c").alias("ca"))
    cc = cnt.select(F.col("p").alias("cons"), F.col("c").alias("cc"))
    return (
        rules.join(F.broadcast(ca), "ante")
        .join(F.broadcast(cc), "cons")
        .join(F.broadcast(n))
        .select(
            "ante",
            "cons",
            F.col("cab").alias("support_cnt"),
            F.expr("10000 * cab div ca").cast("bigint").alias("conf_bp"),
            F.expr("10000 * n * cab div (ca * cc)").cast("bigint").alias("lift_bp"),
        )
        .orderBy(F.col("support_cnt").desc(), "ante", "cons")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q5x — HITS hubs & authorities (Kleinberg) on the customer→supplier
# purchase graph: the classic link-analysis dual to PageRank (q5n),
# natural on a bipartite graph — customers are pure hubs, suppliers
# pure authorities. Fixed-point integer arithmetic throughout:
# SCALE=1e6 keeps every Σ and the max-normalization product
# (score·SCALE div max) inside BIGINT in both engines, so all three
# unrolled mutual-reinforcement rounds are bit-exact at any
# partitioning. Output: top-10 authorities and top-10 hubs with an
# integer ranking key. Per-round cost: one |E| join partial-
# aggregated per side + a 1-row max broadcast — the q5n topology.
# --------------------------------------------------------------------------

# shared with the operator so the oracle replays identical arithmetic
from fcs_etl_reactor_spark.operators.graphs import HITS_SCALE as _HITS_SCALE  # noqa: E402
_HITS_ITERS = 3


def _hits_oracle(iters: int) -> str:
    s = _HITS_SCALE
    ctes = [
        """edges AS (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    )""",
        f"""h0 AS (
      SELECT DISTINCT src AS node, CAST({s} AS BIGINT) AS h FROM edges
    )""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""ar{t} AS (
      SELECT e.dst AS node, SUM(p.h) AS a
      FROM edges e JOIN h{t - 1} p ON e.src = p.node
      GROUP BY e.dst
    )""")
        ctes.append(f"""a{t} AS (
      SELECT node, CAST(a * {s} // (SELECT MAX(a) FROM ar{t}) AS BIGINT) AS a
      FROM ar{t}
    )""")
        ctes.append(f"""hr{t} AS (
      SELECT e.src AS node, SUM(q.a) AS h
      FROM edges e JOIN a{t} q ON e.dst = q.node
      GROUP BY e.src
    )""")
        ctes.append(f"""h{t} AS (
      SELECT node, CAST(h * {s} // (SELECT MAX(h) FROM hr{t}) AS BIGINT) AS h
      FROM hr{t}
    )""")
    return f"""
    WITH {','.join(ctes)},
    topa AS (
      SELECT 'authority' AS kind, node, a AS score
      FROM a{iters} ORDER BY a DESC, node LIMIT 10
    ),
    toph AS (
      SELECT 'hub' AS kind, node, h AS score
      FROM h{iters} ORDER BY h DESC, node LIMIT 10
    )
    SELECT * FROM topa UNION ALL SELECT * FROM toph
    """


@query("q5x_hits", oracle=_hits_oracle(_HITS_ITERS))
def q5x_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    from fcs_etl_reactor_spark.operators.graphs import hits_fixed_point

    edges = edges.localCheckpoint()
    a, h = hits_fixed_point(edges, iters=_HITS_ITERS)
    topa = (
        a.orderBy(F.col("a").desc(), "node")
        .limit(10)
        .select(F.lit("authority").alias("kind"), "node", F.col("a").alias("score"))
    )
    toph = (
        h.orderBy(F.col("h").desc(), "node")
        .limit(10)
        .select(F.lit("hub").alias("kind"), "node", F.col("h").alias("score"))
    )
    return topa.unionAll(toph)


# --------------------------------------------------------------------------
# q1h — k-core peeling on the co-purchase graph: R rounds of "drop
# every node with degree < k, then drop edges touching dropped
# nodes" — the standard dense-subgraph/degeneracy primitive (3 fixed
# rounds; the true k-core is this loop run to fixed point and a
# 3-round peel is already a strict, useful filter at any scale). Each
# round is one degree count over the surviving edge list + two semi
# joins; round state is localCheckpointed (operators/graphs.py), the
# same checkpoint cadence as the other iterative graph queries.
# All arithmetic is integer counting — partition- and engine-
# invariant by construction; the oracle unrolls the identical rounds
# as a CTE chain.
# --------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3
_KCORE_MIN_SHARED = 2


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    ctes = [
        f"""e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SHARED}
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS (
      SELECT node FROM (
        SELECT a AS node FROM e{r - 1} UNION ALL SELECT b FROM e{r - 1}
      ) GROUP BY node HAVING COUNT(*) >= {k}
    )"""
        )
        ctes.append(
            f"""e{r} AS (
      SELECT a, b FROM e{r - 1}
      WHERE a IN (SELECT node FROM d{r}) AND b IN (SELECT node FROM d{r})
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         SELECT a AS node FROM e{rounds} UNION SELECT b FROM e{rounds}
       )) AS n_core_nodes,
      CAST(COUNT(*) AS BIGINT) AS n_core_edges
    FROM e{rounds}"""
    )


@query("q1h_kcore_peel", oracle=_kcore_oracle())
def q1h_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.graphs import (
        copurchase_pairs,
        kcore_peel,
    )

    li = load(spark, sf_dir, "lineitem")
    edges = (
        copurchase_pairs(li, min_shared=_KCORE_MIN_SHARED)
        .select("a", "b")
        .localCheckpoint()
    )
    edges = kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_core_nodes"))
    )
    return nodes.crossJoin(
        F.broadcast(
            edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_core_edges"))
        )
    ).select("n_core_nodes", "n_core_edges")


# --------------------------------------------------------------------------
# q1i — nDCG@5 for the co-purchase recommender (completing the IR
# eval pair with q1f's MRR): graded position discounting with ZERO
# runtime transcendentals — the 1/log2(i+1) discounts and their ideal
# prefix sums are precomputed as scaled-BIGINT literals shared by
# both engines, so DCG and IDCG are exact integer sums and only the
# final ratio and mean divide. Same bounded topology as q1f (recs =
# items × 5, truth = test-order pair set).
# --------------------------------------------------------------------------

# floor(1/log2(i+1) * 1e15) for rank i = 1..5, and ideal prefix sums
_NDCG_DS = (
    1000000000000000, 630929753571457, 500000000000000,
    430676558073393, 386852807234541,
)
_NDCG_CUM = (
    1000000000000000, 1630929753571457, 2130929753571457,
    2561606311644850, 2948459118879391,
)


def _ndcg_case_sql(col: str, vals) -> str:
    arms = " ".join(f"WHEN {i + 1} THEN {v}" for i, v in enumerate(vals))
    return f"CASE {col} {arms} ELSE 0 END"


@query(
    "q1i_ndcg",
    oracle=f"""
    WITH train AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey % 5 <> 0
    ),
    test AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
      WHERE l_orderkey % 5 = 0
    ),
    pairs AS (
      SELECT a.p AS p1, b.p AS p2, COUNT(*) AS cab
      FROM train a JOIN train b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    sym AS (
      SELECT p1 AS item, p2 AS other, cab FROM pairs
      UNION ALL SELECT p2, p1, cab FROM pairs
    ),
    recs AS (
      SELECT item, other, rn FROM (
        SELECT item, other,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY cab DESC, other) AS rn
        FROM sym
      ) WHERE rn <= 5
    ),
    truth AS (
      SELECT DISTINCT a.p AS item, b.p AS other
      FROM test a JOIN test b ON a.o = b.o AND a.p <> b.p
    ),
    rel AS (SELECT item, COUNT(*) AS r FROM truth GROUP BY item),
    dcg AS (
      SELECT r.item,
             CAST(SUM(CASE WHEN t.other IS NOT NULL
                  THEN {_ndcg_case_sql("r.rn", _NDCG_DS)} ELSE 0 END)
                  AS BIGINT) AS dcg_s
      FROM recs r
        JOIN part ON r.item = p_partkey AND p_size = 1
        LEFT JOIN truth t ON r.item = t.item AND r.other = t.other
      GROUP BY r.item
    ),
    scored AS (
      SELECT d.item, d.dcg_s,
             {_ndcg_case_sql("LEAST(rel.r, 5)", _NDCG_CUM)} AS idcg_s
      FROM dcg d JOIN rel ON d.item = rel.item
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(FLOOR(CAST(dcg_s AS DOUBLE) / CAST(idcg_s AS DOUBLE)
                                * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000000.0 / COUNT(*) AS mean_ndcg
    FROM scored
    """,
)
def q1i_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    l = load(spark, sf_dir, "lineitem")
    p1slice = load(spark, sf_dir, "part").filter(F.col("p_size") == 1)
    op = l.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pk")
    ).distinct()
    train = op.filter(F.col("o") % 5 != 0)
    test = op.filter(F.col("o") % 5 == 0)
    ta, tb = train.alias("ta"), train.alias("tb")
    pairs = (
        ta.join(
            tb,
            (F.col("ta.o") == F.col("tb.o")) & (F.col("ta.pk") < F.col("tb.pk")),
        )
        .groupBy(F.col("ta.pk").alias("a"), F.col("tb.pk").alias("b"))
        .agg(F.count(F.lit(1)).alias("cab"))
    )
    sym = pairs.selectExpr("a AS item", "b AS other", "cab").unionAll(
        pairs.selectExpr("b AS item", "a AS other", "cab")
    )
    w = Window.partitionBy("item").orderBy(F.col("cab").desc(), F.col("other"))
    recs = (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .join(F.broadcast(p1slice), F.col("item") == F.col("p_partkey"), "left_semi")
        .select("item", "other", "rn")
    )
    ea, eb = test.alias("ea"), test.alias("eb")
    truth = (
        ea.join(
            eb,
            (F.col("ea.o") == F.col("eb.o")) & (F.col("ea.pk") != F.col("eb.pk")),
        )
        .select(F.col("ea.pk").alias("t_item"), F.col("eb.pk").alias("t_other"))
        .distinct()
    )
    rel = truth.groupBy(F.col("t_item").alias("item")).agg(
        F.count(F.lit(1)).alias("r")
    )

    def case_of(col, vals):
        expr = F.lit(0).cast("bigint")
        c = F.when(col == 1, F.lit(vals[0]))
        for i, v in enumerate(vals[1:], start=2):
            c = c.when(col == i, F.lit(v))
        return c.otherwise(expr)

    dcg = (
        recs.join(
            truth,
            (F.col("item") == F.col("t_item")) & (F.col("other") == F.col("t_other")),
            "left",
        )
        .groupBy("item")
        .agg(
            F.sum(
                F.when(
                    F.col("t_other").isNotNull(),
                    case_of(F.col("rn"), _NDCG_DS),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("dcg_s")
        )
    )
    scored = dcg.join(rel, "item").select(
        "item",
        "dcg_s",
        case_of(F.least(F.col("r"), F.lit(5)), _NDCG_CUM).alias("idcg_s"),
    )
    nd = (
        F.col("dcg_s").cast("double") / F.col("idcg_s").cast("double")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        (
            F.sum(F.floor(nd * F.lit(1e9) + F.lit(0.5)).cast("bigint")).cast(
                "double"
            )
            / F.lit(1e9)
            / F.count(F.lit(1))
        ).alias("mean_ndcg"),
    )


# --------------------------------------------------------------------------
# q1j — graph modularity of the BRAND partition over the co-purchase
# graph: do same-brand parts cluster in purchasing behaviour? Q =
# Σ_c [e_c/m − (d_c/2m)²], assembled as ONE exact integer expression
# (num = 4m·Σe_c − Σd_c², den = 4m²) so the only float is the final
# division — engine- and partition-invariant by construction. Edge
# table is the q1h co-purchase graph; degrees and per-community cells
# are one groupBy each; everything after is community-bounded.
# --------------------------------------------------------------------------


@query(
    "q1j_brand_modularity",
    oracle=f"""
    WITH e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SHARED}
    ),
    comm AS (SELECT p_partkey AS node, p_brand AS c FROM part),
    m_ AS (SELECT COUNT(*) AS m FROM e0),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
      ) GROUP BY node
    ),
    ec AS (
      SELECT ca.c, COUNT(*) AS e_in
      FROM e0 JOIN comm ca ON e0.a = ca.node
              JOIN comm cb ON e0.b = cb.node
      WHERE ca.c = cb.c GROUP BY ca.c
    ),
    dc AS (
      SELECT comm.c, CAST(SUM(deg.d) AS BIGINT) AS d_sum
      FROM deg JOIN comm ON deg.node = comm.node GROUP BY comm.c
    ),
    terms AS (
      SELECT dc.c,
             COALESCE(ec.e_in, 0) AS e_in,
             dc.d_sum
      FROM dc LEFT JOIN ec ON dc.c = ec.c
    )
    SELECT (SELECT CAST(m AS BIGINT) FROM m_) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(4 * (SELECT m FROM m_) * e_in - d_sum * d_sum) AS DOUBLE)
             / CAST(4 * (SELECT m FROM m_) * (SELECT m FROM m_) AS DOUBLE)
             AS modularity
    FROM terms
    """,
)
def q1j_brand_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output contract: BOUNDED — one row per community (brand, ≤25
    values), plus the global modularity. Edges/degrees are aggregated
    per community before any result materializes; the only full-size
    intermediate is the edge list itself (min_shared-filtered), which
    shuffles but never reaches the driver. Densified probe growth
    (4.4× at 10×) is edge-count-bound, not output-bound."""
    from fcs_etl_reactor_spark.operators.graphs import copurchase_pairs

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    edges = copurchase_pairs(li, min_shared=_KCORE_MIN_SHARED).select("a", "b")
    comm = part.select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("c"))
    m_ = edges.agg(F.count(F.lit(1)).alias("m"))
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ec = (
        edges.join(F.broadcast(comm).withColumnRenamed("node", "a_n"),
                   F.col("a") == F.col("a_n"))
        .withColumnRenamed("c", "ca")
        .join(F.broadcast(comm).withColumnRenamed("node", "b_n"),
              F.col("b") == F.col("b_n"))
        .filter(F.col("ca") == F.col("c"))
        .groupBy(F.col("ca").alias("comm_c"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    dc = (
        deg.join(F.broadcast(comm), "node")
        .groupBy("c")
        .agg(F.sum("d").cast("bigint").alias("d_sum"))
    )
    terms = dc.join(ec, dc.c == ec.comm_c, "left").select(
        "c", F.coalesce("e_in", F.lit(0)).alias("e_in"), "d_sum"
    )
    return (
        terms.crossJoin(F.broadcast(m_))
        .agg(
            F.max("m").cast("bigint").alias("n_edges"),
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
            (
                F.sum(
                    F.lit(4) * F.col("m") * F.col("e_in")
                    - F.col("d_sum") * F.col("d_sum")
                ).cast("double")
                / (F.lit(4) * F.max("m") * F.max("m")).cast("double")
            ).alias("modularity"),
        )
    )


# --------------------------------------------------------------------------
# q1k — average local clustering coefficient: per node, the fraction
# of its neighbour pairs that are themselves connected — the
# small-world diagnostic next to the global triangle count (q5o).
# Triangles enumerate once via q5o's DEGREE-oriented wedge join
# (operators/graphs.oriented_triangles — wedge fanout O(√m) per
# vertex; the earlier id-canonical join measured 22× at the 10×
# densified probe because a low-id hub contributes d² wedges) and
# fan out to their 3 corners (an exact 3× explode of the TRIANGLE
# table, not the edges); coefficients 2T_v/(d_v(d_v−1)) are exact
# rationals, averaged with the half-up scaled-long so the mean is
# order-independent. The corner multiset is orientation-independent —
# each triangle appears exactly once either way — so the id-ordered
# oracle still hash-matches.
# --------------------------------------------------------------------------


@query(
    "q1k_clustering_coeff",
    oracle=f"""
    WITH e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SHARED}
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e0 e1
      JOIN e0 e2 ON e2.a = e1.b
      JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tv AS (SELECT node, COUNT(*) AS t FROM corners GROUP BY node),
    coeff AS (
      SELECT deg.node, deg.d, COALESCE(tv.t, 0) AS t,
             2.0 * COALESCE(tv.t, 0)
               / (CAST(deg.d AS DOUBLE) * (deg.d - 1)) AS c
      FROM deg LEFT JOIN tv ON deg.node = tv.node
      WHERE deg.d >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
           CAST(SUM(CAST(FLOOR(c * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000000.0 / COUNT(*) AS avg_clustering
    FROM coeff
    """,
)
def q1k_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output contract: FULL-LISTING BY SPEC — one row per node (the
    local clustering coefficient is a per-node metric), so output is
    node-sized, which is fine: nodes grow linearly with data, unlike
    triangles. The triangle TRIPLES are the dangerous intermediate and
    they never persist — corners are exploded and immediately counted
    per node (map-side combine); the degree-oriented listing bounds
    wedge fanout at O(√m) per vertex even on skewed graphs. A consumer
    wanting a bounded result composes `.orderBy(...).limit(k)` on top
    — top-k pushes into TakeOrderedAndProject."""
    from fcs_etl_reactor_spark.operators.graphs import (
        copurchase_pairs,
        oriented_triangles,
    )

    li = load(spark, sf_dir, "lineitem")
    e0 = copurchase_pairs(li, min_shared=_KCORE_MIN_SHARED).select("a", "b")
    deg = (
        e0.select(F.col("a").alias("node"))
        .unionAll(e0.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tri = oriented_triangles(e0)
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    tv = corners.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    coeff = (
        deg.join(tv, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            (
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d").cast("double") * (F.col("d") - 1))
            ).alias("c")
        )
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        coeff.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            (
                F.sum(F.floor(F.col("c") * F.lit(1e9) + F.lit(0.5)).cast("bigint"))
                .cast("double")
                / F.lit(1e9)
                / F.count(F.lit(1))
            ).alias("avg_clustering"),
        )
        .crossJoin(F.broadcast(n_tri))
        .select("n_nodes", "n_triangles", "avg_clustering")
    )


# --------------------------------------------------------------------------
# q1l — degree assortativity: the Pearson correlation of endpoint
# degrees over every edge (both orientations) — do hubs link to hubs?
# The third structural metric beside modularity (q1j) and clustering
# (q1k). Degrees are integers, so every Pearson input (Σx, Σxy, Σx²
# over the directed edge list) is an exact BIGINT sum; both engines
# divide the same integers and the final ratio rounds at 9 dp.
# --------------------------------------------------------------------------


@query(
    "q1l_assortativity",
    oracle=f"""
    WITH e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_KCORE_MIN_SHARED}
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
      ) GROUP BY node
    ),
    dir_edges AS (
      SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
    ),
    pairs AS (
      SELECT du.d AS x, dv.d AS y
      FROM dir_edges
      JOIN deg du ON dir_edges.u = du.node
      JOIN deg dv ON dir_edges.v = dv.node
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_endpoints,
           ROUND(
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
             / NULLIF(SQRT(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
                           * CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE)),
                      0),
             9) AS assortativity
    FROM pairs
    """,
)
def q1l_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.graphs import copurchase_pairs

    li = load(spark, sf_dir, "lineitem")
    e0 = copurchase_pairs(li, min_shared=_KCORE_MIN_SHARED).select("a", "b")
    deg = (
        e0.select(F.col("a").alias("node"))
        .unionAll(e0.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dir_edges = e0.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e0.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    pairs = (
        dir_edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("d", "x")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("d", "y"), "v"
        )
        .select("x", "y")
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x"), F.sum("y")
    sxy = F.sum(F.col("x") * F.col("y"))
    sxx = F.sum(F.col("x") * F.col("x"))
    syy = F.sum(F.col("y") * F.col("y"))
    num = (n * sxy - sx * sy).cast("double")
    den = F.sqrt(
        (n * sxx - sx * sx).cast("double") * (n * syy - sy * sy).cast("double")
    )
    return pairs.agg(
        n.cast("bigint").alias("n_endpoints"),
        F.round(num / F.nullif(den, F.lit(0.0)), 9).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# q1w — link prediction by Resource Allocation index (Zhou/Lü/Zhang
# 2009): for each NON-edge pair (u,v), RA = Σ_{w ∈ N(u)∩N(v)} 1/deg(w)
# — the "which products will be co-bought next" primitive. RA is
# chosen over Adamic-Adar deliberately: 1/deg is exactly computable in
# scaled BIGINT (1e12 div d), where AA's 1/log(deg) would be a
# transcendental whose summation order drifts in the last ulp.
# Scale shape: wedge enumeration is Σ deg(w)² BY DEFINITION (every
# common-neighbor pair must be witnessed); the exposure is governed by
# the min_shared support filter on edges (degree ceiling) and, on
# graphs where the periphery is irrelevant to ranking, a k-core
# pre-peel (q1h's operator) before wedge generation — both exact-
# preserving levers, unlike a hub cap (dropping a hub of degree d
# perturbs up to d(d-1)/2 pair scores by 1e12 div d each). The 10×
# densified probe (BENCH.md round-8 corrected-harness table, note [c])
# measures wall strongly sub-linear in wedge count (×68,024 wedges →
# 96.2× wall on the cold-plan stopwatch).
# Since round 9 the min_shared lever is WIRED, not prose: a degree-
# histogram pre-pass (wedge_budget_min_shared — one extra pass over
# the materialized support table, 1-row collect) costs every rung of
# _RA_MIN_SHARED_LADDER exactly and picks the smallest support
# threshold whose wedge count fits _RA_WEDGE_BUDGET. At test SFs the
# graph is orders of magnitude under budget, so the threshold stays at
# the contractual min_shared=2 and the oracle is bit-identical; under
# adversarial densification (the 10× replica multiplies support over
# a fixed vocabulary) the query escalates the threshold instead of
# enumerating 148M wedges. The support table is built ONCE and
# localCheckpointed — the pre-pass and the adj/deg/anti-join arms all
# reuse it rather than re-running the lineitem self-join.
# Output contract: CAPPED — top-25 by (score, pair), a
# TakeOrderedAndProject, never a full materialized pair list.
# --------------------------------------------------------------------------

#: wedge rows the RA self-join may produce before the support
#: threshold escalates; ~6 s of enumeration at the measured ~1.6M
#: wedges/s — a budget, not a cliff (the plan stays exact either way)
_RA_WEDGE_BUDGET = 10_000_000
_RA_MIN_SHARED_LADDER = (2, 3, 4, 6, 8, 12, 16, 24, 32, 48, 64)


@query(
    "q1w_link_prediction_ra",
    oracle="""
    WITH e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), adj AS (
      SELECT a AS w, b AS u FROM e UNION ALL SELECT b AS w, a AS u FROM e
    ), deg AS (
      SELECT w, COUNT(*) AS d FROM adj GROUP BY w
    ), wed AS (
      SELECT x.u AS u, y.u AS v, x.w AS w
      FROM adj x JOIN adj y ON x.w = y.w AND x.u < y.u
    ), sc AS (
      SELECT u, v,
             CAST(SUM(1000000000000 // d) AS BIGINT) AS ra_score,
             COUNT(*) AS common_neighbors
      FROM wed JOIN deg USING (w) GROUP BY u, v
    )
    SELECT sc.u AS p1, sc.v AS p2, sc.ra_score, sc.common_neighbors
    FROM sc LEFT JOIN e ON sc.u = e.a AND sc.v = e.b
    WHERE e.a IS NULL
    ORDER BY sc.ra_score DESC, p1, p2 LIMIT 25
    """,
)
def q1w_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _ = _ra_link_prediction(spark, sf_dir, _RA_WEDGE_BUDGET)
    return df


def _ra_link_prediction(
    spark: SparkSession, sf_dir: str, budget: int
) -> tuple[DataFrame, int]:
    """Shared RA pipeline for q1w/q1z: returns (top-25 non-edge scores,
    the min_shared the wedge-budget ladder picked for `budget`)."""
    from fcs_etl_reactor_spark.operators.graphs import (
        copurchase_pairs,
        wedge_budget_min_shared,
    )

    li = load(spark, sf_dir, "lineitem")
    support = copurchase_pairs(li, min_shared=2).localCheckpoint()
    ms = wedge_budget_min_shared(support, _RA_MIN_SHARED_LADDER, budget)
    und = support.filter(F.col("n_orders") >= ms).select("a", "b")
    adj = und.select(F.col("a").alias("w"), F.col("b").alias("u")).unionAll(
        und.select(F.col("b").alias("w"), F.col("a").alias("u"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    x, y = adj.alias("x"), adj.alias("y")
    wedges = x.join(
        y, (F.col("x.w") == F.col("y.w")) & (F.col("x.u") < F.col("y.u"))
    ).select(F.col("x.u").alias("u"), F.col("y.u").alias("v"), F.col("x.w").alias("w"))
    scored = (
        wedges.join(deg, "w")
        .groupBy("u", "v")
        .agg(
            F.sum(F.expr("1000000000000 div d")).alias("ra_score"),
            F.count(F.lit(1)).alias("common_neighbors"),
        )
    )
    non_edges = scored.join(
        und,
        (scored["u"] == und["a"]) & (scored["v"] == und["b"]),
        "left_anti",
    )
    return (
        non_edges.select(
            F.col("u").alias("p1"),
            F.col("v").alias("p2"),
            "ra_score",
            "common_neighbors",
        )
        .orderBy(F.col("ra_score").desc(), "p1", "p2")
        .limit(25)
    ), ms


# --------------------------------------------------------------------------
# q1z — q1w's RA link prediction under a deliberately TIGHT wedge
# budget (100 vs the production 10M), so the degree-histogram ladder
# pre-pass must ESCALATE min_shared above the contractual 2 on the
# standard fixtures (sf0.01 picks ms=3: 15,285 wedges at ms=2 exceed
# the budget, 11 at ms=3 fit; sf0.001 picks ms=4). This is the driver
# oracle for the regime q1w's own oracle can never reach — its fixtures
# stay under the 10M budget, so q1w's CORRECTNESS evidence only covers
# the ladder DOING NOTHING. The ladder decision is deterministic
# BIGINT arithmetic (Σ_w d(w)·(d(w)−1) per rung, one pass), so the
# DuckDB oracle replays the SAME decision in SQL: per-rung conditional
# degrees, smallest rung whose doubled wedge count fits 2·budget,
# last-rung fallback, then the identical RA scoring on the escalated
# graph. `ms_used` is an output COLUMN — the chosen rung is part of
# the value hash, so a ladder divergence between the engines is a
# driver FAIL, not an invisible plan difference.
# --------------------------------------------------------------------------

_RA_BUDGETED_WEDGE_BUDGET = 100


@query(
    "q1z_link_prediction_budgeted",
    oracle=f"""
    WITH sup AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_orders
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), ladder(ms) AS (
      VALUES {", ".join(f"({ms})" for ms in _RA_MIN_SHARED_LADDER)}
    ), ends AS (
      SELECT a AS node, n_orders FROM sup
      UNION ALL SELECT b, n_orders FROM sup
    ), rungdeg AS (
      SELECT ladder.ms AS ms, node, COUNT(*) AS d
      FROM ends JOIN ladder ON ends.n_orders >= ladder.ms
      GROUP BY 1, 2
    ), rungw AS (
      -- a rung no edge survives is ABSENT from rungdeg: its wedge
      -- count is zero (passes), hence the LEFT JOIN + COALESCE
      SELECT ladder.ms AS ms, COALESCE(SUM(d * (d - 1)), 0) AS w2
      FROM ladder LEFT JOIN rungdeg ON rungdeg.ms = ladder.ms
      GROUP BY 1
    ), chosen AS (
      SELECT COALESCE(
        MIN(ms) FILTER (WHERE w2 <= 2 * {_RA_BUDGETED_WEDGE_BUDGET}),
        {_RA_MIN_SHARED_LADDER[-1]}) AS ms
      FROM rungw
    ), e AS (
      SELECT a, b FROM sup, chosen WHERE sup.n_orders >= chosen.ms
    ), adj AS (
      SELECT a AS w, b AS u FROM e UNION ALL SELECT b AS w, a AS u FROM e
    ), deg AS (
      SELECT w, COUNT(*) AS d FROM adj GROUP BY w
    ), wed AS (
      SELECT x.u AS u, y.u AS v, x.w AS w
      FROM adj x JOIN adj y ON x.w = y.w AND x.u < y.u
    ), sc AS (
      SELECT u, v,
             CAST(SUM(1000000000000 // d) AS BIGINT) AS ra_score,
             COUNT(*) AS common_neighbors
      FROM wed JOIN deg USING (w) GROUP BY u, v
    )
    SELECT sc.u AS p1, sc.v AS p2, sc.ra_score, sc.common_neighbors,
           chosen.ms AS ms_used
    FROM sc CROSS JOIN chosen
    LEFT JOIN e ON sc.u = e.a AND sc.v = e.b
    WHERE e.a IS NULL
    ORDER BY sc.ra_score DESC, p1, p2 LIMIT 25
    """,
)
def q1z_link_prediction_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, ms = _ra_link_prediction(spark, sf_dir, _RA_BUDGETED_WEDGE_BUDGET)
    return df.withColumn("ms_used", F.lit(ms))


# --------------------------------------------------------------------------
# q1x — label propagation community detection (Raghavan/Albert/Kumara
# 2007), synchronous variant over the co-purchase graph. Each round
# every node adopts the plurality label among its neighbors, ties
# broken by the SMALLEST label — the tie-break is what makes the
# synchronous update deterministic and engine-portable (the classic
# asynchronous/random variant is not reproducible by design). Rounds
# are FIXED at 3: LPA's stopping rule is a convergence check that can
# oscillate under synchronous updates, so the contract here is
# "3 synchronized sweeps", identical in both engines by unrolling.
# Scale shape: one shuffle per round (edges ⋈ labels on dst, then
# groupBy(src, label) with map-side partial counts); the plurality
# argmax is a window PARTITIONED BY src (per-node vote lists bounded
# by degree — never a global window); round state is localCheckpointed
# like every iterative algorithm in this module.
# Output contract: CAPPED — top-20 communities by (size desc, label),
# a TakeOrderedAndProject, never the full node→community map.
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3
_LPA_MIN_SHARED = 2


def _lpa_round_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
      SELECT src AS node, label FROM (
        SELECT adj.src AS src, l.label AS label, COUNT(*) AS c
        FROM adj JOIN {prev} l ON adj.dst = l.node
        GROUP BY 1, 2
      ) QUALIFY ROW_NUMBER() OVER (
        PARTITION BY src ORDER BY c DESC, label ASC) = 1
    )"""


@query(
    "q1x_label_propagation",
    oracle=f"""
    WITH e AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_LPA_MIN_SHARED}
    ), adj AS (
      SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM adj
    ), {_lpa_round_sql('l0', 'l1')}, {_lpa_round_sql('l1', 'l2')},
    {_lpa_round_sql('l2', 'l3')}
    SELECT label AS community, COUNT(*) AS n_members
    FROM l3 GROUP BY label
    ORDER BY n_members DESC, community ASC LIMIT 20
    """,
)
def q1x_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.graphs import (
        copurchase_pairs,
        label_propagation,
    )

    li = load(spark, sf_dir, "lineitem")
    und = copurchase_pairs(li, min_shared=_LPA_MIN_SHARED).select("a", "b")
    labels = label_propagation(und, rounds=_LPA_ROUNDS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )
