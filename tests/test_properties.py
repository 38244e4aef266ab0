"""Property-based invariants (SURVEY.md §5.2-5) with hypothesis.

Each property runs few examples (Spark job latency dominates) but the
invariants are the load-bearing ones: set-op algebra, geo-mean bound,
histogram mass conservation, dedup idempotence, as-of left-join
cardinality, exact-sum correctness against Python's exact arithmetic.
"""

import math
from fractions import Fraction

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.functions.exact import dsum
from fcs_etl_reactor_spark.operators.asof import asof_join
from fcs_etl_reactor_spark.operators.dedup import exact_dedup

# SPARK_GRAFT_HYP_EXAMPLES raises the example budget for one-off deep
# fuzz sessions (default 8 keeps the suite's Spark-job latency sane)
import os as _os

SETTINGS = settings(
    max_examples=int(_os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.lists(st.integers(0, 20), min_size=1, max_size=30)


@SETTINGS
@given(a=keys, b=keys)
def test_union_distinct_is_set_union(spark, a, b):
    da = spark.createDataFrame([(x,) for x in a], "k INT")
    db = spark.createDataFrame([(x,) for x in b], "k INT")
    got = sorted(r["k"] for r in da.union(db).distinct().collect())
    assert got == sorted(set(a) | set(b))


@SETTINGS
@given(a=keys, b=keys)
def test_intersect_except_partition(spark, a, b):
    da = spark.createDataFrame([(x,) for x in a], "k INT")
    db = spark.createDataFrame([(x,) for x in b], "k INT")
    inter = {r["k"] for r in da.intersect(db).collect()}
    diff = {r["k"] for r in da.subtract(db).collect()}
    assert inter == set(a) & set(b)
    assert diff == set(a) - set(b)
    assert inter | diff == set(a) and not (inter & diff)


@SETTINGS
@given(vals=st.lists(st.floats(0.01, 1e4, allow_nan=False), min_size=2, max_size=40))
def test_geomean_le_mean(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "x DOUBLE")
    row = df.agg(
        F.exp(F.avg(F.log("x"))).alias("g"), F.avg("x").alias("m")
    ).collect()[0]
    assert row["g"] <= row["m"] * (1 + 1e-9)


@SETTINGS
@given(vals=st.lists(st.floats(0.001, 1e5, allow_nan=False), min_size=1, max_size=50))
def test_histogram_mass_conservation(spark, vals):
    from fcs_etl_reactor_spark.operators.beads import log_histogram

    df = spark.createDataFrame([("s", v) for v in vals], "sample_id STRING, value DOUBLE")
    hist = log_histogram(df, "value", ["sample_id"], lo=-3.0, step=0.5, n_bins=20)
    assert hist.agg(F.sum("n")).collect()[0][0] == len(vals)


def _ray_cast_numpy(px, py, vertices):
    """The NumPy even-odd ray-caster that polygon_gate was before it
    became a Column expression (a null coordinate arrives as NaN)."""
    import numpy as np

    vx = np.array([v[0] for v in vertices], dtype=np.float64)
    vy = np.array([v[1] for v in vertices], dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        x1, y1, x2, y2 = vx[i], vy[i], vx[j], vy[j]
        crosses = (y1 > py) != (y2 > py)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= crosses & (px < xint)
        j = i
    return inside


# a small integer lattice makes horizontal and repeated-y edges common
_vertex_coord = st.integers(-3, 3).map(float) | st.floats(-10, 10)
_point_coord = _vertex_coord | st.sampled_from([math.inf, -math.inf, math.nan, -0.0, None])


@SETTINGS
@given(
    vertices=st.lists(st.tuples(_vertex_coord, _vertex_coord), min_size=3, max_size=8),
    points=st.lists(st.tuples(_point_coord, _point_coord), max_size=20),
)
# a -0.0 and a 0.0 vertex coordinate in one polygon (see polygon_gate)
@example(vertices=[(0.0, -1.0), (1.0, -0.0), (0.0, 1.0), (0.0, 0.0)], points=[])
def test_polygon_gate_matches_numpy_ray_casting(spark, vertices, points):
    import numpy as np

    from fcs_etl_reactor_spark.operators.gates import polygon_gate

    edges = list(zip(vertices, vertices[-1:] + vertices[:-1]))
    on_edges = [((x1 + x2) / 2, (y1 + y2) / 2) for (x1, y1), (x2, y2) in edges]
    on_edges += [(x1 + (x2 - x1) / 3, y1 + (y2 - y1) / 3) for (x1, y1), (x2, y2) in edges]
    cx, cy = on_edges[0]
    beyond = [(math.inf, cy), (-math.inf, cy), (cx, math.inf), (cx, -math.inf),
              (math.nan, cy), (cx, math.nan), (None, cy), (cx, None)]
    pts = points + vertices + on_edges + beyond
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i INT, x DOUBLE, y DOUBLE"
    )
    got = [r["inside"] for r in
           df.select("i", polygon_gate("x", "y", vertices).alias("inside")).orderBy("i").collect()]
    # NumPy reads None as NaN in a float64 array, as Arrow handed nulls to the UDF
    xs, ys = (np.array(c, dtype=np.float64) for c in zip(*pts))
    want = _ray_cast_numpy(xs, ys, vertices)
    assert got == want.tolist()


@SETTINGS
@given(texts=st.lists(st.text(alphabet="ab ", min_size=0, max_size=12),
                      min_size=1, max_size=12))
def test_exact_dedup_idempotent_and_minimal(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id INT, text STRING")
    once = exact_dedup(df, "text", "doc_id")
    twice = exact_dedup(once, "text", "doc_id")
    got_once = sorted(map(tuple, once.collect()))
    assert got_once == sorted(map(tuple, twice.collect()))
    assert len(got_once) == len({t.lower().strip() for t in texts})


@SETTINGS
@given(texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=16).map(str.strip),
                      min_size=1, max_size=10))
def test_span_dedup_conservation(spark, texts):
    """Σ n_canonical == global distinct span count; Σ n_spans == total
    span occurrences — no span is lost or double-kept under any input."""
    from fcs_etl_reactor_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id INT, text STRING")
    out = span_dedup(df, "doc_id", "text", span_tokens=2).collect()
    all_spans = []
    for _, text in enumerate(texts):
        toks = (text or "").split(" ")
        all_spans += [" ".join(toks[i : i + 2]) for i in range(0, len(toks), 2)]
    assert sum(r["n_spans"] for r in out) == len(all_spans)
    assert sum(r["n_canonical"] for r in out) == len(set(all_spans))


@SETTINGS
@given(
    lefts=st.lists(st.integers(0, 1000), min_size=1, max_size=20),
    rights=st.lists(st.integers(0, 1000), min_size=0, max_size=20),
)
def test_asof_preserves_left_cardinality(spark, lefts, rights):
    l = spark.createDataFrame(
        [(1, t) for t in lefts], "k INT, t BIGINT"
    ).withColumn("t", F.timestamp_seconds("t"))
    r = spark.createDataFrame([(1, t, float(t)) for t in rights], "k INT, t BIGINT, v DOUBLE")
    r = r.withColumn("t", F.timestamp_seconds("t"))
    out = asof_join(l, r, on="k", left_ts="t", right_ts="t",
                    right_values=["v"], aliases=["v"]).collect()
    assert len(out) == len(lefts)
    # every matched value is the max right-ts <= left-ts
    for row in out:
        t = row["t"].timestamp()
        eligible = [x for x in rights if x <= t]
        assert row["v"] == (float(max(eligible)) if eligible else None)


@SETTINGS
@given(vals=st.lists(
    st.decimals(min_value=-1000, max_value=1000, places=2, allow_nan=False),
    min_size=1, max_size=60,
))
def test_dsum_exact_vs_python(spark, vals):
    """For ≤2-decimal inputs, dsum must equal the EXACT sum (computed
    with Fractions in Python) at any partitioning."""
    floats = [float(v) for v in vals]
    expected = float(sum(Fraction(v) for v in vals))
    df = spark.createDataFrame([(v,) for v in floats], "x DOUBLE").repartition(5)
    got = df.agg(dsum("x", "s", scale=100)).collect()[0]["s"]
    assert got == pytest.approx(expected, abs=1e-9)


def test_sql_view_queries_isolated_across_sf_dirs(spark):
    """A plan built for one sf_dir must not be re-bound when the same
    query later runs against another sf_dir (temp-view capture bug)."""
    from fcs_etl_reactor_spark.queries import QUERIES

    small = QUERIES["q6_correlated_subquery"](spark, "/root/testdata/sf0.001")
    big = QUERIES["q6_correlated_subquery"](spark, "/root/testdata/sf0.01")
    n_big = big.count()
    n_small = small.count()  # collected AFTER the other sf registered
    assert n_small < n_big


def test_concurrent_query_execution_is_safe(spark):
    """Queries share one session (and its scan/plan caches); concurrent
    builds+executions from threads must not corrupt results."""
    from concurrent.futures import ThreadPoolExecutor

    from fcs_etl_reactor_spark.queries import QUERIES

    names = ["q1_pricing_summary", "q20_basic_stats", "q40_ranking", "q80_term_counts"]

    def run(name):
        return name, QUERIES[name](spark, "/root/testdata/sf0.001").count()

    with ThreadPoolExecutor(max_workers=4) as ex:
        concurrent = dict(ex.map(run, names * 2))
    serial = {n: QUERIES[n](spark, "/root/testdata/sf0.001").count() for n in names}
    assert concurrent == serial


def test_scd2_intervals_partition_the_timeline(spark):
    """q7m invariants: per customer, runs are contiguous (each
    valid_to equals the next valid_from), exactly one open interval
    (is_current), adjacent runs never share a status (maximal runs),
    and run sizes sum to the customer's order count."""
    from fcs_etl_reactor_spark.queries import QUERIES

    rows = QUERIES["q7m_scd2_history"](spark, "/root/testdata/sf0.001").collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r["o_custkey"], []).append(r)
    assert by_cust
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    counts = {r["o_custkey"]: r["n"] for r in o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for cust, runs in by_cust.items():
        runs.sort(key=lambda r: r["valid_from"])
        assert sum(r["n_orders"] for r in runs) == counts[cust]
        assert sum(1 for r in runs if r["is_current"]) == 1
        assert runs[-1]["is_current"] and runs[-1]["valid_to"] is None
        for prev, nxt in zip(runs, runs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
            assert prev["o_orderstatus"] != nxt["o_orderstatus"] or (
                prev["valid_to"] == prev["valid_from"]
            )  # equal-date ties can split runs of the same status


def test_zorder_key_is_bijective_and_local(spark):
    """Morton key invariants on a small exact grid: interleaving is a
    bijection (distinct (a,b) → distinct z), and a unit step in either
    dimension moves z by a bounded amount within a 2^k-aligned cell."""
    from fcs_etl_reactor_spark.queries.storage import _zorder_sql

    grid = spark.sql(
        "SELECT a, b, CAST({} AS BIGINT) AS z FROM "
        "(SELECT explode(sequence(0, 31)) AS a) "
        "CROSS JOIN (SELECT explode(sequence(0, 31)) AS b)".format(
            _zorder_sql("a", "b", bits=5)
        )
    ).collect()
    zs = {(r["a"], r["b"]): r["z"] for r in grid}
    assert len(set(zs.values())) == len(zs)  # bijection on the grid
    # locality: within an aligned 2x2 cell, z values are the 4
    # consecutive integers of that cell's base — the property file
    # min/max ranges rely on
    for a in range(0, 32, 2):
        for b in range(0, 32, 2):
            cell = sorted(
                zs[(x, y)] for x in (a, a + 1) for y in (b, b + 1)
            )
            assert cell == list(range(cell[0], cell[0] + 4))


def test_shard_assignment_is_balanced_and_stable(spark):
    """q6i invariants: shard sizes differ by ≤1 and are identical
    across partition counts (loader-reproducibility)."""
    from fcs_etl_reactor_spark.queries import QUERIES

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        spark.__dict__.pop("_fcs_plan_cache", None)
        a = {r["shard"]: (r["n_docs"], r["shard_tokens"]) for r in
             QUERIES["q6i_shard_assignment"](spark, "/root/testdata/sf0.001").collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        spark.__dict__.pop("_fcs_plan_cache", None)
        b = {r["shard"]: (r["n_docs"], r["shard_tokens"]) for r in
             QUERIES["q6i_shard_assignment"](spark, "/root/testdata/sf0.001").collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.__dict__.pop("_fcs_plan_cache", None)
    assert a == b
    sizes = [n for n, _ in a.values()]
    assert max(sizes) - min(sizes) <= 1


@SETTINGS
@given(edges=st.lists(
    st.tuples(st.integers(1, 25), st.integers(1, 25)),
    min_size=0, max_size=25,
))
def test_cc_star_matches_union_find(spark, edges):
    """Star-contraction CC must agree with a driver-side union-find on
    arbitrary graphs, including self-loops, duplicates, and both edge
    orientations (the canonicalization path)."""
    from fcs_etl_reactor_spark.operators.dedup import dedup_clusters_star

    real = [(a, b) for a, b in edges if a != b]
    if not real:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in real:
        parent[find(a)] = find(b)
    touched = {n for e in real for n in e}
    expected = {
        n: min(m for m in touched if find(m) == find(n)) for n in touched
    }

    pairs = spark.createDataFrame(real, "doc_a BIGINT, doc_b BIGINT")
    got = {r["node"]: r["cluster_id"]
           for r in dedup_clusters_star(pairs).collect()}
    assert got == expected


class TestGraphOperators:
    """Property tests: the distributed graph operators must agree with
    brute-force pure-Python references on arbitrary random graphs —
    evidence beyond the fixture-bound oracle pairs."""

    def test_triangle_count_matches_bruteforce(self, spark):
        import random

        from fcs_etl_reactor_spark.operators.graphs import (
            triangle_count,
            triangle_count_reference,
        )

        rng = random.Random(7)
        for trial in range(5):
            n = rng.randint(4, 14)
            edges = sorted(
                {
                    (min(a, b), max(a, b))
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(n * 3)
                    )
                    if a != b
                }
            )
            und = spark.createDataFrame(edges, "a INT, b INT")
            row = triangle_count(und).collect()[0]
            assert row["n_triangles"] == triangle_count_reference(edges), edges
            assert row["n_edges"] == len(edges)

    def test_oriented_triangles_lists_each_triangle_once(self, spark):
        """q1k fans per-node tallies out of the CORNER triples, so the
        listing must emit every triangle exactly once with its true
        corners (orientation changes only which vertex is the wedge
        apex, never the set)."""
        import random
        from itertools import combinations

        from fcs_etl_reactor_spark.operators.graphs import oriented_triangles

        rng = random.Random(11)
        for trial in range(5):
            n = rng.randint(4, 14)
            edges = sorted(
                {
                    (min(a, b), max(a, b))
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(n * 3)
                    )
                    if a != b
                }
            )
            adj = set(edges)
            want = sorted(
                (x, y, z)
                for x, y, z in combinations(sorted({v for e in edges for v in e}), 3)
                if (x, y) in adj and (y, z) in adj and (x, z) in adj
            )
            und = spark.createDataFrame(edges, "a INT, b INT")
            got = sorted(
                tuple(sorted((r["x"], r["y"], r["z"])))
                for r in oriented_triangles(und).collect()
            )
            assert got == want, edges

    def test_kcore_peel_matches_bruteforce(self, spark):
        """q1h's R-round peel (operators/graphs.kcore_peel) must equal
        the pure-Python round-synchronous peel on random graphs — and
        at enough rounds, the true k-core fixed point."""
        import random

        from fcs_etl_reactor_spark.operators.graphs import kcore_peel

        def peel_ref(edges, k, rounds):
            es = set(edges)
            for _ in range(rounds):
                deg = {}
                for a, b in es:
                    deg[a] = deg.get(a, 0) + 1
                    deg[b] = deg.get(b, 0) + 1
                keep = {v for v, d in deg.items() if d >= k}
                es = {(a, b) for a, b in es if a in keep and b in keep}
            return sorted(es)

        rng = random.Random(13)
        for trial in range(4):
            n = rng.randint(5, 14)
            edges = sorted(
                {
                    (min(a, b), max(a, b))
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(n * 2)
                    )
                    if a != b
                }
            )
            und = spark.createDataFrame(edges, "a INT, b INT")
            for k, rounds in ((2, 3), (3, 2)):
                got = sorted(
                    (r["a"], r["b"]) for r in kcore_peel(und, k, rounds).collect()
                )
                assert got == peel_ref(edges, k, rounds), (edges, k, rounds)
            # run far past convergence: the result is the true k-core
            # (every surviving node has degree >= k within the core)
            core = sorted(
                (r["a"], r["b"]) for r in kcore_peel(und, 2, n).collect()
            )
            deg = {}
            for a, b in core:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            assert all(d >= 2 for d in deg.values()), (edges, core)

    def test_hits_matches_reference(self, spark):
        """q5x's fixed-point HITS (operators/graphs.hits_fixed_point)
        must equal the pure-Python integer twin on random bipartite-ish
        directed graphs — every op is BIGINT (* SCALE // max), so the
        scores are bit-identical, not merely close."""
        import random

        from fcs_etl_reactor_spark.operators.graphs import (
            hits_fixed_point,
            hits_reference,
        )

        rng = random.Random(17)
        for trial in range(3):
            edges = sorted(
                {
                    (f"c{rng.randrange(5)}", f"s{rng.randrange(5)}")
                    for _ in range(rng.randint(4, 15))
                }
            )
            und = spark.createDataFrame(edges, "src STRING, dst STRING")
            a_df, h_df = hits_fixed_point(und, iters=3)
            a_ref, h_ref = hits_reference(edges, iters=3)
            assert {r["node"]: r["a"] for r in a_df.collect()} == a_ref, edges
            assert {r["node"]: r["h"] for r in h_df.collect()} == h_ref, edges

    def test_hits_rejects_zero_iters(self, spark):
        """iters=0 used to return (None, h) — a silent None authority
        frame (ADVICE r7). Both twins now reject it; the reference
        also handles the empty edge list its `max()` used to crash on."""
        import pytest as _pytest

        from fcs_etl_reactor_spark.operators.graphs import (
            hits_fixed_point,
            hits_reference,
        )

        edges_df = spark.createDataFrame(
            [("a", "b")], "src STRING, dst STRING"
        )
        with _pytest.raises(ValueError, match="iters >= 1"):
            hits_fixed_point(edges_df, iters=0)
        with _pytest.raises(ValueError, match="iters >= 1"):
            hits_reference([("a", "b")], iters=0)
        assert hits_reference([], iters=3) == ({}, {})

    def test_pagerank_matches_reference(self, spark):
        import random

        from fcs_etl_reactor_spark.operators.graphs import (
            pagerank,
            pagerank_reference,
        )

        rng = random.Random(11)
        for trial in range(3):
            n = rng.randint(3, 10)
            edges = sorted(
                {
                    (f"v{a}", f"v{b}")
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(n * 2)
                    )
                    if a != b
                }
            )
            if not edges:
                continue
            df = spark.createDataFrame(edges, "src STRING, dst STRING")
            got = {r["node"]: r["rank_scaled"] for r in pagerank(df, iters=3).collect()}
            assert got == pagerank_reference(edges, iters=3), edges

    def test_pagerank_mass_bounded(self, spark):
        # total fixed-point mass never exceeds the initial PR_SCALE
        # (dangling mass only shrinks it) — the overflow-safety invariant
        from fcs_etl_reactor_spark.operators.graphs import PR_SCALE, pagerank

        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
        df = spark.createDataFrame(edges, "src STRING, dst STRING")
        total = sum(r["rank_scaled"] for r in pagerank(df, iters=3).collect())
        assert 0 < total <= PR_SCALE + len(edges)  # +rounding slack


class TestBfsHops:
    """bfs_hops must equal a pure-Python BFS (hop-capped) on random
    undirected graphs, including disconnected ones."""

    def test_matches_python_bfs(self, spark):
        import random
        from collections import deque

        from fcs_etl_reactor_spark.operators.graphs import bfs_hops

        rng = random.Random(23)
        for trial in range(4):
            n = rng.randint(4, 14)
            pairs = sorted(
                {
                    (min(a, b), max(a, b))
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(n * 2)
                    )
                    if a != b
                }
            )
            if not pairs:
                continue
            und_list = pairs + [(b, a) for a, b in pairs]
            df = spark.createDataFrame(und_list, "src INT, dst INT")
            got = {r["node"]: r["d"] for r in bfs_hops(df, 3).collect()}
            # python reference
            adj = {}
            for a, b in und_list:
                adj.setdefault(a, []).append(b)
            src = min(a for a, _ in und_list)
            ref = {src: 0}
            q = deque([src])
            while q:
                u = q.popleft()
                if ref[u] >= 3:
                    continue
                for v in adj.get(u, []):
                    if v not in ref:
                        ref[v] = ref[u] + 1
                        q.append(v)
            assert got == ref, (pairs, got, ref)


class TestBellmanFordAndApriori:
    """Weighted relaxation and Apriori candidate pruning vs
    brute-force references on random inputs."""

    def test_bellman_ford_rounds_match_reference(self, spark):
        import random

        import pyspark.sql.functions as F

        rng = random.Random(31)
        for trial in range(3):
            n = rng.randint(4, 10)
            pairs = sorted(
                {
                    (min(a, b), max(a, b))
                    for a, b in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(n * 2)
                    )
                    if a != b
                }
            )
            if not pairs:
                continue
            wts = {p: rng.randint(1, 5) for p in pairs}
            und_list = [(a, b, w) for (a, b), w in wts.items()] + [
                (b, a, w) for (a, b), w in wts.items()
            ]
            df = spark.createDataFrame(und_list, "src INT, dst INT, w INT")
            rounds = 3
            dist = df.agg(F.min("src").alias("node")).withColumn(
                "d", F.lit(0).cast("int")
            )
            for _ in range(rounds):
                nxt = dist.join(df, dist["node"] == df["src"]).select(
                    F.col("dst").alias("node"), (F.col("d") + F.col("w")).alias("d")
                )
                dist = dist.unionAll(nxt).groupBy("node").agg(F.min("d").alias("d"))
            got = {r["node"]: r["d"] for r in dist.collect()}
            # reference: bounded Bellman-Ford, exactly `rounds` relaxations
            src = min(a for a, _, _ in und_list)
            ref = {src: 0}
            for _ in range(rounds):
                nxt = dict(ref)
                for a, b, w in und_list:
                    if a in ref and ref[a] + w < nxt.get(b, 1 << 30):
                        nxt[b] = ref[a] + w
                ref = nxt
            assert got == ref, (pairs, wts, got, ref)

    def test_apriori_prune_equals_naive(self, spark):
        """Candidate-driven counting with downward-closure pruning
        must equal naive triple enumeration at the same support — the
        Apriori correctness property on random baskets."""
        import random
        from itertools import combinations

        import pyspark.sql.functions as F

        rng = random.Random(43)
        baskets = [
            (o, p)
            for o in range(12)
            for p in rng.sample(range(8), rng.randint(2, 5))
        ]
        sup = 2
        op = spark.createDataFrame(baskets, "o INT, p INT").distinct()
        oa, ob = op.alias("oa"), op.alias("ob")
        l2 = (
            oa.join(ob, (F.col("oa.o") == F.col("ob.o")) & (F.col("oa.p") < F.col("ob.p")))
            .groupBy(F.col("oa.p").alias("x"), F.col("ob.p").alias("y"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= sup)
            .select("x", "y")
        )
        ab = l2.select(F.col("x").alias("p1"), F.col("y").alias("p2"))
        ac = l2.select(F.col("x").alias("p1"), F.col("y").alias("p3"))
        bc = l2.select(F.col("x").alias("p2"), F.col("y").alias("p3"))
        cand = (
            ab.join(ac, "p1")
            .filter(F.col("p2") < F.col("p3"))
            .join(bc, ["p2", "p3"], "left_semi")
        )
        o1 = op.select(F.col("o"), F.col("p").alias("q1"))
        o2 = op.select(F.col("o").alias("o2"), F.col("p").alias("q2"))
        o3 = op.select(F.col("o").alias("o3"), F.col("p").alias("q3"))
        got = {
            (r["p1"], r["p2"], r["p3"]): r["support"]
            for r in (
                cand.join(o1, F.col("q1") == F.col("p1"))
                .join(o2, (F.col("o") == F.col("o2")) & (F.col("q2") == F.col("p2")))
                .join(o3, (F.col("o") == F.col("o3")) & (F.col("q3") == F.col("p3")))
                .groupBy("p1", "p2", "p3")
                .agg(F.count(F.lit(1)).alias("support"))
                .filter(F.col("support") >= sup)
                .collect()
            )
        }
        # naive reference
        sets = {}
        for o, p in baskets:
            sets.setdefault(o, set()).add(p)
        ref = {}
        for items in sets.values():
            for tri in combinations(sorted(items), 3):
                ref[tri] = ref.get(tri, 0) + 1
        ref = {t: c for t, c in ref.items() if c >= sup}
        assert got == ref

    def test_cms_join_size_never_undercounts(self, spark):
        import random

        import pyspark.sql.functions as F

        from fcs_etl_reactor_spark.operators.countmin import cms_build

        rng = random.Random(53)
        rows = [(rng.randint(0, 30),) for _ in range(500)]
        df = spark.createDataFrame(rows, "k INT")
        sketch = cms_build(df, "k", 4, 256)
        est = (
            sketch.groupBy("r")
            .agg(F.sum(F.col("counter") * F.col("counter")).alias("e"))
            .agg(F.min("e"))
            .collect()[0][0]
        )
        from collections import Counter

        c = Counter(k for (k,) in rows)
        exact = sum(v * v for v in c.values())
        assert est >= exact
        assert est <= exact + 3 * (500 * 500) // 256  # loose eps bound


class TestMisraGries:
    """The MG guarantee must hold on adversarial random streams at
    any partitioning: every key with freq > N/k present, estimates
    undercount by at most N/k."""

    def test_guarantee_on_random_streams(self, spark):
        import random
        from collections import Counter

        import pyspark.sql.functions as F

        from fcs_etl_reactor_spark.operators.misra_gries import mg_merged

        rng = random.Random(61)
        for trial, nparts in [(0, 2), (1, 5), (2, 9)]:
            # zipf-ish stream: few hot keys + uniform tail
            stream = [f"hot{i % 3}" for i in range(600)] + [
                f"cold{rng.randrange(200)}" for _ in range(400)
            ]
            rng.shuffle(stream)
            k = 8
            df = spark.createDataFrame(
                [(s,) for s in stream], "w string"
            ).repartition(nparts)
            merged = {
                r["w"]: r["mg_est"] for r in mg_merged(df, "w", k).collect()
            }
            exact = Counter(stream)
            n = len(stream)
            for key, freq in exact.items():
                if freq * k > n:
                    assert key in merged, (trial, key)
                if key in merged:
                    assert merged[key] <= freq
                    assert (freq - merged[key]) * k <= n


class TestPrefixFilterJoin:
    def test_prefix_filter_equals_full_join(self, spark):
        # the prefix-filter theorem in practice: the filtered join must
        # return EXACTLY the full inverted-index join's pair set on
        # arbitrary corpora, at several thresholds
        import random

        from fcs_etl_reactor_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_filter_jaccard_pairs,
        )

        rng = random.Random(13)
        vocab = [f"w{i}" for i in range(12)]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 18))))
            for i in range(24)
        ]
        df = spark.createDataFrame(rows, "doc_id INT, text STRING")
        for t in (0.3, 0.5, 0.8):
            full = {
                (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                for r in ngram_jaccard_pairs(
                    df, "doc_id", "text", n=3, threshold=t
                ).collect()
            }
            filt = {
                (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
                for r in prefix_filter_jaccard_pairs(
                    df, "doc_id", "text", n=3, threshold=t
                ).collect()
            }
            assert filt == full, (t, full ^ filt)


class TestDensityOperators:
    def test_eps_neighbor_counts_equals_brute_force(self, spark):
        # grid completeness on adversarial coordinates: negatives,
        # points exactly eps apart (boundary is <=), cell-line
        # straddlers, and coincident points
        import random

        from fcs_etl_reactor_spark.operators.density import (
            eps_neighbor_counts,
        )

        rng = random.Random(17)
        eps = 100
        pts = [(0, -100, -100), (1, 0, 0), (2, 100, 0), (3, 0, 100),
               (4, 99, 99), (5, 100, 100), (6, 0, 0), (7, -250, 50)]
        pts += [
            (8 + i, rng.randint(-400, 400), rng.randint(-400, 400))
            for i in range(60)
        ]
        for nparts in (1, 3, 7):
            df = spark.createDataFrame(
                pts, "pid LONG, qx LONG, qy LONG"
            ).repartition(nparts)
            got = {
                r["pid"]: r["n_neighbors"]
                for r in eps_neighbor_counts(
                    df, "pid", "qx", "qy", eps
                ).collect()
            }
            want = {
                a[0]: sum(
                    1
                    for b in pts
                    if (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= eps * eps
                )
                for a in pts
            }
            assert got == want, (nparts, {
                k: (got.get(k), want[k]) for k in want if got.get(k) != want[k]
            })

    def test_gram_upper_equals_numpy(self, spark):
        import random

        import numpy as np

        from fcs_etl_reactor_spark.operators.density import gram_upper

        rng = random.Random(23)
        dim = 5
        rows = [
            ([rng.randint(-1000, 1000) for _ in range(dim)],)
            for _ in range(40)
        ]
        m = np.array([r[0] for r in rows], dtype=np.int64)
        want = m.T @ m
        for nparts in (1, 2, 9):  # 9 > rows/5: some partitions empty
            df = spark.createDataFrame(
                rows, "v ARRAY<LONG>"
            ).repartition(nparts)
            got = {(r["i"], r["j"]): r["gram"] for r in gram_upper(df, "v", dim).collect()}
            assert len(got) == dim * (dim + 1) // 2, nparts
            for (i, j), g in got.items():
                assert i <= j and g == want[i][j], (nparts, i, j, g, want[i][j])


# ---- round-6 session additions ------------------------------------------


@given(
    cells=st.lists(
        st.tuples(st.integers(1, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=24,
    )
)
@settings(deadline=None, max_examples=60)
def test_isotonic_minmax_equals_pava(cells):
    """The min-max characterization q3t evaluates must equal the
    sequential PAV algorithm exactly (checked in rationals, so no
    float tolerance hides a logic error)."""
    ws = [w for w, _ in cells]
    ys = [Fraction(y) for _, y in cells]

    # reference: pool-adjacent-violators
    blocks = [[Fraction(w), Fraction(w) * y] for w, y in zip(ws, ys)]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][1] / blocks[i][0] > blocks[i + 1][1] / blocks[i + 1][0]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            del blocks[i + 1]
            if i > 0:
                i -= 1
        else:
            i += 1
    # per-index fits: walk cells through the pooled blocks (each block
    # holds an exact run of consecutive cell weights)
    fits = []
    bi, consumed = 0, Fraction(0)
    for w in ws:
        fits.append(blocks[bi][1] / blocks[bi][0])
        consumed += w
        if consumed == blocks[bi][0]:
            consumed = Fraction(0)
            bi += 1

    # min-max formula over prefix sums
    cw = [Fraction(0)]
    cs = [Fraction(0)]
    for w, y in zip(ws, ys):
        cw.append(cw[-1] + w)
        cs.append(cs[-1] + w * y)
    n = len(ws)
    minmax = []
    for k in range(n):
        best = None
        for i in range(k + 1):
            worst = None
            for j in range(k, n):
                avg = (cs[j + 1] - cs[i]) / (cw[j + 1] - cw[i])
                worst = avg if worst is None else min(worst, avg)
            best = worst if best is None else max(best, worst)
        minmax.append(best)

    assert minmax == fits
    # and the fit is monotone non-decreasing
    assert all(a <= b for a, b in zip(minmax, minmax[1:]))


@given(
    a=st.text(alphabet="abcdef #0123", min_size=0, max_size=20),
    b=st.text(alphabet="abcdef #0123", min_size=0, max_size=20),
)
@settings(deadline=None, max_examples=200)
def test_jaro_winkler_metric_properties(a, b):
    from fcs_etl_reactor_spark.functions.strsim import jaro_winkler

    s = jaro_winkler(a, b)
    assert 0.0 <= s <= 1.0
    assert jaro_winkler(b, a) == s  # symmetric
    assert jaro_winkler(a, a) == 1.0


@given(
    data=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False), min_size=200, max_size=4000
    ),
    n_chunks=st.integers(1, 7),
)
@settings(deadline=None, max_examples=25)
def test_quantile_sketch_rank_error_any_chunking(data, n_chunks):
    import numpy as np

    from fcs_etl_reactor_spark.operators.quantile_sketch import (
        _PartitionSketch,
        _weighted_resample,
    )

    arr = np.array(data, dtype=np.float64)
    # simulate n_chunks "partitions" then one merge re-compaction
    parts = np.array_split(arr, n_chunks)
    vs, ws = [], []
    for pdata in parts:
        sk = _PartitionSketch(buf_cap=512, summary_cap=256)
        sk.update(pdata)
        sv, sw = sk.summary()
        vs.append(sv)
        ws.append(sw)
    v = np.concatenate(vs)
    w = np.concatenate(ws)
    v, w = _weighted_resample(v, w, 256)
    order = np.argsort(v, kind="stable")
    v, w = v[order], w[order]
    cum = np.cumsum(w)
    srt = np.sort(arr)
    n = len(arr)
    for q in (0.1, 0.5, 0.9):
        est = v[min(np.searchsorted(cum, q * cum[-1], side="left"), len(v) - 1)]
        # with ties the estimate's rank is an INTERVAL [lo, hi]; the
        # guarantee is that the interval comes within eps of q*n
        lo = np.searchsorted(srt, est, side="left")
        hi = np.searchsorted(srt, est, side="right")
        eps = max(0.05 * n, 3)
        assert lo - eps <= q * n <= hi + eps


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@SETTINGS
@given(
    names=st.lists(
        st.text(alphabet="ab1", min_size=1, max_size=6),
        min_size=2, max_size=12, unique=True,
    )
)
def test_er_variant_cap_lossless_when_unbound(spark, names):
    """q1t's blocked candidate generation (the exact code path, via
    ed1_blocked_candidates) finds EVERY levenshtein==1 pair whenever
    the variant-df cap does not bind (cap >= n makes binding
    impossible): SymSpell deletion-neighborhood completeness at d<=1
    survives the hot-variant exclusion."""
    from itertools import combinations

    from fcs_etl_reactor_spark.queries.joins import ed1_blocked_candidates

    c = spark.createDataFrame([(n,) for n in names], "name STRING")
    got = {
        (r.name_a, r.name_b)
        for r in ed1_blocked_candidates(c, cap=len(names)).collect()
    }
    want = {
        tuple(sorted(p)) for p in combinations(names, 2) if _lev(*p) == 1
    }
    assert want <= got


def test_er_variant_cap_excludes_hot_variants(spark):
    """The cap's explicit worst-case trade: names ax/bx/cx/dx all meet
    ONLY through the shared deletion variant 'x' (df=4). cap=3 drops
    that bucket -> zero candidates (fanout bounded); cap=4 keeps it ->
    all 6 ED=1 pairs found."""
    from fcs_etl_reactor_spark.queries.joins import ed1_blocked_candidates

    c = spark.createDataFrame(
        [("ax",), ("bx",), ("cx",), ("dx",)], "name STRING"
    )
    assert ed1_blocked_candidates(c, cap=3).count() == 0
    assert ed1_blocked_candidates(c, cap=4).count() == 6


def test_er_variant_cap_fixture_headroom():
    """ER_VARIANT_DF_CAP never binds on the fixture corpora: measured
    max variant-df is 10/19/28 (supplier sf0.001/0.01/0.1) vs cap 256.
    Assert >=4x headroom at sf0.001 so a fixture regen that quietly
    densifies the name space fails here before it breaks q1t's
    unblocked-oracle hash match."""
    import duckdb

    from fcs_etl_reactor_spark.queries.joins import ER_VARIANT_DF_CAP

    (max_df,) = duckdb.connect().execute(
        """
        WITH n AS (
          SELECT DISTINCT s_name AS name
          FROM read_parquet('/root/testdata/sf0.001/supplier.parquet')
        ), v AS (
          SELECT name, name AS v FROM n
          UNION ALL
          SELECT name, substr(name, 1, i - 1) || substr(name, i + 1)
          FROM n, UNNEST(range(1, length(name) + 1)) AS t(i)
        )
        SELECT MAX(df) FROM (
          SELECT v, COUNT(*) AS df FROM (SELECT DISTINCT name, v FROM v)
          GROUP BY v
        )
        """
    ).fetchone()
    assert max_df * 4 <= ER_VARIANT_DF_CAP


@SETTINGS
@given(
    vals=st.lists(
        st.integers(-1000, 1000), min_size=1, max_size=37, unique=True
    )
)
def test_ntile_closed_form_matches_spark_ntile(spark, vals):
    """q3f computes NTILE(4) from (global rank, n) in closed form to
    avoid the single-reducer window; the formula must agree with
    Spark's own ntile(4) on every size, including n < 4 and sizes that
    don't divide by 4."""
    from pyspark.sql import Window

    df = spark.createDataFrame([(v,) for v in vals], "x INT")
    want = {
        r["x"]: r["nt"]
        for r in df.select(
            "x", F.ntile(4).over(Window.orderBy("x")).alias("nt")
        ).collect()
    }
    n1 = df.agg(F.count(F.lit(1)).alias("_n"))
    rk = F.row_number().over(Window.orderBy("x"))  # rank source is not under test
    scored = (
        df.select("x", rk.alias("_rk"))
        .crossJoin(F.broadcast(n1))
        .withColumn("_q", F.expr("_n div 4"))
        .withColumn("_r", F.col("_n") % 4)
        .withColumn("_head", F.col("_r") * (F.col("_q") + 1))
    )
    # the production BIGINT-div closed form (q3f's ntile4 idiom)
    closed = (
        F.when(
            F.col("_rk") <= F.col("_head"),
            F.expr("(_rk - 1) div (_q + 1)") + 1,
        )
        .otherwise(
            F.col("_r") + F.expr("(_rk - _head - 1) div greatest(_q, 1)") + 1
        )
        .cast("int")
    )
    got = {r["x"]: r["nt"] for r in scored.select("x", closed.alias("nt")).collect()}
    assert got == want


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9))
        .filter(lambda e: e[0] != e[1])
        .map(lambda e: (min(e), max(e))),
        min_size=1,
        max_size=20,
        unique=True,
    ),
    rounds=st.integers(1, 3),
)
def test_label_propagation_matches_reference(spark, edges, rounds):
    """Synchronous LPA with (count desc, label asc) plurality tie-break
    is fully deterministic — the Spark operator must agree with the
    pure-Python twin on every random graph and round count."""
    from fcs_etl_reactor_spark.operators.graphs import (
        label_propagation,
        lpa_reference,
    )

    und = spark.createDataFrame(edges, "a INT, b INT").distinct()
    got = {
        r["node"]: r["label"]
        for r in label_propagation(und, rounds=rounds).collect()
    }
    assert got == lpa_reference(sorted(set(edges)), rounds)


def test_label_propagation_rejects_zero_rounds(spark):
    from fcs_etl_reactor_spark.operators.graphs import (
        label_propagation,
        lpa_reference,
    )

    und = spark.createDataFrame([(1, 2)], "a INT, b INT")
    with pytest.raises(ValueError):
        label_propagation(und, rounds=0)
    with pytest.raises(ValueError):
        lpa_reference([(1, 2)], rounds=0)


@SETTINGS
@given(
    vals=st.lists(st.integers(0, 1000), min_size=2, max_size=40),
)
def test_cusum_location_matches_reference(spark, vals):
    """argmax_t |n·S_t − t·S_n| with earliest-t ties: the Spark
    operator must agree with the brute-force twin on any series."""
    from fcs_etl_reactor_spark.operators.changepoint import (
        cusum_location,
        cusum_location_reference,
    )

    df = spark.createDataFrame(
        [("g", i + 1, v) for i, v in enumerate(vals)], "g STRING, t INT, c INT"
    )
    row = cusum_location(df, "g", "t", "c").collect()[0]
    ref_t, ref_d = cusum_location_reference(vals)
    assert (row["cp_t"], row["d_abs"]) == (ref_t, ref_d)


@SETTINGS
@given(
    a=st.integers(0, 50),
    shift=st.integers(1, 50),
    k=st.integers(1, 15),
    m=st.integers(1, 15),
)
def test_cusum_location_recovers_clean_step(a, shift, k, m):
    """For a clean single level shift — k points at level a then m
    points at level a+shift — |D_t| peaks exactly at the shift, so the
    estimator must return t = k (the CUSUM location property q3x's
    usefulness rests on)."""
    from fcs_etl_reactor_spark.operators.changepoint import (
        cusum_location_reference,
    )

    t, _ = cusum_location_reference([a] * k + [a + shift] * m)
    assert t == k


@SETTINGS
@given(vals=st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=8))
def test_bloom_bit_sql_portable_and_in_range(spark, vals):
    """q2s's skip decision is exact only if `_bloom_bit_sql` evaluates
    IDENTICALLY in Spark and DuckDB for any value — the portability
    claim the oracle parity rests on — and lands in [0, 256)."""
    import duckdb

    from fcs_etl_reactor_spark.queries.storage import (
        _BLOOM_HASHES,
        _bloom_bit_sql,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v LONG")
    exprs = [
        _bloom_bit_sql("cast(v as string)", f"'{s}'") for s in _BLOOM_HASHES
    ]
    got = [
        tuple(r) for r in df.selectExpr("v", *exprs).orderBy("v").collect()
    ]
    dd_exprs = ", ".join(
        _bloom_bit_sql("CAST(v AS VARCHAR)", f"'{s}'") for s in _BLOOM_HASHES
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = con.execute(f"SELECT v, {dd_exprs} FROM t ORDER BY v").fetchall()
    assert got == [tuple(w) for w in want]
    assert all(0 <= b < 256 for row in got for b in row[1:])


# ---------------------------------------------------------------- q1w budget


@SETTINGS
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(0, 9), st.integers(0, 9), st.integers(1, 30)
        )
        .filter(lambda e: e[0] != e[1])
        .map(lambda e: (min(e[0], e[1]), max(e[0], e[1]), e[2])),
        min_size=1,
        max_size=25,
        unique_by=lambda e: (e[0], e[1]),
    ),
    budget=st.integers(0, 50),
)
def test_wedge_budget_matches_reference(spark, pairs, budget):
    """The degree-histogram pre-pass must choose exactly the smallest
    ladder rung whose reference wedge count fits the budget (or the
    last rung when none does) — the decision is exact integer
    arithmetic, so Spark and the pure twin must never disagree."""
    from fcs_etl_reactor_spark.operators.graphs import (
        wedge_budget_min_shared,
        wedge_count_reference,
    )

    ladder = (2, 3, 4, 6, 8)
    support = spark.createDataFrame(pairs, "a INT, b INT, n_orders BIGINT")
    got = wedge_budget_min_shared(support, ladder, budget)
    want = ladder[-1]
    for ms in ladder:
        if wedge_count_reference(pairs, ms) <= budget:
            want = ms
            break
    assert got == want


def test_q1w_budget_stays_at_contract_threshold_on_fixtures(spark):
    """At test scale factors the co-purchase graph is orders of
    magnitude under _RA_WEDGE_BUDGET, so the adaptive guard must keep
    the contractual min_shared=2 — this is what pins q1w's oracle
    parity (the DuckDB oracle hard-codes HAVING COUNT(*) >= 2)."""
    from fcs_etl_reactor_spark.operators.graphs import (
        copurchase_pairs,
        wedge_budget_min_shared,
    )
    from fcs_etl_reactor_spark.io import load
    from fcs_etl_reactor_spark.queries.graph import (
        _RA_MIN_SHARED_LADDER,
        _RA_WEDGE_BUDGET,
    )

    li = load(spark, "/root/testdata/sf0.01", "lineitem")
    support = copurchase_pairs(li, min_shared=2)
    assert (
        wedge_budget_min_shared(
            support, _RA_MIN_SHARED_LADDER, _RA_WEDGE_BUDGET
        )
        == 2
    )


def test_q1z_budget_escalates_on_fixtures(spark):
    """q1z's tight budget (100 wedges) must force the ladder ABOVE the
    contractual min_shared=2 on the standard fixtures — this pins that
    its driver oracle exercises the escalated regime q1w's own oracle
    never reaches, and that the chosen rung travels in the output
    (ms_used is part of the driver's value hash)."""
    from fcs_etl_reactor_spark.queries import QUERIES

    rows = QUERIES["q1z_link_prediction_budgeted"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "escalated RA result must be non-empty at sf0.001"
    assert {r["ms_used"] for r in rows} == {4}  # 65,507 wedges at ms=2,
    # 2,985 at ms=3, 84 at ms=4 <= 100 — the first rung under budget


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.2, 0.5, 0.8]),
)
def test_jaccard_verify_matches_allpairs_arm(spark, texts, threshold):
    """The candidates-only verify operator must produce exactly
    cands ∩ ngram_jaccard_pairs on every corpus — same pair set, same
    jaccard values — when handed the complete pair list as candidates
    (the all-pairs arm IS the definition; verify is the scale path)."""
    from fcs_etl_reactor_spark.operators.dedup import (
        jaccard_verify_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    n_docs = len(texts)
    all_pairs = spark.createDataFrame(
        [(a, b) for a in range(n_docs) for b in range(a + 1, n_docs)],
        "doc_a INT, doc_b INT",
    )
    got = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in jaccard_verify_pairs(
            docs, all_pairs, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=threshold
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------- q1y topk


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),               # group
            st.integers(-100, 100),          # value (ties likely)
            st.integers(0, 10_000),          # id
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[2],
    ),
    k=st.integers(1, 4),
    descending=st.booleans(),
)
def test_partial_topk_matches_reference(spark, rows, k, descending):
    """The combiner-form top-k must equal the window-filter form on
    every random multiset, tie-break included — exactness is the
    dominance argument, so any partitioning of the input must give
    the same survivors."""
    from fcs_etl_reactor_spark.operators.topk import (
        partial_topk,
        partial_topk_reference,
    )

    df = spark.createDataFrame(
        rows, "g INT, v INT, id INT"
    ).repartition(3)  # force multi-partition map side
    got = sorted(
        tuple(r) for r in partial_topk(
            df, ["g"], "v", "id", k=k, descending=descending
        ).collect()
    )
    want = partial_topk_reference(rows, 1, k, descending=descending)
    assert got == [tuple(w) for w in want]


def test_partial_topk_rejects_bad_k(spark):
    from fcs_etl_reactor_spark.operators.topk import (
        partial_topk,
        partial_topk_reference,
    )
    import pytest as _pytest

    df = spark.createDataFrame([(1, 1, 1)], "g INT, v INT, id INT")
    with _pytest.raises(ValueError):
        partial_topk(df, ["g"], "v", "id", k=0)
    with _pytest.raises(ValueError):
        partial_topk_reference([(1, 1, 1)], 1, 0)


def test_partial_topk_keeps_null_group(spark):
    """A NULL group key is a regular window partition; the map-side
    pandas fold must not drop it (pandas groupby dropna default)."""
    from fcs_etl_reactor_spark.operators.topk import partial_topk

    df = spark.createDataFrame(
        [(None, 5, 1), (None, 9, 2), (None, 7, 3), (1, 4, 4)],
        "g INT, v INT, id INT",
    ).repartition(2)
    got = sorted(
        (
            (r["g"], r["v"], r["id"], r["rk"])
            for r in partial_topk(df, ["g"], "v", "id", k=2).collect()
        ),
        key=lambda t: (t[0] is not None, t[0], t[3]),
    )
    assert got == [
        (None, 9, 2, 1),
        (None, 7, 3, 2),
        (1, 4, 4, 1),
    ]


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),  # group
            st.one_of(
                st.none(),
                st.just(float("nan")),
                st.floats(-100, 100, allow_nan=False),
            ),  # value: NULL, NaN and regular doubles mixed
            st.integers(0, 10_000),  # id
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[2],
    ),
    k=st.integers(1, 3),
    descending=st.booleans(),
)
def test_partial_topk_null_nan_matches_window_form(spark, rows, k, descending):
    """NULL and NaN order values must follow the plain-window placement
    (asc: NULLS FIRST, NaN last; desc: NaN first, NULLS LAST). Arrow
    hands pandas NULL and NaN identically, so this only holds because
    the NULL/NaN class is computed JVM-side — the regression this pins
    is the map-side fold discarding rows the global top-k needs."""
    from pyspark.sql import Window

    from fcs_etl_reactor_spark.operators.topk import partial_topk

    df = spark.createDataFrame(rows, "g INT, v DOUBLE, id INT").repartition(3)
    got = {
        r["id"]: r["rk"]
        for r in partial_topk(
            df, ["g"], "v", "id", k=k, descending=descending
        ).collect()
    }
    order = F.col("v").desc() if descending else F.col("v").asc()
    w = Window.partitionBy("g").orderBy(order, F.col("id").asc())
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .collect()
    }
    # ids are unique, so {id: rank} determines the full result
    assert got == want


def test_q3y_quotient_form_equals_raw_row_form(spark):
    """q3y's committed form pre-aggregates the per-day quotient before
    the GROUPS-style frame (key-cardinality-bound window sort). The
    definitional form ranks the RAW rows (dense_rank per flag over
    ship_date, RANGE frame over that index) — same numbers, table-
    bound sort. Asserting the two equal removes the shared-algebra
    caveat: the oracle and query both pre-aggregate, this twin does
    not."""
    from pyspark.sql import Window

    from fcs_etl_reactor_spark.io import load
    from fcs_etl_reactor_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    got = {
        (r["flag"], r["ship_date"]): r["frame_cents"]
        for r in QUERIES["q3y_groups_frame"](spark, sf).collect()
    }
    li = load(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.to_date("l_shipdate").alias("ship_date"),
        F.floor(F.col("l_quantity") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    wd = Window.partitionBy("flag").orderBy("ship_date")
    raw = li.withColumn("_dr", F.dense_rank().over(wd))
    wf = Window.partitionBy("flag").orderBy("_dr").rangeBetween(-2, 0)
    want = {
        (r["flag"], r["ship_date"]): r["frame_cents"]
        for r in raw.withColumn("frame_cents", F.sum("cents").over(wf))
        .select("flag", "ship_date", "frame_cents")
        .distinct()
        .collect()
    }
    assert got == want


def test_partial_topk_rejects_null_id(spark):
    """NULL ids order differently in pandas and Spark, so the contract
    is explicit: the tiebreak column must be non-null."""
    from fcs_etl_reactor_spark.operators.topk import partial_topk

    df = spark.createDataFrame(
        [(1, 5, 1), (1, 9, None)], "g INT, v INT, id INT"
    )
    with pytest.raises(Exception, match="id_col must be non-null"):
        partial_topk(df, ["g"], "v", "id", k=1).collect()
