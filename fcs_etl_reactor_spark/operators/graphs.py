"""Reusable distributed graph operators (the engine behind
queries/graph.py — see that module for the fixture-bound registry
entries and their oracle derivations).

Both operators are built for oracle parity AND web scale:

- ``pagerank``: fixed-point long ranks (scale 1e12) with floor
  arithmetic — every per-iteration op is an IEEE double op on
  integer-valued inputs below 2^53 followed by a floor, bit-identical
  in any engine at any partitioning. Out-degree rides with the edge
  rows so an iteration is one join + one groupBy.
- ``oriented_triangles`` / ``triangle_count``: DEGREE-ORIENTED wedge
  join — each undirected edge directed from its lower-(deg, id)
  endpoint, so per-vertex wedge fanout is the out-degree, O(√m) on any
  graph (id orientation probed 12.9× at a 10× densified graph; degree
  orientation 1.4×). ``oriented_triangles`` lists each triangle's
  corner triple exactly once (q1k's per-node tallies fan out of it);
  ``triangle_count`` reduces the listing to one (count, edges) row.

Every iterative operator here calls ``localCheckpoint`` on its round
state — the cadence MLlib uses for ALS/GraphX. Without it a k-round
loop hands AQE one deep plan whose stages materialize CONCURRENTLY:
on a vanilla 1g local[16] heap, three 3-iteration graph queries run
back-to-back die with a Java-heap OOM, while per-round checkpointing
runs each round as a small sequential job. It also truncates lineage,
so earlier rounds' shuffle files become collectable. Values are
unchanged: the arithmetic is exact fixed-point. A failed checkpoint
job fails the call.

``localCheckpoint(eager=False)`` truncates the plan at once but defers
the block persist to the next action over the frame. The sites that
use it follow it with a per-round aggregate (node count, renorm max,
convergence sum), so ONE job both materializes the state and computes
the aggregate. Precondition at every lazy site: that action runs
before two stages read the frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as WindowSpec
from pyspark.sql import functions as F

PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 in exact integer arithmetic


def symmetrize(
    df: DataFrame,
    a: str,
    b: str,
    out_a: str,
    out_b: str,
    carry: list[str] | None = None,
) -> DataFrame:
    """Emit each (a, b) row in BOTH orientations from ONE upstream
    execution, as (out_a, out_b, *carry): explode of a 2-struct array.
    The unionAll-of-swapped-selects form plans the upstream into both
    branches — an expensive edge derivation (LSH+verify, a co-purchase
    self-join) then executes twice on a cold plan and compiles twice
    the code (measured 13.7 → 8.8 s cold for q5b's edge materialize;
    steady-state equal because exchange reuse already deduplicated the
    union). Row multiset identical by construction."""
    carry = list(carry or [])
    fwd = F.struct(
        F.col(a).alias(out_a), F.col(b).alias(out_b),
        *[F.col(c) for c in carry],
    )
    rev = F.struct(
        F.col(b).alias(out_a), F.col(a).alias(out_b),
        *[F.col(c) for c in carry],
    )
    return df.select(F.explode(F.array(fwd, rev)).alias("_e")).select(
        *[F.col(f"_e.{c}") for c in (out_a, out_b, *carry)]
    )


def pagerank(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Simplified PageRank (dangling mass dropped) over (src, dst)
    edge rows; returns (node, rank_scaled BIGINT) at PR_SCALE."""
    # outdeg via a whole-partition window on src: ONE shuffle of the
    # edge rows (no sort — unordered frame) instead of the
    # groupBy+join-back two-shuffle shape; measured 2.76 s → 1.78 s
    # at sf0.01 with identical fixed-point output.
    edges_w = edges.withColumn(
        "outdeg", F.count(F.lit(1)).over(WindowSpec.partitionBy("src"))
    )
    edges_w = edges_w.localCheckpoint()
    # node set from the CHECKPOINTED edge rows, exploded in one pass —
    # the union-of-two-selects form planned the caller's raw edge
    # derivation into both branches and executed it twice (round-12;
    # same row set either way).
    nodes = (
        edges_w.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        .distinct()
    )
    # Fold the node count into the nodes materialization (lazy
    # checkpoint + count as the materializing action — one job), and
    # embed base/seed rank as exact literals: floor(float(...) / n) is
    # the same IEEE double division + floor whether computed here or
    # per row in the JVM (pagerank_reference has always used this
    # Python form), so values are bit-identical — while every round's
    # plan drops the crossJoin(broadcast(n)) whose 1-row broadcast was
    # rebuilt (a job re-reading the node set) on each eager-checkpoint
    # action (round-12 fold).
    import math

    nodes = nodes.localCheckpoint(eager=False)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select("node", F.lit(0).cast("bigint").alias("rank_scaled"))
    base_val = math.floor(
        float(PR_SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN) / n_nodes
    )
    ranks = nodes.select(
        "node",
        F.lit(math.floor(float(PR_SCALE) / n_nodes)).cast("bigint").alias("r"),
    )
    for _ in range(iters):
        contribs = (
            edges_w.join(ranks, edges_w.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.floor(F.col("r") / F.col("outdeg")).cast("bigint").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("m"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base_val).cast("bigint")
                    + F.floor(
                        F.coalesce(F.col("m"), F.lit(0))
                        * DAMP_NUM
                        / F.lit(float(DAMP_DEN))
                    ).cast("bigint")
                ).alias("r"),
            )
        )
        ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def pagerank_reference(
    edges: list[tuple[str, str]], iters: int = 3
) -> dict[str, int]:
    """Pure-Python twin of ``pagerank`` for property tests — same
    fixed-point floor arithmetic, dict-based."""
    import math

    nodes = sorted({u for e in edges for u in e})
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(nodes)
    base = math.floor(float(PR_SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN) / n)
    r = {v: math.floor(float(PR_SCALE) / n) for v in nodes}
    for _ in range(iters):
        m: dict[str, int] = {v: 0 for v in nodes}
        for s, d in edges:
            m[d] += math.floor(r[s] / out[s])
        r = {v: base + math.floor(m[v] * DAMP_NUM / float(DAMP_DEN)) for v in nodes}
    return r


def oriented_triangles(und: DataFrame) -> DataFrame:
    """List each triangle of the UNDIRECTED canonical edge set (a < b,
    one row per edge) exactly once, as (x, y, z) corner triples.

    Edges are oriented low-degree → high-degree (ties by id), so every
    vertex's out-degree — and therefore the wedge fanout at the join —
    is O(√m) even on skewed graphs: the degree-orientation bound that
    makes distributed triangle work O(m^1.5) instead of Σ d(v)² (an
    id-canonical orientation lets one low-id hub contribute d² wedges;
    measured 22× at the 10× densified probe before this helper
    replaced q1k's id-oriented join)."""
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    u = und.alias("u")
    a_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("u.a") < F.col("u.b"))
    )
    oriented = (
        u.join(da, F.col("da.v") == F.col("u.a"))
        .join(db, F.col("db.v") == F.col("u.b"))
        .select(
            F.when(a_first, F.col("u.a")).otherwise(F.col("u.b")).alias("src"),
            F.when(a_first, F.col("u.b")).otherwise(F.col("u.a")).alias("dst"),
            F.when(a_first, F.col("db.d")).otherwise(F.col("da.d")).alias("ddeg"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedge_lt = (F.col("e1.ddeg") < F.col("e2.ddeg")) | (
        (F.col("e1.ddeg") == F.col("e2.ddeg")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    return (
        e1.join(e2, (F.col("e2.src") == F.col("e1.src")) & wedge_lt)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )


def triangle_count(und: DataFrame) -> DataFrame:
    """Exact triangle count over UNDIRECTED canonical edges (a < b,
    one row per edge); returns one row (n_triangles, n_edges)."""
    tris = oriented_triangles(und)
    n_tri = tris.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    n_edge = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return n_tri.crossJoin(F.broadcast(n_edge))


def triangle_count_reference(edges: list[tuple[int, int]]) -> int:
    """Brute-force triangle count for property tests."""
    from itertools import combinations

    adj = set()
    nodes = set()
    for a, b in edges:
        lo, hi = (a, b) if a < b else (b, a)
        if lo != hi:
            adj.add((lo, hi))
            nodes.update((lo, hi))
    return sum(
        1
        for x, y, z in combinations(sorted(nodes), 3)
        if (x, y) in adj and (y, z) in adj and (x, z) in adj
    )


HITS_SCALE = 1_000_000


def hits_fixed_point(edges: DataFrame, iters: int) -> tuple[DataFrame, DataFrame]:
    """Fixed-point HITS over directed (src, dst) edges: `iters` rounds
    of authority = Σ hub(in-neighbours), hub = Σ auth(out-neighbours),
    each renormalized by integer `value * SCALE div max` — exact BIGINT
    arithmetic end-to-end, bit-identical in any engine at any
    partitioning. Returns (auth, hub) as (node, a) / (node, h) frames.
    Per round: two edge joins + two groupBys + two 1-row max
    broadcasts; round state materialized (the iterative cadence).

    Requires iters >= 1 (iters=0 would return (None, h), a silent
    None for the authority frame — ADVICE r7). Empty `edges` is fine:
    every join/groupBy is empty, so both frames come back empty."""
    if iters < 1:
        raise ValueError(f"hits_fixed_point requires iters >= 1, got {iters}")
    s = HITS_SCALE
    # edges is read 2x per round (+ the seed distinct); materialize it
    # once like pagerank does — otherwise the caller's upstream edge
    # derivation re-executes 2*iters+1 times
    edges = edges.localCheckpoint()
    h = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "h", F.lit(s).cast("bigint")
    )
    a = None
    for _ in range(iters):
        ar = (
            edges.join(h, edges["src"] == h["node"])
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
        )
        # LAZY checkpoint of the raw sums: the 1-row max broadcast
        # build is the materializing action, so each half-round is ONE
        # job that computes the join+groupBy, persists it, and returns
        # the max — the old shape (max job over the lazy plan + eager
        # checkpoint of the renormalized frame) executed the join+
        # groupBy twice and ran two jobs per half-round (round-12
        # fold). The renormalize join then reads persisted blocks, so
        # a/h stay shallow two-node plans and need no checkpoint of
        # their own.
        ar = ar.localCheckpoint(eager=False)
        am = ar.agg(F.max("a").alias("am"))
        a = ar.join(F.broadcast(am)).select(
            F.col("dst").alias("node"),
            F.expr(f"a * {s} div am").cast("bigint").alias("a"),
        )
        hr = (
            edges.join(a, edges["dst"] == a["node"])
            .groupBy("src")
            .agg(F.sum("a").alias("hsum"))
        )
        hr = hr.localCheckpoint(eager=False)
        hm = hr.agg(F.max("hsum").alias("hm"))
        h = hr.join(F.broadcast(hm)).select(
            F.col("src").alias("node"),
            F.expr(f"hsum * {s} div hm").cast("bigint").alias("h"),
        )
    return a, h


def hits_reference(
    edges: list[tuple[str, str]], iters: int
) -> tuple[dict[str, int], dict[str, int]]:
    """Pure-Python twin of ``hits_fixed_point`` for property tests —
    same integer `* SCALE // max` renormalization, dict-based. Same
    iters >= 1 contract; empty edges return two empty dicts (the dict
    analogue of the Spark twin's empty frames)."""
    if iters < 1:
        raise ValueError(f"hits_reference requires iters >= 1, got {iters}")
    if not edges:
        return {}, {}
    s = HITS_SCALE
    h = {u: s for u, _ in edges}
    a: dict[str, int] = {}
    for _ in range(iters):
        ar: dict[str, int] = {}
        for u, v in edges:
            ar[v] = ar.get(v, 0) + h[u]
        am = max(ar.values())
        a = {v: x * s // am for v, x in ar.items()}
        hr: dict[str, int] = {}
        for u, v in edges:
            hr[u] = hr.get(u, 0) + a[v]
        hm = max(hr.values())
        h = {u: x * s // hm for u, x in hr.items()}
    return a, h


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """R rounds of "drop nodes with degree < k, then edges touching
    them" over UNDIRECTED canonical edges (a < b, one row per edge);
    returns the surviving edge list. Each round = one degree count +
    two semi joins, state materialized per round (the iterative-graph
    checkpoint cadence). Run to fixed point this IS the k-core; a
    fixed round count is the bounded-latency filter form (q1h)."""
    # round 0 reads the input 3x (degree count + both semi joins);
    # materialize it once, same cadence as the per-round state below
    edges = edges.localCheckpoint()
    for _ in range(rounds):
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionAll(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        edges = (
            edges.join(deg.withColumnRenamed("node", "a"), "a", "leftsemi")
            .join(deg.withColumnRenamed("node", "b"), "b", "leftsemi")
            .localCheckpoint()
        )
    return edges


def copurchase_pairs(lineitem: DataFrame, min_shared: int = 1) -> DataFrame:
    """Canonical co-purchase part pairs from lineitem rows: (a, b,
    n_orders) with a < b, keyed self-join on the order (fanout bounded
    by order size, never corpus-quadratic), map-side pair counts.
    Shared by q1c (market basket) and q5o (triangle edges)."""
    li = lineitem.select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= min_shared)
    )


def bfs_hops(und: DataFrame, max_hops: int) -> DataFrame:
    """Single-source BFS hop distances (unweighted SSSP), Pregel
    style: each round expands the current distance set across the
    edge list (one shuffle on the node id) and re-minimizes, with the
    round state localCheckpointed — frontier-bounded, no driver
    collect of row data, iteration-capped by construction.

    `und` is the undirected edge list as (src, dst) with both
    directions present. The source is the smallest node id present —
    deterministic and engine-independent. Returns (node, d) for every
    node within `max_hops` hops; unreached nodes are absent.

    Scale: identical topology to pagerank() — the per-round cost is
    one |E| join partial-aggregated on dst. Distances are INTs; MIN
    over ints is order-independent, so the result is partition- and
    engine-invariant."""
    und = und.localCheckpoint()
    dist = (
        und.agg(F.min("src").alias("node"))
        .withColumn("d", F.lit(0).cast("int"))
    )
    for _ in range(max_hops):
        nxt = (
            dist.join(und, dist["node"] == und["src"])
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionAll(nxt)
            .groupBy("node")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return dist


def label_propagation(und: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (Raghavan/Albert/Kumara 2007)
    over UNDIRECTED canonical edges (a < b, one row per edge); returns
    (node, label). Deterministic by construction: every node starts
    with its own id, and each of the `rounds` synchronized sweeps
    adopts the plurality label among neighbors with ties broken by the
    SMALLEST label (the classic random/asynchronous variant is not
    reproducible by design). Per round: one shuffle (edges ⋈ labels on
    dst, groupBy(src, label) with map-side partial counts) plus a
    window PARTITIONED BY src — vote lists bounded by degree, never a
    global window; round state localCheckpointed (the iterative-graph
    cadence). Nodes appear iff they touch an edge, so every node has
    >= 1 neighbor and the plurality argmax is total."""
    if rounds < 1:
        raise ValueError(f"label_propagation requires rounds >= 1, got {rounds}")
    # one-pass symmetrization (see symmetrize): the unionAll form
    # executed the caller's edge derivation twice in the checkpoint job
    adj = symmetrize(und, "a", "b", "src", "dst").localCheckpoint()
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    w = WindowSpec.partitionBy("src").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        votes = (
            adj.join(labels, adj["dst"] == labels["node"])
            .groupBy("src", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("node"), "label")
            .localCheckpoint()
        )
    return labels


def lpa_reference(
    edges: list[tuple[int, int]], rounds: int
) -> dict[int, int]:
    """Pure-Python twin of ``label_propagation`` for property tests:
    same synchronous sweeps, same (count desc, label asc) plurality
    tie-break, dict-based. Same rounds >= 1 contract; empty edges
    return an empty map."""
    if rounds < 1:
        raise ValueError(f"lpa_reference requires rounds >= 1, got {rounds}")
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {v: v for v in adj}
    for _ in range(rounds):
        nxt: dict[int, int] = {}
        for v, nbrs in adj.items():
            counts: dict[int, int] = {}
            for u in nbrs:
                lbl = labels[u]
                counts[lbl] = counts.get(lbl, 0) + 1
            nxt[v] = min(counts, key=lambda lbl: (-counts[lbl], lbl))
        labels = nxt
    return labels


def wedge_budget_min_shared(
    support: DataFrame, ladder: tuple[int, ...], budget: int
) -> int:
    """Degree-histogram pre-pass for wedge-enumerating algorithms
    (Resource Allocation / common-neighbor scoring): pick the smallest
    support threshold on the *ladder* whose filtered graph has at most
    *budget* wedges, where the wedge count Σ_w d(w)·(d(w)−1)/2 is the
    EXACT row count the wedge self-join must produce.

    `support` is the canonical pair table (a, b, n_orders) from
    ``copurchase_pairs(min_shared=1..)``. All ladder rungs are costed
    in ONE pass — explode endpoints once, per-node conditional degree
    per rung, one 1-row driver collect (bounded by len(ladder)
    columns) — so the pre-pass is two small shuffles regardless of
    how many rungs are probed, and never re-executes the (materialized)
    pair build. Raising min_shared is the exact-preserving lever from
    the q1w contract: the result is still an exact RA computation on a
    more strongly supported graph, unlike a hub cap which perturbs
    individual scores. If even the last rung exceeds the budget the
    last rung is returned (degrade as far as the ladder allows, never
    silently emptier): callers choose ladders whose tail is known to
    tame their densification mode.

    All counts are BIGINT — the decision is deterministic and
    partition-invariant by construction.
    """
    ends = support.select(F.col("a").alias("node"), "n_orders").unionAll(
        support.select(F.col("b").alias("node"), "n_orders")
    )
    degs = ends.groupBy("node").agg(
        *[
            F.sum((F.col("n_orders") >= ms).cast("bigint")).alias(f"d{ms}")
            for ms in ladder
        ]
    )
    row = degs.agg(
        *[
            F.sum(F.col(f"d{ms}") * (F.col(f"d{ms}") - F.lit(1))).alias(f"w{ms}")
            for ms in ladder
        ]
    ).collect()[0]
    for ms in ladder:
        if (row[f"w{ms}"] or 0) <= 2 * budget:  # w columns hold 2·wedges
            return ms
    return ladder[-1]


def wedge_count_reference(
    pairs: list[tuple[int, int, int]], min_shared: int
) -> int:
    """Pure-Python twin of the per-rung wedge estimate: exact number
    of (u < v, w) wedge rows the RA enumeration produces on the
    support-filtered graph."""
    deg: dict[int, int] = {}
    for a, b, n in pairs:
        if n >= min_shared:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
    return sum(d * (d - 1) // 2 for d in deg.values())
