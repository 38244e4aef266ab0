"""Deduplication operators (SURVEY.md §2.11 L1/L2 + north-star dedup
family): exact hash dedup, n-gram Jaccard, MinHash+LSH banding, SimHash.

Scale design (the 100 TB rule: never materialize O(n²)):
- exact: shuffle key is the content digest — perfectly balanced unless
  one document dominates (then salt);
- jaccard: candidate pairs come from an inverted-index (shingle) join —
  cost Σ |posting list|², which LSH banding caps for web-scale corpora;
- minhash_lsh: per-doc signatures are expression-generated xxhash64
  permutations (no Python), banding turns near-dup search into an
  equality groupBy on (band, band_hash) — the classic
  shingle→minhash→band→bucket-join pipeline;
- simhash: 64-bit weighted-projection fingerprint; near-dups differ in
  ≤ k bits, found by banding the fingerprint into 4 × 16-bit keys.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """L1: keep the lowest-id row per normalized-content SHA-256."""
    hashed = df.withColumn(
        "__content_hash", F.sha2(F.lower(F.trim(F.col(text_col))), 256)
    )
    w = Window.partitionBy("__content_hash").orderBy(id_col)
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__content_hash")
    )


def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    with_count: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document, as (id, shingle) rows.

    Arrow-batched mapInPandas: Spark's higher-order functions
    (transform + concat_ws over element_at) evaluate INTERPRETED per
    array element, which made this the hottest primitive of the whole
    text-dedup family (measured 4.2 s steady-state for 5k docs at
    sf0.1 vs 1.1 s for this form; exact row parity verified — same
    split-on-single-space tokenization, first-occurrence-distinct
    n-grams, zero shingles for docs shorter than n tokens). The input
    is projected to exactly (id, text) so scan pruning is unaffected,
    the generator is stateless per batch, and the output is the same
    (id, shingle) row shape every caller joined on before.

    ``with_count=True`` (round 12) additionally emits the document's
    DISTINCT shingle count on every row (``_n_sh`` INT) — the quantity
    the Jaccard denominators need — so inverted-index consumers can
    carry it through their self-join instead of re-running this Python
    pass a third time and joining the sizes back on.
    """

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids_out, sh_out, n_out = [], [], []
            for i, txt in zip(pdf[id_col].values, pdf[text_col].values):
                toks = txt.split(" ") if isinstance(txt, str) else []
                if len(toks) >= n:
                    seen = set()
                    for j in range(len(toks) - n + 1):
                        g = " ".join(toks[j : j + n])
                        if g not in seen:
                            seen.add(g)
                            ids_out.append(i)
                            sh_out.append(g)
                    if with_count:
                        n_out.extend([len(seen)] * len(seen))
            if ids_out:  # empty frames only cost serializer churn
                out = {id_col: ids_out, "shingle": sh_out}
                if with_count:
                    out["_n_sh"] = n_out
                yield pd.DataFrame(out)

    id_t = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_t}, shingle string"
    if with_count:
        schema += ", _n_sh int"
    return df.select(id_col, text_col).mapInPandas(gen, schema)


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document as ONE array row per
    doc: (id, _sh_set) — the shape the verify stage intersects. Same
    vectorized kernel (and the same tokenization/distinct semantics)
    as ``shingles``; docs shorter than n tokens get an EMPTY array,
    matching the expression form it replaces."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids_out, set_out = [], []
            for i, txt in zip(pdf[id_col].values, pdf[text_col].values):
                toks = txt.split(" ") if isinstance(txt, str) else []
                if len(toks) >= n:
                    grams = list(
                        dict.fromkeys(
                            " ".join(toks[j : j + n])
                            for j in range(len(toks) - n + 1)
                        )
                    )
                else:
                    grams = []
                ids_out.append(i)
                set_out.append(grams)
            if ids_out:
                yield pd.DataFrame({id_col: ids_out, "_sh_set": set_out})

    id_t = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_t}, _sh_set array<string>"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥
    threshold. Candidate generation is an inverted-index self-join on
    the shingle — documents with no shingle in common are never paired.
    """
    # no baked-in cache: a persist inside a library operator leaks
    # executor storage across callers (round-1 q10 lesson); the shingle
    # explode is recomputed per use, which Catalyst pipelines with the
    # downstream aggregations — callers that reuse the frame repeatedly
    # can persist at their own scope.
    # Denominator counts ride WITH the shingle rows (with_count —
    # round 12): the sizes-aggregate-plus-two-joins form ran the
    # tokenization Python pass a third time and re-shuffled the pair
    # table twice just to attach two ints that are constant per doc;
    # carrying them through the self-join costs 4 bytes/row in the
    # exchange and makes the whole query one self-join + one pair
    # aggregation. first() over a group is order-sensitive in general
    # but constant within these groups (every row of a (doc_a, doc_b)
    # group carries the same _na/_nb), so the result is deterministic
    # and bit-identical to the join form.
    sh = shingles(df, id_col, text_col, n, with_count=True)
    a = sh.select(
        F.col(id_col).alias("doc_a"), "shingle", F.col("_n_sh").alias("_na")
    )
    b = sh.select(
        F.col(id_col).alias("doc_b"), "shingle", F.col("_n_sh").alias("_nb")
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("_na").alias("n_a"),
            F.first("_nb").alias("n_b"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def jaccard_verify_pairs(
    df: DataFrame,
    cands: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate
    pairs: (doc_a, doc_b, jaccard) for candidates with J ≥ threshold.

    This is the verify stage of every blocking pipeline (LSH, SimHash,
    sorted-neighborhood): `cands` must have doc_a/doc_b columns (any
    orientation — no a < b assumption, so cross-corpus candidates work
    unchanged). Identical result set to
    ``cands ∩ ngram_jaccard_pairs(df, threshold)`` — same distinct-
    shingle counts, same double-division formula — but the cost is
    O(|cands| · |shingles/doc|) array intersections instead of the
    inverted-index self-join's Σ_shingle df² pair explosion, which is
    the difference between "verify 250k candidates" and "enumerate
    25M shared-shingle pairs" on a densified corpus (q5f 10× profile,
    BENCH.md round 9). At 100 TB the all-pairs arm is only feasible as
    an oracle; this is the production verify path.

    Per-doc shingle SETS stay as arrays (array_distinct — no
    explode), joined to each side of the candidate list;
    `array_intersect` is JVM codegen. The denominator is
    null-guarded: 0/0 would be NaN, and NaN compares GREATER than any
    threshold in Spark SQL — a both-empty pair must drop out, not
    sail through.
    """
    # ONE join per side carrying (set, size) together — round 12. The
    # r11 shape ran the size gate as two separate integer-only joins
    # before the array joins (4 joins, and the shingle_sets Python
    # pass executed 4×); measured against every live caller that was
    # the wrong trade: LSH candidates are bucket-collision-bounded
    # (q56 at sf0.1: 256 pairs, 100% size-compatible) and the one
    # over-generating caller (q57's 5.1M SimHash collisions) now gates
    # at candidate GENERATION (simhash_candidates size_prefilter —
    # guide §2.3 says decide with small rows at the earliest point,
    # which is inside the band join, not here). Fusing halves the
    # Python passes and the join count with bit-identical output
    # (pinned in tests): the size gate below is the same lossless
    # J ≤ min/max bound, now evaluated with the arrays already in the
    # row. A future caller with a heavily over-generating candidate
    # stage should gate at generation like q57 does.
    sets = shingle_sets(df, id_col, text_col, n).withColumn(
        "_n_sh", F.size("_sh_set")
    )
    sa = sets.select(
        F.col(id_col).alias("doc_a"),
        F.col("_sh_set").alias("_sa"),
        F.col("_n_sh").alias("_na"),
    )
    sb = sets.select(
        F.col(id_col).alias("doc_b"),
        F.col("_sh_set").alias("_sb"),
        F.col("_n_sh").alias("_nb"),
    )
    common = F.size(F.array_intersect(F.col("_sa"), F.col("_sb")))
    denom = F.col("_na") + F.col("_nb") - common
    jac = common.cast("double") / F.nullif(denom, F.lit(0))
    return (
        cands.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            F.least("_na", "_nb").cast("double")
            >= F.lit(threshold) * F.greatest("_na", "_nb").cast("double")
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """MinHash signature per document: sig[p] = min over shingles of
    xxhash64(shingle, seed=p). Expression-generated (one JVM hash per
    permutation), aggregated with min() — a single groupBy, no Python.
    """
    sh = shingles(df, id_col, text_col, n)
    mins = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(p))).alias(f"h{p}")
        for p in range(num_perm)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        F.col(id_col), F.array(*[F.col(f"h{p}") for p in range(num_perm)]).alias("signature")
    )


def minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Banded MinHash rows per document: (id, band, band_hash) — one
    row per (doc, band), band_hash = xxhash64 over the band's r
    signature slots. This is the unit the sharded deployment shape
    materializes (partitioned by shard) so each shard-pair run reads
    exactly two shards' band rows and never recomputes signatures."""
    assert num_perm % bands == 0
    r = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm)
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.element_at("signature", b * r + i + 1) for i in range(r)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def lsh_pairs_from_band_rows(
    rows_a: DataFrame,
    rows_b: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate pairs (doc_a < doc_b, n_bands) from banded rows.

    One-argument form is the classic self-join bucket match. Two-
    argument form joins two DISJOINT banded-row sets (a shard-pair
    run): orientation is normalized with least/greatest so the output
    is identical to the self-join's doc_a < doc_b convention — ids
    must therefore be orderable (they are: doc ids)."""
    a = rows_a.select(F.col(id_col).alias("__ia"), "band", "band_hash")
    if rows_b is None:
        b = rows_a.select(F.col(id_col).alias("__ib"), "band", "band_hash")
        matched = a.join(b, ["band", "band_hash"]).filter(
            F.col("__ia") < F.col("__ib")
        )
    else:
        b = rows_b.select(F.col(id_col).alias("__ib"), "band", "band_hash")
        matched = a.join(b, ["band", "band_hash"])
    return (
        matched.select(
            F.least("__ia", "__ib").alias("doc_a"),
            F.greatest("__ia", "__ib").alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """L2: LSH banding over MinHash signatures → candidate near-dup
    pairs (doc_a < doc_b, with the count of agreeing bands).

    rows-per-band r = num_perm/bands; collision prob ≈ 1-(1-s^r)^bands
    for Jaccard s. Banding is an equality shuffle on (band, hash) —
    no pairwise comparison outside a bucket.
    """
    band_rows = minhash_band_rows(df, id_col, text_col, n, num_perm, bands)
    return lsh_pairs_from_band_rows(band_rows, None, id_col)


def lsh_shard_runs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    n_shards: int = 4,
    shard_expr=None,
) -> list[tuple[int, int, DataFrame]]:
    """The sharded deployment shape of minhash_lsh_pairs: partition the
    corpus into `n_shards` disjoint shards and return the K·(K+1)/2
    shard-pair candidate runs [(i, j, pairs_df)] — K within-shard
    self-joins plus K·(K−1)/2 cross-shard joins.

    Losslessness is structural: a pair (a, b) collides on a (band,
    band_hash) bucket — a property of the two documents alone — and
    lands in EXACTLY the run (shard(a), shard(b)); no other run can
    produce it (the filters are disjoint) and that run sees all of the
    pair's band matches (each doc's band rows travel whole). So the
    union of the runs equals the unsharded candidate set EXACTLY,
    n_bands included, with no re-aggregation needed — proven by the
    q9y driver oracle at sf0.01 and property-tested over random
    corpora/shard counts (tests/test_operators.py).

    Why this is the 100 TB shape: the monolithic band join's shuffle
    carries the whole corpus's band rows AND the whole candidate-pair
    output in one job — on a densified corpus the pair output alone is
    the blow-up (the q5f 100×-replica disk ceiling, BENCH.md round
    10). Run shard-pair jobs SEQUENTIALLY (or on separate clusters)
    and each job's shuffle is bounded by two shards' band rows plus
    ~2/K² of the pair output; peak disk drops ~K²/2 while total work
    stays the same. Production materializes minhash_band_rows once,
    partitioned by shard (one corpus scan), and each run reads two
    shard partitions — scripts/sharded_dedup_probe.py runs exactly
    that shape at the 100× replica rung.

    `shard_expr` defaults to pmod(xxhash64(id), K) — uniform even for
    clustered id spaces; pass e.g. `F.col(id) % K` when the shard
    decision must be replayable in plain SQL (the q9y oracle).

    The banded rows are persisted MEMORY_AND_DISK and shared by the
    K(K+1)/2 run branches: Spark unions share no common
    subexpressions, so without it every branch re-plans the
    shingle→signature subtree. The InMemoryRelation keeps the child
    plan's statistics, so join strategies are unchanged (an eager
    localCheckpoint was measured to LOSE at sf0.1, 7.8 s lazy vs
    11.6 s: the LogicalRDD drops size statistics and every band-bucket
    join degrades broadcast→SMJ), while the ~2K subtree executions
    collapse to one (q9y union at sf0.1: 16.6→11.4 s and 12.2→10.9 s
    total on two box states).

    Lifetime caveat: Dataset.persist registers in the session's
    CacheManager, which holds the entry until unpersist()/clearCache()
    — this operator has no lazy unpersist hook, so each call pins its
    band rows (a few MB at sf0.1) for the session. Bounded and derived
    (NOT the round-1 q10 class, which cached unbounded base scans);
    moot in a one-shot process. Long-lived sessions calling this
    repeatedly should unpersist or clear the cache themselves.

    The real cure at scale is still not an in-plan boundary at all:
    the deployment (scripts/sharded_dedup_probe.py) writes
    minhash_band_rows to parquet ONCE, partitioned by shard, and each
    shard-pair job reads two partitions — this union form exists as
    the losslessness PROOF at fixture scale.
    """
    if shard_expr is None:
        shard_expr = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    band_rows = minhash_band_rows(df, id_col, text_col, n, num_perm, bands)
    band_rows = band_rows.withColumn("__shard", shard_expr.cast("int"))
    band_rows = band_rows.persist(StorageLevel.MEMORY_AND_DISK)
    runs = []
    for i in range(n_shards):
        rows_i = band_rows.filter(F.col("__shard") == i).drop("__shard")
        runs.append((i, i, lsh_pairs_from_band_rows(rows_i, None, id_col)))
        for j in range(i + 1, n_shards):
            rows_j = band_rows.filter(F.col("__shard") == j).drop("__shard")
            runs.append(
                (i, j, lsh_pairs_from_band_rows(rows_i, rows_j, id_col))
            )
    return runs


def minhash_lsh_pairs_sharded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    n_shards: int = 4,
    shard_expr=None,
) -> DataFrame:
    """Union of the lsh_shard_runs — exactly equal (rows AND n_bands)
    to minhash_lsh_pairs; the in-plan form used by the q9y losslessness
    oracle. Deployment runs the shard-pair jobs sequentially instead
    (see lsh_shard_runs); this union exists to make the equality a
    checkable single plan."""
    runs = lsh_shard_runs(
        df, id_col, text_col, n, num_perm, bands, n_shards, shard_expr
    )
    out = runs[0][2]
    for _, _, pairs in runs[1:]:
        out = out.unionByName(pairs)
    return out


def minhash_lsh_cross_pairs(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> DataFrame:
    """L12 scale path: cross-corpus LSH — candidate (train, holdout)
    near-dup pairs without ever joining train against itself.

    Decontamination at 100 TB: the training corpus is huge, the
    benchmark/holdout side is small. Banding both sides and equi-joining
    on (band, band_hash) touches only bucket collisions, and the join
    is broadcast-able whenever the holdout's band table is small —
    the training side never self-joins and never shuffles more than
    its own band rows.
    """
    assert num_perm % bands == 0
    r = num_perm // bands

    def band_rows(df: DataFrame, out: str) -> DataFrame:
        sig = minhash_signatures(df, id_col, text_col, n, num_perm)
        return sig.select(
            F.col(id_col).alias(out),
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            *[F.element_at("signature", b * r + i + 1) for i in range(r)]
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band", "band_hash"),
        )

    a = band_rows(train, "train_id")
    b = band_rows(holdout, "holdout_id")
    return (
        a.join(b, ["band", "band_hash"])
        .groupBy("train_id", "holdout_id")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int = 8
) -> DataFrame:
    """Sub-document exact dedup: split each document into fixed
    non-overlapping token spans, keep one canonical copy per distinct
    span globally (the occurrence with the lowest (id, span_idx)).

    Output: (id, n_spans, n_canonical) — how many of the document's
    spans survive span-level dedup. The practical middle ground
    between document-level exact dedup (L1) and suffix-array exact
    substring dedup: boilerplate repeated across documents is dropped
    at span granularity with one hash shuffle, no pairwise work.

    Scale: the shuffle key is the span digest (balanced unless one
    span dominates → salt); the keep-first rule is a min over the
    occurrence key, not a window sort, so map-side partial
    aggregation applies.
    """
    toks = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda s: F.concat_ws(" ", F.slice(toks, s * span_tokens + 1, span_tokens)),
    )
    occ = df.select(
        F.col(id_col), F.posexplode(spans).alias("span_idx", "span")
    ).withColumn("span_digest", F.md5(F.col("span")))
    # canonical occurrence per digest = min combined key (id, span_idx
    # packed into one long so the min is a plain aggregate, not a
    # window sort; span_idx is bounded by doc length / span_tokens)
    occ = occ.withColumn(
        "occ_key", F.col(id_col).cast("long") * 1_000_000 + F.col("span_idx")
    )
    keeper = occ.groupBy("span_digest").agg(F.min("occ_key").alias("keep_key"))
    return (
        occ.join(keeper, "span_digest")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum((F.col("occ_key") == F.col("keep_key")).cast("long")).alias(
                "n_canonical"
            ),
        )
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 10,
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster
    assignments: (node, cluster_id) with cluster_id = the minimum doc
    id reachable from the node, plus is_canonical (the keep/drop
    decision — keep the cluster's minimum id, drop the rest). Only
    nodes that appear in some pair are returned; everything else is
    trivially its own cluster.

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels (one
    shuffle join + one aggregation per round), stopping when the label
    sum stops decreasing (the sum is strictly monotone until the fix
    point, so this is an exact convergence test, not a heuristic).
    Rounds needed = graph diameter; near-dup clusters are shallow
    (pairs/triangles), so this converges in 2-3 rounds. At 100 TB you
    would switch to the two-phase large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    which converges in O(log n) rounds independent of diameter, and
    checkpoint between rounds to truncate lineage — the per-round
    dataflow (join on edge, min per node) is identical.
    """
    from fcs_etl_reactor_spark.operators.graphs import symmetrize

    # one-pass symmetrization (see symmetrize): the union-of-swapped
    # form executed the upstream pair pipeline (LSH banding + exact
    # verify for q5b/q6e) twice before the checkpoint below could help
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = symmetrize(e, "a", "b", "a", "b").distinct()
    # materialize the edge set ONCE: it is joined every round, and
    # without this each round's join + convergence sum re-executes the
    # whole upstream pair pipeline (LSH banding + exact verify for
    # q5b/q6e — measured ~2 full recomputes per round). LAZY + count()
    # as the materializing action (round-12 fold): the one count job
    # pins the blocks AND detects the empty graph, which skips the
    # label rounds outright — above-threshold pair sets are often
    # empty (q6t at sf0.1), and each round costs two shuffles of fixed
    # overhead even on zero rows.
    edges = edges.localCheckpoint(eager=False)
    if edges.count() == 0:
        return edges.select(
            F.col("a").alias("node"),
            F.col("a").alias("cluster_id"),
            F.lit(True).alias("is_canonical"),
        )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr_min, labels.node == nbr_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # truncate lineage per round (same hygiene as the star path):
        # without it, round k's plan nests k joins deep and analysis
        # time grows superlinearly with the diameter. LAZY checkpoint:
        # the convergence aggregate below is the materializing action,
        # so one job per round computes the new labels, persists them,
        # AND returns the label sum — instead of an eager checkpoint
        # job followed by a separate convergence-collect job (round-12
        # fold; the next round's two label reads hit the persisted
        # blocks).
        labels = labels.localCheckpoint(eager=False)
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("node"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def _large_star(pairs: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood. Input/output
    are canonical (a < b) distinct pairs."""
    und = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = und.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        und.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        # m ≤ u < v, so (m, v) is already canonically ordered
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller neighbors
    (and itself) to the minimum of those neighbors."""
    # canonical pairs (a < b) are already oriented larger←smaller:
    # u = b (center), Γ⁻(u) = the a's
    mins = pairs.groupBy("b").agg(F.min("a").alias("m"))
    linked = pairs.join(mins, "b")
    return (
        # smaller neighbors → m, plus the center itself → m
        linked.select(F.col("m").alias("a"), F.col("a").alias("b"))
        .union(linked.select(F.col("m").alias("a"), F.col("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def dedup_clusters_star(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond") — same output contract as ``dedup_clusters``:
    (node, cluster_id, is_canonical) for every node appearing in some
    pair, cluster_id = component minimum.

    This is the web-scale path: min-label propagation needs
    diameter-many rounds (a 1M-long chain of near-dup pages = 1M
    shuffles), while star contraction converges in O(log n) rounds
    regardless of diameter — each round is two groupBy-min shuffles
    plus a distinct, all map-side combinable. ``localCheckpoint``
    truncates lineage between rounds so the plan doesn't grow with the
    iteration count (the standard iterative-algorithm hygiene Spark
    needs; on a cluster use reliable checkpointing to survive executor
    loss).

    Convergence test: the canonical edge set is compared by
    (count, xxhash64-xor) signature — one tiny aggregate per round
    instead of a full anti-join (xor is order-independent and can't
    overflow under ANSI, and the edge set is distinct so nothing
    cancels); a 64-bit collision between consecutive DIFFERENT edge
    sets is ~2^-64, and ``max_iter`` bounds the loop regardless.
    """
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # materialize the initial edge set: round 0's large-star reads it
    # twice (both union branches), so without this the upstream pair
    # pipeline (q6t's vectorized scorer, q5f's LSH + verify) executes
    # twice before the per-round checkpoints take over. LAZY + count()
    # as the materializing action (round-12 fold): one job pins the
    # blocks AND detects the empty graph, which skips the contraction
    # rounds outright (q6t at sf0.1 finds no above-threshold pairs yet
    # paid two rounds of fixed overhead).
    e = e.localCheckpoint(eager=False)
    if e.count() == 0:
        return e.select(
            F.col("b").alias("node"),
            F.col("a").alias("cluster_id"),
            F.lit(True).alias("is_canonical"),
        )
    prev_sig = None
    for _ in range(max_iter):
        e = _small_star(_large_star(e))
        # LAZY checkpoint + the signature aggregate as the
        # materializing action: one job per round computes the
        # contracted edge set, persists it, and returns the (count,
        # xor) signature — the eager-checkpoint-then-agg form paid two
        # jobs per round (round-12 fold). The next round's two
        # union-branch reads hit the persisted blocks.
        e = e.localCheckpoint(eager=False)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(a, b))").alias("h"),
        ).first()
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: e is a star forest — every edge is (component_min, node)
    roots = e.select(F.col("a").alias("node")).distinct()
    return (
        e.select(F.col("b").alias("node"), F.col("a").alias("cluster_id"))
        .union(roots.select("node", F.col("node").alias("cluster_id")))
        .distinct()
        .select(
            "node",
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint: sign of the per-bit sum of token hashes.

    For each bit position: Σ_tokens (bit set ? +1 : −1); fingerprint
    bit = sum > 0. Implemented as explode → per-bit conditional sums →
    bit-OR assembly; all JVM expressions.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # Project the token hash ONCE before the 64-sum aggregate instead
    # of embedding xxhash64(tok) in each of the 64 update expressions:
    # steady-state throughput is the same (codegen CSE covers it), but
    # the compiled aggregate method shrinks ~64×, cutting whole-stage
    # codegen COMPILE time from ~5 s to ~1 s on a cold plan — the cost
    # every fresh session (and the driver's one-shot run) pays.
    toks = toks.select(F.col(id_col), F.xxhash64("tok").alias("_h"))
    h = F.col("_h")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = toks.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    band_bits: int = 16,
    size_prefilter_n: int | None = None,
    size_prefilter_t: float | None = None,
) -> DataFrame:
    """Near-dup candidates: docs whose simhash agrees on ≥1 of the
    64/band_bits bands (Hamming-distance pigeonhole).

    ``size_prefilter_n``/``size_prefilter_t`` (round-12, opt-in): when
    the candidates feed ``jaccard_verify_pairs`` with the same n-gram
    n and threshold t, attach each doc's distinct-shingle count to its
    fingerprint BEFORE banding and apply the lossless size gate
    ``least(na, nb) ≥ t·greatest(na, nb)`` INSIDE the band self-join —
    J(A,B) ≤ min/max of the set sizes, so a pair failing the gate can
    never verify, and a pair with a zero-size side never verifies
    either (0 ≥ t·x fails for x > 0; a 0–0 pair's jaccard is NULL and
    drops at the verify filter), so dropping them here leaves the
    verified output identical. SimHash over-generates heavily when
    8-bit buckets collapse (q57 at sf0.1: 5.1M band-match rows, ~12%
    size-compatible at t=0.9); gating before the pair aggregation
    shrinks the exchange and the verify probe side ~8× instead of
    materializing every collision (guide §2.3: decide with small
    rows). Raw-candidate callers (no verify downstream) must leave the
    prefilter off — it drops candidates that could never verify but
    ARE band collisions."""
    fp = simhash(df, id_col, text_col)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    if size_prefilter_t is not None:
        sizes = shingle_sets(df, id_col, text_col, size_prefilter_n or 3).select(
            F.col(id_col), F.size("_sh_set").alias("_n_sh")
        )
        fp = fp.join(sizes, id_col)
    bands = fp.select(
        F.col(id_col),
        *(["_n_sh"] if size_prefilter_t is not None else []),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_key"),
    )
    if size_prefilter_t is not None:
        a = bands.select(
            F.col(id_col).alias("doc_a"), F.col("_n_sh").alias("_na"),
            "band", "band_key",
        )
        b = bands.select(
            F.col(id_col).alias("doc_b"), F.col("_n_sh").alias("_nb"),
            "band", "band_key",
        )
        return (
            a.join(b, ["band", "band_key"])
            .filter(
                (F.col("doc_a") < F.col("doc_b"))
                & (
                    F.least("_na", "_nb").cast("double")
                    >= F.lit(size_prefilter_t)
                    * F.greatest("_na", "_nb").cast("double")
                )
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )
    a = bands.select(F.col(id_col).alias("doc_a"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """AllPairs/PPJoin-style PREFIX-FILTERED exact Jaccard join.

    Same result set as :func:`ngram_jaccard_pairs` (no false
    negatives — the prefix-filter theorem: under any global token
    order, J(A,B) ≥ t forces the first |A|−⌈t·|A|⌉+1 tokens of A and
    the first |B|−⌈t·|B|⌉+1 of B to intersect), but candidates come
    from joining only the PREFIXES, ordered rarest-token-first so the
    join keys are the most selective shingles. The full-set verify is
    an array_intersect over the two docs' sorted shingle arrays —
    per-candidate work, never a corpus-wide token join. At 100 TB the
    inverted-index join on full sets (q86's shape) pairs every
    document sharing ANY stop-shingle; the prefix variant's candidate
    volume shrinks with the threshold, which is why AllPairs/PPJoin
    is the published scale path for exact set-similarity joins.
    """
    sh = shingles(df, id_col, text_col, n)
    freq = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    wdoc = Window.partitionBy(id_col).orderBy("freq", "shingle")
    sized = (
        sh.select(id_col, "shingle", freq.alias("freq"))
        .select(
            id_col,
            "shingle",
            F.row_number().over(wdoc).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("s"),
        )
    )
    p = F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1
    prefix = sized.filter(F.col("r") <= p).select(id_col, "shingle")
    a = prefix.select(F.col(id_col).alias("doc_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("doc_b"), "shingle")
    cands = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrs = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("arr"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    aa = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("arr").alias("arr_a"),
        F.col("n_sh").alias("n_a"),
    )
    ab = arrs.select(
        F.col(id_col).alias("doc_b"), F.col("arr").alias("arr_b"),
        F.col("n_sh").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = n_common.cast("double") / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cands.join(aa, "doc_a")
        .join(ab, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
