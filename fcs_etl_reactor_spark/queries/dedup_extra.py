"""Oracle-checked envelopes for the approx/engine-specific dedup and
similarity operators (SURVEY.md §2.11 L2, SimHash, P6 sampling, L3).

Round-1 lesson: a registered query without an oracle scores as err
"no_oracle" at the driver. These operators are approximate or
engine-seeded, so none can be replayed verbatim in SQL — instead each
query runs the full operator pipeline and emits a result the oracle
CAN recompute exactly:

- q56/q57: the LSH/SimHash candidate set, exact-verified by n-gram
  Jaccard. The fixtures' near-dup pairs sit at J ≥ 0.97 with the next
  pair below 0.5, and 16-band/4-row MinHash at s≈0.97 misses a pair
  with probability ~1e-18 — so candidates ∩ {J ≥ 0.8} equals the full
  {J ≥ 0.8} set, which DuckDB computes from raw text. The xxhash64
  permutations are seeded expressions: bit-identical on every run.
- q58: seeded stratified sampling, checked by its binomial envelope
  (exact per-stratum totals + a ±6σ bound on the sampled count).
- q59: the float fast-path scorer, checked for top-k agreement
  against the scaled-integer exact scorer (separations in the random
  fixtures dwarf the ~1e-12 float reduction drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.io import load
from fcs_etl_reactor_spark.operators.dedup import (
    dedup_clusters,
    dedup_clusters_star,
    jaccard_verify_pairs,
    minhash_lsh_cross_pairs,
    minhash_lsh_pairs,
    simhash_candidates,
    span_dedup,
)
from fcs_etl_reactor_spark.operators.similarity import (
    cosine_topk_fast,
    cosine_topk_vectorized,
)
from fcs_etl_reactor_spark.queries import query

# DuckDB replica of operators.dedup.shingles (word 3-grams) → exact
# Jaccard for every pair sharing ≥1 shingle. Shared by q56/q57.
_JACCARD_SQL = """
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, w, UNNEST(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1)) AS i
            FROM toks)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 9)
             AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {t}
"""

_NEARDUP_J = 0.8


@query("q56_minhash_lsh", oracle=_JACCARD_SQL.format(t=_NEARDUP_J))
def q56_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: shingle → 64-perm MinHash → 16-band LSH candidates,
    exact-verified by n-gram Jaccard ≥ 0.8 (the near-dup pipeline's
    verify stage, run on LSH candidates only — never all pairs)."""
    d = load(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(d, "doc_id", "text", n=3, num_perm=64, bands=16)
    verified = jaccard_verify_pairs(d, cands, "doc_id", "text", n=3, threshold=_NEARDUP_J)
    return verified.select("doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard"))


@query("q57_simhash_candidates", oracle=_JACCARD_SQL.format(t=0.9))
def q57_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit fingerprints banded into 8×8-bit keys; the
    high-similarity pairs (J ≥ 0.9 → a few differing tokens → measured
    Hamming distance ≤ 5 on the fixtures → pigeonhole over 8 bands
    guarantees a shared band up to distance 7) must all surface as
    candidates."""
    d = load(spark, sf_dir, "documents")
    # size prefilter INSIDE the band self-join (same n/t as the verify
    # stage → lossless for the verified output; see simhash_candidates)
    cands = simhash_candidates(
        d, "doc_id", "text", band_bits=8, size_prefilter_n=3,
        size_prefilter_t=0.9,
    )
    verified = jaccard_verify_pairs(d, cands, "doc_id", "text", n=3, threshold=0.9)
    return verified.select("doc_a", "doc_b", F.round("jaccard", 9).alias("jaccard"))


@query(
    "q58_sampling",
    oracle="""
    SELECT event_type, COUNT(*) AS n_total, TRUE AS in_bounds
    FROM events GROUP BY event_type
    """,
)
def q58_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: seeded stratified sampleBy at 20% per stratum. The draw is
    engine-specific (per-partition RNG), so the oracle checks the
    binomial envelope: |sampled − 0.2·n| ≤ 6σ + 1, which holds for any
    partition layout with probability 1 − ~2e-9 per stratum."""
    e = load(spark, sf_dir, "events")
    frac = {t: 0.2 for t in ["click", "view", "purchase", "signup", "error"]}
    sampled = (
        e.sampleBy("event_type", frac, seed=42)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    totals = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_total"))
    sigma = F.sqrt(F.col("n_total") * 0.2 * 0.8)
    return (
        totals.join(sampled, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            (
                F.abs(F.coalesce("n_sampled", F.lit(0)) - 0.2 * F.col("n_total"))
                <= 6 * sigma + 1
            ).alias("in_bounds"),
        )
    )


@query(
    "q5b_dedup_clusters",
    # the oracle closes the same ≥0.8-Jaccard pair graph with a
    # recursive CTE: cluster_id = min reachable doc id
    oracle=f"""
    WITH RECURSIVE base AS (
      {_JACCARD_SQL.format(t=_NEARDUP_J)}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM base
      UNION
      SELECT doc_b, doc_a FROM base
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS node,
           LEAST(a, MIN(b)) AS cluster_id,
           a <= MIN(b) AS is_canonical
    FROM reach GROUP BY a
    """,
)
def q5b_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidates → exact Jaccard verify →
    connected components → canonical-per-cluster keep/drop decision
    (the step that turns pairwise similarity into an actual dedup)."""
    d = load(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(d, "doc_id", "text", n=3, num_perm=64, bands=16)
    verified = jaccard_verify_pairs(d, cands, "doc_id", "text", n=3, threshold=_NEARDUP_J)
    return dedup_clusters(verified)


@query(
    "q5f_cc_star",
    # identical ANSI closure as q5b: connected components are
    # algorithm-independent, so the same recursive-CTE oracle checks
    # the star-contraction implementation
    oracle=f"""
    WITH RECURSIVE base AS (
      {_JACCARD_SQL.format(t=_NEARDUP_J)}
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM base
      UNION
      SELECT doc_b, doc_a FROM base
    ), reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS node,
           LEAST(a, MIN(b)) AS cluster_id,
           a <= MIN(b) AS is_canonical
    FROM reach GROUP BY a
    """,
)
def q5f_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same near-dup clustering as q5b, but closed by the
    web-scale algorithm: alternating large-star/small-star contraction
    (O(log n) rounds independent of component diameter) instead of
    min-label propagation (diameter-many rounds). Both produce the
    exact same (node, cluster_id, is_canonical) assignment, checked by
    the identical recursive-CTE oracle."""
    d = load(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs(d, "doc_id", "text", n=3, num_perm=64, bands=16)
    verified = jaccard_verify_pairs(d, cands, "doc_id", "text", n=3, threshold=_NEARDUP_J)
    return dedup_clusters_star(verified)


@query(
    "q9y_sharded_lsh_dedup",
    # the full exact-Jaccard set (the same ground truth as q56) with
    # each pair labeled by the shard-pair run that must discover it —
    # a lost cross-shard pair is a MISSING row, i.e. a hash mismatch
    oracle=f"""
    WITH base AS (
      {_JACCARD_SQL.format(t=_NEARDUP_J)}
    )
    SELECT doc_a, doc_b, jaccard,
           CASE WHEN doc_a % 4 = doc_b % 4 THEN 'within' ELSE 'cross' END
             AS run_kind
    FROM base
    """,
)
def q9y_sharded_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-union losslessness of the sharded LSH deployment shape
    (round-11 mint; the q5f 100×-replica answer made executable):
    partition the corpus into 4 shards by doc_id % 4, generate
    candidates as the 10 disjoint shard-pair runs (4 within-shard
    self-joins + 6 cross-shard joins — lsh_shard_runs), union, verify
    with exact n-gram Jaccard, and emit every surviving pair labeled
    with the run kind that produced it. The oracle recomputes the full
    ≥0.8-Jaccard pair set from raw text (unsharded ground truth) and
    replays the shard decision as doc_a % 4 — at sf0.01 the 25 true
    pairs split 17 cross / 8 within, so both run kinds are load-
    bearing: losing cross-shard recovery drops 17 rows and the value
    hash catches it. The shard function is doc_id % 4 here so DuckDB
    can replay it; production uses pmod(xxhash64(id), K) (the operator
    default). Scale: each shard-pair job's shuffle is bounded by two
    shards' band rows + ~2/K² of the pair output — the shape that
    completes the 100× replica rung within the disk envelope where the
    monolithic join could not (scripts/sharded_dedup_probe.py,
    BENCH.md round 11)."""
    from fcs_etl_reactor_spark.operators.dedup import minhash_lsh_pairs_sharded

    d = load(spark, sf_dir, "documents")
    cands = minhash_lsh_pairs_sharded(
        d,
        "doc_id",
        "text",
        n=3,
        num_perm=64,
        bands=16,
        n_shards=4,
        shard_expr=F.col("doc_id") % 4,
    )
    verified = jaccard_verify_pairs(
        d, cands, "doc_id", "text", n=3, threshold=_NEARDUP_J
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 9).alias("jaccard"),
        F.when(F.col("doc_a") % 4 == F.col("doc_b") % 4, F.lit("within"))
        .otherwise(F.lit("cross"))
        .alias("run_kind"),
    )


@query(
    "q5c_span_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ), occ AS (
      SELECT doc_id, CAST(s AS INT) AS span_idx,
             MD5(ARRAY_TO_STRING(w[s*8+1 : s*8+8], ' ')) AS span_digest,
             doc_id * 1000000 + s AS occ_key
      FROM (SELECT doc_id, w,
                   UNNEST(RANGE(0, CAST(CEIL(LEN(w) / 8.0) AS BIGINT))) AS s
            FROM toks)
    ), keeper AS (
      SELECT span_digest, MIN(occ_key) AS keep_key FROM occ GROUP BY span_digest
    )
    SELECT o.doc_id, COUNT(*) AS n_spans,
           CAST(SUM(CASE WHEN o.occ_key = k.keep_key THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical
    FROM occ o JOIN keeper k USING (span_digest)
    GROUP BY o.doc_id
    """,
)
def q5c_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup: 8-token non-overlapping spans, one
    canonical copy per distinct span globally (lowest (doc_id,
    span_idx) wins). Sub-document granularity catches boilerplate that
    document-level L1 misses; one digest-keyed shuffle, no pairwise
    work, min-aggregate keeper (map-side combinable, no window sort).
    """
    d = load(spark, sf_dir, "documents")
    return span_dedup(d, "doc_id", "text", span_tokens=8)


@query(
    "q6h_lsh_decontamination",
    # exact cross-split Jaccard from raw text: every train–holdout
    # pair at J ≥ 0.8 (holdout = doc_id ≡ 0 mod 5) must surface
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, w, UNNEST(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1)) AS i
            FROM toks)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS train_id, b.doc_id AS holdout_id, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
      GROUP BY 1, 2
    )
    SELECT train_id, holdout_id,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 9)
             AS jaccard
    FROM pairs
    JOIN sizes sa ON train_id = sa.doc_id
    JOIN sizes sb ON holdout_id = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    """,
)
def q6h_lsh_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L12 scale path: near-dup decontamination via cross-corpus LSH
    (train = doc_id % 5 != 0, holdout = the rest). Unlike q6d's exact
    8-gram broadcast (verbatim leakage), this catches NEAR-duplicate
    leakage; the train side never self-joins. Candidates are
    exact-verified by Jaccard ≥ 0.8 — same miss-probability argument
    as q56 (banding at s ≥ 0.8 misses with p ≈ 1e-18 on these
    fixtures), so candidates ∩ {J ≥ 0.8} equals the full set."""
    d = load(spark, sf_dir, "documents")
    holdout = d.filter(F.col("doc_id") % 5 == 0)
    train = d.filter(F.col("doc_id") % 5 != 0)
    cands = minhash_lsh_cross_pairs(
        train, holdout, "doc_id", "text", n=3, num_perm=64, bands=16
    )
    # the verify operator takes pairs in ANY orientation, so the
    # (train, holdout) candidates go straight in — no union dance
    verified = jaccard_verify_pairs(
        d,
        cands.select(
            F.col("train_id").alias("doc_a"),
            F.col("holdout_id").alias("doc_b"),
        ),
        "doc_id",
        "text",
        n=3,
        threshold=_NEARDUP_J,
    )
    return verified.select(
        F.col("doc_a").alias("train_id"),
        F.col("doc_b").alias("holdout_id"),
        F.round("jaccard", 9).alias("jaccard"),
    )


@query(
    "q59_cosine_topk_fast",
    oracle="""
    SELECT vec_id AS query_id, TRUE AS topk_matches_exact
    FROM embeddings WHERE label = 0
    """,
)
def q59_cosine_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 bench path: plain-double array-fold cosine. Float reduction
    order differs from SQL engines, so the check is rank-level: the
    fast top-5 id set must equal the scaled-integer exact top-5 (the
    fixtures' cosine gaps at rank 5/6 are ≫ the ~1e-12 float drift)."""
    e = load(spark, sf_dir, "embeddings")
    q, c = e.filter(F.col("label") == 0), e.filter(F.col("label") == 1)
    fast = cosine_topk_fast(q, c, k=5).groupBy("query_id").agg(
        F.sort_array(F.collect_list("match_id")).alias("_fast_ids")
    )
    exact = cosine_topk_vectorized(q, c, id_col="vec_id", vec_col="embedding", k=5)
    exact_ids = exact.groupBy("query_id").agg(
        F.sort_array(F.collect_list("match_id")).alias("_exact_ids")
    )
    return fast.join(exact_ids, "query_id").select(
        "query_id",
        (F.col("_fast_ids") == F.col("_exact_ids")).alias("topk_matches_exact"),
    )


# --------------------------------------------------------------------------
# q5q — sorted-neighborhood dedup (SNM): the third classic blocking
# strategy beside hash blocking (q55) and LSH banding (q56). Sort the
# corpus by a normalized key, then compare only records within a
# fixed window w of each other in the global sort order — candidates
# drop from O(n^2) to O(n*w). The global rank comes from
# operators/ordering.global_rank (two-pass range-partitioned
# zipWithIndex — NO single-reducer window), and the window join is an
# equi-join on rank+offset, so the whole plan is shuffle-bounded by
# the rank's range partitioning at any corpus size.
# Verification inside the window is Levenshtein on the sort key —
# integer edit distance, bit-identical across engines; the match
# decision (lev <= 10) therefore never flips.
# --------------------------------------------------------------------------

_SNM_W = 3


@query(
    "q5q_sorted_neighborhood",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id,
             LOWER(REPLACE(SUBSTR(text, 1, 40), ' ', '')) AS k,
             ROW_NUMBER() OVER (
               ORDER BY LOWER(REPLACE(SUBSTR(text, 1, 40), ' ', '')), doc_id
             ) AS r
      FROM documents
    ),
    cand AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             LEVENSHTEIN(a.k, b.k) AS lev
      FROM ranked a JOIN ranked b ON b.r BETWEEN a.r + 1 AND a.r + {_SNM_W}
    )
    SELECT COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN lev <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matches,
           CAST(SUM(lev) AS BIGINT) AS sum_lev
    FROM cand
    """,
)
def q5q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.ordering import global_rank

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.translate(F.substring("text", 1, 40), " ", "")).alias("k"),
    )
    ranked = global_rank(d, ["k", "doc_id"], rank_col="r")
    left = ranked.select(
        F.col("doc_id").alias("d1"), F.col("k").alias("k1"), F.col("r").alias("r1")
    ).withColumn("off", F.explode(F.array(*[F.lit(i) for i in range(1, _SNM_W + 1)])))
    right = ranked.select(
        F.col("doc_id").alias("d2"), F.col("k").alias("k2"), F.col("r").alias("r2")
    )
    cand = left.join(right, F.col("r1") + F.col("off") == F.col("r2")).withColumn(
        "lev", F.levenshtein("k1", "k2")
    )
    return cand.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("lev") <= 10, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matches"),
        F.sum("lev").cast("bigint").alias("sum_lev"),
    )


# --------------------------------------------------------------------------
# q6v — containment near-dup (asymmetric Jaccard): C = |A∩B| / min
# (|A|, |B|) catches SUBSET duplication — a document quoted or
# embedded inside a larger one — which symmetric Jaccard dilutes
# below any usable threshold. Same inverted-index candidate topology
# as the Jaccard family (docs sharing no shingle are never paired);
# the containment ratio divides exact integers, so the pair set and
# values are engine-identical. Output is the bounded top-20 by
# (containment DESC, pair id).
# --------------------------------------------------------------------------

_CONTAIN_T = 0.6


@query(
    "q6v_containment_neardup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, w, UNNEST(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1)) AS i
            FROM toks)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS n_common,
             CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, n_common, containment
    FROM scored WHERE containment >= {_CONTAIN_T}
    ORDER BY containment DESC, doc_a, doc_b LIMIT 20
    """,
)
def q6v_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fcs_etl_reactor_spark.operators.dedup import shingles

    d = load(spark, sf_dir, "documents")
    # denominator counts ride WITH the shingle rows (round 12, same
    # restructure as ngram_jaccard_pairs): drops the sizes aggregate +
    # two pair-table joins and the third tokenization Python pass;
    # first() is constant within each pair group, so values and the
    # bounded top-20 are identical
    sh = shingles(d, "doc_id", "text", 3, with_count=True)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle",
                  F.col("_n_sh").alias("_na"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle",
                  F.col("_n_sh").alias("_nb"))
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
    containment = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= _CONTAIN_T)
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q6z — dedup threshold sensitivity curve: how many near-dup pairs
# (and affected docs) each candidate Jaccard threshold would flag —
# the curve a curation team reads BEFORE fixing the dedup cutoff,
# computed in ONE pass over the exact pair table (bucket the
# similarity, then a 10-row cumulative). Jaccard ratios divide exact
# integers; bucketing floors the identical double on both engines;
# the cumulative window runs over ≤10 rows.
# --------------------------------------------------------------------------


@query(
    "q6z_threshold_curve",
    oracle="""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, w, UNNEST(RANGE(1, GREATEST(LEN(w) - 2, 0) + 1)) AS i
            FROM toks)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    j AS (
      SELECT CAST(FLOOR(CAST(n_common AS DOUBLE)
                        / (sa.n_sh + sb.n_sh - n_common) * 10.0) AS INTEGER)
               AS bucket
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.2
    ),
    hist AS (
      SELECT LEAST(bucket, 9) AS bucket, COUNT(*) AS n_pairs
      FROM j GROUP BY 1
    )
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(bucket / 10.0 AS DOUBLE) AS threshold,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
             AS pairs_at_or_above
    FROM hist
    """,
)
def q6z_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from fcs_etl_reactor_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    hist = pairs.groupBy(
        F.least(
            F.floor(F.col("jaccard") * 10.0).cast("int"), F.lit(9)
        ).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    # ≤10-row cumulative — bounded window, no scale concern
    w = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return hist.select(
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("bucket") / F.lit(10.0)).cast("double").alias("threshold"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.sum("n_pairs").over(w).cast("bigint").alias("pairs_at_or_above"),
    )
