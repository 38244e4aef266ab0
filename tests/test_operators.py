"""Unit tests for custom operators on tiny literal frames
(SURVEY.md §5.2-3): hand-computed goldens, no oracle dependency."""

import pytest
from pyspark.sql import functions as F

from fcs_etl_reactor_spark.operators.asof import asof_join
from fcs_etl_reactor_spark.operators.compensation import compensate
from fcs_etl_reactor_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingles,
    simhash,
    simhash_candidates,
)
from fcs_etl_reactor_spark.operators.similarity import (
    cosine_topk_exact,
    cosine_topk_fast,
    lsh_topk,
)


def _ts(s):
    return f"TIMESTAMP '{s}'"


class TestAsofJoin:
    def test_backward_inclusive(self, spark):
        left = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 12:00:00", "b"),
             (2, "2024-01-01 11:00:00", "c")],
            "k INT, t STRING, tag STRING",
        ).withColumn("t", F.col("t").cast("timestamp"))
        right = spark.createDataFrame(
            [(1, "2024-01-01 09:00:00", 10.0), (1, "2024-01-01 11:30:00", 20.0),
             (2, "2024-01-01 12:00:00", 30.0)],
            "k INT, t STRING, v DOUBLE",
        ).withColumn("t", F.col("t").cast("timestamp"))
        out = asof_join(left, right, on="k", left_ts="t", right_ts="t",
                        right_values=["v"], aliases=["last_v"])
        got = {r["tag"]: r["last_v"] for r in out.collect()}
        # a: only 09:00 purchase before 10:00 -> 10.0
        # b: 11:30 before 12:00 -> 20.0
        # c: right event at 12:00 is AFTER 11:00 -> null
        assert got == {"a": 10.0, "b": 20.0, "c": None}

    def test_equal_ts_is_inclusive(self, spark):
        left = spark.createDataFrame([(1, "2024-01-01 10:00:00")], "k INT, t STRING")
        left = left.withColumn("t", F.col("t").cast("timestamp"))
        right = spark.createDataFrame([(1, "2024-01-01 10:00:00", 5.0)], "k INT, t STRING, v DOUBLE")
        right = right.withColumn("t", F.col("t").cast("timestamp"))
        out = asof_join(left, right, on="k", left_ts="t", right_ts="t",
                        right_values=["v"], aliases=["v"])
        assert out.collect()[0]["v"] == 5.0


class TestCompensation:
    def test_identity_matrix(self, spark):
        df = spark.createDataFrame([(1.0, 2.0)], "c1 DOUBLE, c2 DOUBLE")
        out = compensate(df, ["c1", "c2"], [[1.0, 0.0], [0.0, 1.0]], keep=[])
        row = out.collect()[0]
        assert row["comp_c1"] == 1.0 and row["comp_c2"] == 2.0

    def test_spillover(self, spark):
        df = spark.createDataFrame([(10.0, 4.0)], "c1 DOUBLE, c2 DOUBLE")
        out = compensate(df, ["c1", "c2"], [[1.0, -0.5], [-0.25, 1.0]], keep=[])
        row = out.collect()[0]
        assert row["comp_c1"] == 10.0 - 2.0  # 1.0*10 - 0.5*4
        assert row["comp_c2"] == -2.5 + 4.0  # -0.25*10 + 1.0*4

    def test_signed_zero_matrix_with_nonfinite_events(self, spark, tmp_path):
        """A matrix holding both 0.0 and -0.0 in one column, over events
        with ±inf/NaN, read through parquet so codegen (not
        ConvertToLocalRelation) evaluates the projection: every output
        equals the same left-to-right sum in Python, sign of zero
        included (Spark 4.1 subexpression elimination mixes up the two
        zero literals elsewhere)."""
        import math

        inf, nan = float("inf"), float("nan")
        matrix = [[1.0, 0.0, -0.5], [-0.0, 1.0, 0.0], [0.25, -0.0, 1.0]]
        events = [
            (1.0, -1.0, 2.0), (0.0, -0.0, 0.0), (-0.0, 0.0, -0.0),
            (inf, 1.0, -1.0), (-inf, -0.0, 0.0), (1.0, inf, -0.0),
            (nan, 0.0, 1.0), (0.0, -inf, nan), (-1.0, -1.0, -1.0),
        ]
        path = str(tmp_path / "events.parquet")
        schema = "c0 DOUBLE, c1 DOUBLE, c2 DOUBLE"
        spark.createDataFrame(events, schema).coalesce(1).write.parquet(path)
        cols = ["c0", "c1", "c2"]
        out = compensate(spark.read.parquet(path), cols, matrix, keep=cols)

        def same(x, y):
            if math.isnan(x) or math.isnan(y):
                return math.isnan(x) and math.isnan(y)
            return x == y and math.copysign(1.0, x) == math.copysign(1.0, y)

        rows = out.collect()
        assert len(rows) == len(events)
        for r in rows:
            ev = [r[c] for c in cols]
            for i, c in enumerate(cols):
                want = matrix[i][0] * ev[0]
                for j in range(1, len(cols)):
                    want = want + matrix[i][j] * ev[j]
                assert same(r[f"comp_{c}"], want), (ev, c, r[f"comp_{c}"], want)


class TestDedup:
    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "The Quick Brown Fox Jumps Over The Lazy Dog".lower()),
                (4, "completely different words entirely unrelated text here"),
            ],
            "doc_id INT, text STRING",
        )

    def test_exact_dedup_keeps_lowest_id(self, spark):
        out = exact_dedup(self._docs(spark), "text", "doc_id")
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == [1, 2, 4]  # 3 is an exact dup of 1 after lower()

    def test_shingles(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], "doc_id INT, text STRING")
        got = sorted(r["shingle"] for r in shingles(df, "doc_id", "text", 3).collect())
        assert got == ["a b c", "b c d"]

    def test_jaccard_near_dup_found(self, spark):
        out = ngram_jaccard_pairs(self._docs(spark), "doc_id", "text", n=3, threshold=0.3)
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out.collect()}
        assert (1, 3) in pairs and pairs[(1, 3)] == 1.0  # identical shingle sets
        assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0
        assert not any(4 in p for p in pairs)

    def test_minhash_identical_docs_share_signature(self, spark):
        sig = {
            r["doc_id"]: r["signature"]
            for r in minhash_signatures(self._docs(spark), "doc_id", "text").collect()
        }
        assert sig[1] == sig[3]
        assert sig[1] != sig[4]

    def test_minhash_lsh_candidates(self, spark):
        out = minhash_lsh_pairs(self._docs(spark), "doc_id", "text", bands=16)
        pairs = {(r["doc_a"], r["doc_b"]): r["n_bands"] for r in out.collect()}
        assert pairs[(1, 3)] == 16  # identical docs agree on all bands
        assert (1, 2) in pairs  # near-dup caught by some band
        assert not any(4 in p for p in pairs)

    def test_sharded_lsh_union_equals_unsharded(self, spark):
        """Shard-union losslessness, exact: the union of the K(K+1)/2
        shard-pair runs equals minhash_lsh_pairs row-for-row INCLUDING
        n_bands, the runs are pairwise disjoint on pairs, and every
        pair lands in the run (shard(a), shard(b)) — for a corpus with
        within-shard dups, cross-shard dups, and an isolated doc,
        under both shard functions (default xxhash64, replayable %K)
        and several K including K=1 (degenerate: one self-join run)."""
        from fcs_etl_reactor_spark.operators.dedup import (
            lsh_shard_runs,
            minhash_lsh_pairs_sharded,
        )
        from pyspark.sql import functions as SF

        base = "w%d " * 12
        docs = spark.createDataFrame(
            [
                # cluster A: ids 1,2,6 (spread over shards for K>=3)
                (1, (base % tuple(range(12))).strip()),
                (2, (base % tuple(range(12))).strip()),
                (6, (base % tuple(range(12))).strip() + " tail"),
                # cluster B: ids 4,8 (same shard for K=4)
                (4, ("x%d " * 12 % tuple(range(12))).strip()),
                (8, ("x%d " * 12 % tuple(range(12))).strip()),
                (9, "totally unrelated isolated content z0 z1 z2 z3"),
            ],
            "doc_id INT, text STRING",
        )
        expect = sorted(
            tuple(r)
            for r in minhash_lsh_pairs(docs, "doc_id", "text", bands=16).collect()
        )
        assert len(expect) >= 4  # the fixture really produces pairs
        for k, shard_expr in [
            (1, None),
            (3, None),
            (4, SF.col("doc_id") % 4),
            (5, None),
        ]:
            got = sorted(
                tuple(r)
                for r in minhash_lsh_pairs_sharded(
                    docs, "doc_id", "text", bands=16,
                    n_shards=k, shard_expr=shard_expr,
                ).collect()
            )
            assert got == expect, f"K={k}"
        # disjointness + correct run assignment under the %K function
        runs = lsh_shard_runs(
            docs, "doc_id", "text", bands=16,
            n_shards=4, shard_expr=SF.col("doc_id") % 4,
        )
        assert len(runs) == 10
        seen = {}
        for i, j, pairs in runs:
            for r in pairs.collect():
                key = (r["doc_a"], r["doc_b"])
                assert key not in seen, f"pair {key} in runs {seen[key]} and {(i,j)}"
                seen[key] = (i, j)
                assert (i, j) == tuple(sorted((key[0] % 4, key[1] % 4)))
        assert sorted((a, b) for (a, b) in seen) == [
            (a, b) for (a, b, _) in expect
        ]

    def test_span_dedup_counts(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import span_dedup

        # doc 1: spans "a b" and "c d"; doc 2 repeats "a b" (dup span,
        # canonical copy belongs to doc 1) plus its own "x y"
        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b x y")], "doc_id INT, text STRING"
        )
        out = {
            r["doc_id"]: (r["n_spans"], r["n_canonical"])
            for r in span_dedup(df, "doc_id", "text", span_tokens=2).collect()
        }
        assert out == {1: (2, 2), 2: (2, 1)}

    def test_span_dedup_within_doc_repeat(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import span_dedup

        # the same span twice inside ONE document: first occurrence wins
        df = spark.createDataFrame([(7, "a b a b")], "doc_id INT, text STRING")
        (row,) = span_dedup(df, "doc_id", "text", span_tokens=2).collect()
        assert (row["n_spans"], row["n_canonical"]) == (2, 1)

    def test_minhash_cross_pairs_directional(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import minhash_lsh_cross_pairs

        docs = self._docs(spark)
        train = docs.filter("doc_id IN (1, 4)")
        holdout = docs.filter("doc_id IN (2, 3)")
        out = {
            (r["train_id"], r["holdout_id"]): r["n_bands"]
            for r in minhash_lsh_cross_pairs(
                train, holdout, "doc_id", "text", bands=16
            ).collect()
        }
        assert out[(1, 3)] == 16  # identical after lower()
        assert (1, 2) in out  # near-dup crosses the split
        assert not any(t == 4 for t, _ in out)  # unrelated doc never pairs

    def test_dedup_clusters_connected_components(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import dedup_clusters

        # chain 1-2-3 (diameter 2), pair 10-11, pair 20-21 + 21-22 + 20-22
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
            "doc_a BIGINT, doc_b BIGINT",
        )
        out = {r["node"]: (r["cluster_id"], r["is_canonical"])
               for r in dedup_clusters(pairs).collect()}
        assert out == {
            1: (1, True), 2: (1, False), 3: (1, False),
            10: (10, True), 11: (10, False),
            20: (20, True), 21: (20, False), 22: (20, False),
        }

    def test_dedup_clusters_long_chain_converges(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import dedup_clusters

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 8)], "doc_a BIGINT, doc_b BIGINT"
        )
        out = dedup_clusters(chain).collect()
        assert all(r["cluster_id"] == 1 for r in out)
        assert sum(r["is_canonical"] for r in out) == 1

    def test_dedup_clusters_matches_union_find(self, spark):
        import random

        from fcs_etl_reactor_spark.operators.dedup import dedup_clusters

        rng = random.Random(1234)
        nodes = list(range(1, 40))
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(30)]

        # independent reference: classic union-find
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {n for e in edges for n in e}
        expected = {n: min(m for m in touched if find(m) == find(n)) for n in touched}

        pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        got = {r["node"]: r["cluster_id"]
               for r in dedup_clusters(pairs, max_iter=40).collect()}
        assert got == expected

    def test_cc_star_matches_label_propagation(self, spark):
        import random

        from fcs_etl_reactor_spark.operators.dedup import (
            dedup_clusters,
            dedup_clusters_star,
        )

        rng = random.Random(98765)
        nodes = list(range(1, 60))
        edges = [tuple(rng.sample(nodes, 2)) for _ in range(45)]
        pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
        lp = {(r["node"], r["cluster_id"], r["is_canonical"])
              for r in dedup_clusters(pairs, max_iter=40).collect()}
        star = {(r["node"], r["cluster_id"], r["is_canonical"])
                for r in dedup_clusters_star(pairs).collect()}
        assert star == lp

    def test_cc_star_long_chain_few_rounds(self, spark):
        # THE case star contraction exists for: a diameter-63 chain.
        # Label propagation needs ~63 rounds; star converges in O(log n).
        from fcs_etl_reactor_spark.operators.dedup import dedup_clusters_star

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 64)], "doc_a BIGINT, doc_b BIGINT"
        )
        out = dedup_clusters_star(chain, max_iter=12).collect()
        assert len(out) == 64
        assert all(r["cluster_id"] == 1 for r in out)
        assert sum(r["is_canonical"] for r in out) == 1

    def test_cc_star_unordered_and_dup_pairs(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import dedup_clusters_star

        pairs = spark.createDataFrame(
            [(5, 2), (2, 5), (5, 5), (9, 7)], "doc_a BIGINT, doc_b BIGINT"
        )
        out = {r["node"]: (r["cluster_id"], r["is_canonical"])
               for r in dedup_clusters_star(pairs).collect()}
        assert out == {2: (2, True), 5: (2, False), 7: (7, True), 9: (7, False)}

    def test_simhash_hamming(self, spark):
        fp = {r["doc_id"]: r["simhash"] for r in simhash(self._docs(spark), "doc_id", "text").collect()}
        assert fp[1] == fp[3]
        ham_12 = bin(fp[1] ^ fp[2]).count("1")
        ham_14 = bin(fp[1] ^ fp[4]).count("1")
        assert ham_12 < ham_14
        cands = {(r["doc_a"], r["doc_b"]) for r in
                 simhash_candidates(self._docs(spark), "doc_id", "text").collect()}
        assert (1, 3) in cands


class TestIvfParams:
    def test_params_track_corpus_size(self):
        from fcs_etl_reactor_spark.operators.similarity import ivf_params_for

        # centroid count grows with the corpus, capped; probe is a
        # fixed fraction of centroids (recall roughly scale-invariant)
        n_small, p_small = ivf_params_for(100)
        n_mid, p_mid = ivf_params_for(100_000)
        n_big, p_big = ivf_params_for(10**9)
        assert n_small < n_mid <= n_big <= 4096
        assert 1 <= p_small <= n_small and p_mid <= n_mid and p_big <= n_big
        # candidate volume per query stays ~probe_frac of the corpus,
        # never the whole corpus
        assert p_mid / n_mid <= 0.5


class TestGlobalRank:
    def test_matches_window_rank(self, spark):
        from pyspark.sql import Window

        from fcs_etl_reactor_spark.operators.ordering import global_rank

        df = spark.range(0, 997).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("h")
        )
        got = {
            r["id"]: r["rank"]
            for r in global_rank(df, ["h", "id"], num_partitions=7).collect()
        }
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy("h", "id")).alias("rn")
            ).collect()
        }
        assert got == want

    def test_gap_free_and_complete(self, spark):
        from fcs_etl_reactor_spark.operators.ordering import global_rank

        df = spark.range(0, 100).select(F.col("id"))
        ranks = sorted(
            r["rank"] for r in global_rank(df, ["id"], num_partitions=5).collect()
        )
        assert ranks == list(range(1, 101))

    def test_large_input_beyond_reservoir(self, spark):
        # Regression: with upstream partitions larger than the range
        # sampler's reservoir (~60 rows/partition), the old pid-keyed
        # offsets could misalign between the two passes (the offsets
        # job and the assignment job re-plan the exchange and sample
        # DIFFERENT boundaries). Bucket-keyed offsets are immune; this
        # input is big enough that the old code failed it.
        from pyspark.sql import Window

        from fcs_etl_reactor_spark.operators.ordering import global_rank

        df = spark.range(0, 40_000).select(
            F.col("id"), ((F.col("id") * 37) % 9973).cast("double").alias("v")
        )
        got = {
            r["id"]: r["rank"]
            for r in global_rank(df, ["v", "id"], num_partitions=32).collect()
        }
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
            ).collect()
        }
        assert got == want

    def test_descending_key_tuple(self, spark):
        from pyspark.sql import Window

        from fcs_etl_reactor_spark.operators.ordering import global_rank

        df = spark.range(0, 2_000).select(
            F.col("id"), (F.col("id") % 211).cast("double").alias("v")
        )
        got = {
            r["id"]: r["rank"]
            for r in global_rank(
                df, [("v", "desc"), "id"], num_partitions=8
            ).collect()
        }
        want = {
            r["id"]: r["rn"]
            for r in df.select(
                "id",
                F.row_number()
                .over(Window.orderBy(F.col("v").desc(), "id"))
                .alias("rn"),
            ).collect()
        }
        assert got == want

    def test_sortorder_column_rejected(self, spark):
        import pytest

        from fcs_etl_reactor_spark.operators.ordering import global_rank

        df = spark.range(0, 10).select(F.col("id"))
        with pytest.raises(TypeError, match="desc"):
            global_rank(df, [F.col("id").desc()], num_partitions=2)

    def test_multipass_input_materialized_only_when_needed(self, spark, tmp_path):
        """A non-deterministic upstream over a bare scan is checkpointed
        (the passes must see one row set); a deterministic scan+filter
        is re-scanned as-is."""
        from fcs_etl_reactor_spark.operators.ordering import (
            _materialize_multipass_input,
        )

        path = str(tmp_path / "ids.parquet")
        spark.range(0, 50).write.parquet(path)
        scan = spark.read.parquet(path)

        def checkpointed(df):
            out = _materialize_multipass_input(df)
            plan = out._jdf.queryExecution().analyzed().toString()
            return out is not df and "LogicalRDD" in plan

        assert checkpointed(scan.withColumn("pid", F.spark_partition_id()))
        assert checkpointed(scan.withColumn("r", F.rand(7)))
        plain = scan.filter(F.col("id") > 3)
        assert _materialize_multipass_input(plain) is plain


class TestFailedCheckpoint:
    """A checkpoint job that fails fails the call — no silent lazy
    re-execution of the upstream."""

    @pytest.fixture
    def broken_checkpoint(self, monkeypatch):
        from pyspark.sql.classic.dataframe import DataFrame

        def fail(self, *args, **kwargs):
            raise RuntimeError("checkpoint failed")

        monkeypatch.setattr(DataFrame, "localCheckpoint", fail)

    def test_global_rank(self, spark, broken_checkpoint):
        from fcs_etl_reactor_spark.operators.ordering import global_rank

        agg = spark.range(0, 100).groupBy((F.col("id") % 7).alias("k")).count()
        with pytest.raises(RuntimeError, match="checkpoint failed"):
            global_rank(agg, ["k"], num_partitions=2)

    def test_pagerank(self, spark, broken_checkpoint):
        from fcs_etl_reactor_spark.operators.graphs import pagerank

        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src STRING, dst STRING"
        )
        with pytest.raises(RuntimeError, match="checkpoint failed"):
            pagerank(edges, iters=2)


class TestSimilarity:
    def _vecs(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ]
        return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")

    def test_exact_topk_ranks_by_cosine(self, spark):
        v = self._vecs(spark)
        out = cosine_topk_exact(v.filter("vec_id = 1"), v.filter("vec_id > 1"), k=2)
        got = [(r["match_id"], r["rn"]) for r in out.orderBy("rn").collect()]
        assert got == [(2, 1), (3, 2)]

    def test_fast_matches_exact_ranking(self, spark):
        v = self._vecs(spark)
        a = cosine_topk_exact(v, v, k=3).select("query_id", "match_id", "rn")
        b = cosine_topk_fast(v, v, k=3).select("query_id", "match_id", "rn")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_vectorized_rejects_unbounded_query_side(self, spark):
        import pytest
        from pyspark.sql import functions as F

        from fcs_etl_reactor_spark.operators.similarity import (
            cosine_topk_vectorized,
        )

        big = spark.range(100_001).select(
            F.col("id").cast("int").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
        )
        with pytest.raises(ValueError, match="driver-collected"):
            cosine_topk_vectorized(big, self._vecs(spark))

    def test_lsh_self_match(self, spark):
        v = self._vecs(spark)
        out = lsh_topk(v, v, k=1, n_planes=2, dim=3)
        got = {r["query_id"]: r["match_id"] for r in out.collect()}
        # every vector's nearest same-bucket neighbor is itself
        assert all(q == m for q, m in got.items())

    def test_ivf_clustered_data_full_recall(self, spark):
        from fcs_etl_reactor_spark.operators.similarity import ivf_topk

        # two tight clusters around orthogonal axes: with 2 centroids
        # and n_probe=1, IVF must route each query to its own cluster
        # and return exactly the exact top-k within it
        rows = [
            (1, [1.0, 0.01, 0.0]), (2, [1.0, 0.02, 0.0]), (3, [1.0, 0.03, 0.0]),
            (4, [0.0, 0.01, 1.0]), (5, [0.0, 0.02, 1.0]), (6, [0.0, 0.03, 1.0]),
        ]
        v = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
        out = ivf_topk(v, v, k=2, n_centroids=2, n_probe=1, iterations=1)
        exact = cosine_topk_exact(v, v, k=2)
        got = sorted(
            (r["query_id"], r["match_id"], r["rn"]) for r in out.collect()
        )
        want = sorted(
            (r["query_id"], r["match_id"], r["rn"]) for r in exact.collect()
        )
        assert got == want

    def test_ivf_fixture_recall(self, spark):
        from fcs_etl_reactor_spark.operators.similarity import ivf_topk
        from fcs_etl_reactor_spark.io import load
        from tests.conftest import SF_SMALL

        e = load(spark, SF_SMALL, "embeddings")
        q = e.filter("label = 0")
        c = e.filter("label = 1")
        exact = {
            (r["query_id"], r["match_id"])
            for r in cosine_topk_exact(q, c, k=5).collect()
        }
        approx = {
            (r["query_id"], r["match_id"])
            for r in ivf_topk(q, c, k=5, n_centroids=16, n_probe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        # random near-orthogonal fixtures are worst-case for IVF; the
        # floor just asserts clustering beats blind 4/16 probing
        assert recall > 0.5


class TestExactHelpers:
    def test_dsum_partition_invariance(self, spark):
        from fcs_etl_reactor_spark.functions.exact import dsum

        vals = [(float(i) * 0.01,) for i in range(1, 2001)]
        one = spark.createDataFrame(vals, "x DOUBLE").coalesce(1)
        many = spark.createDataFrame(vals, "x DOUBLE").repartition(17)
        a = one.agg(dsum("x", "s")).collect()[0]["s"]
        b = many.agg(dsum("x", "s")).collect()[0]["s"]
        assert a == b == pytest.approx(20010.0 * 0.001 * 1000)


class TestSkew:
    def test_salted_agg_equals_plain(self, spark):
        from fcs_etl_reactor_spark.operators.skew import salted_agg
        from pyspark.sql import functions as F

        # one pathologically hot key (90% of rows) + a cold tail
        rows = [("hot", i, float(i % 7)) for i in range(900)] + [
            (f"cold{i % 10}", i, float(i)) for i in range(100)
        ]
        df = spark.createDataFrame(rows, "k STRING, id INT, v DOUBLE")
        got = salted_agg(
            df,
            keys=["k"],
            partials={
                "n": (F.count(F.lit(1)), F.sum("n")),
                "s": (F.sum(F.floor(F.col("v") * 1e6 + 0.5).cast("long")), F.sum("s")),
            },
            n_salt=4,
            salt_on="id",
        )
        plain = df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("v") * 1e6 + 0.5).cast("long")).alias("s"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, plain.collect()))

    def test_salted_join_equals_plain(self, spark):
        from fcs_etl_reactor_spark.operators.skew import salted_join

        left = spark.createDataFrame(
            [("a", i) for i in range(50)] + [("b", i) for i in range(5)],
            "k STRING, payload INT",
        )
        right = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k STRING, dim INT")
        got = salted_join(left, right, key="k", n_salt=4, salt_on="payload")
        plain = left.join(right, "k")
        assert sorted(map(tuple, got.select("k", "payload", "dim").collect())) == sorted(
            map(tuple, plain.select("k", "payload", "dim").collect())
        )


class TestExactOverflowEnvelope:
    def test_dsum_overflow_raises_not_corrupts(self, spark):
        """functions/exact.py documents the long-accumulator envelope:
        outside it, ANSI mode must RAISE (never wrap silently)."""
        import pytest
        from pyspark.sql import functions as F

        from fcs_etl_reactor_spark.functions.exact import dsum

        big = spark.createDataFrame([(9.0e12,)] * 2000, "x DOUBLE")
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow|Overflow"):
            big.agg(dsum("x", "s")).collect()

    def test_fsum_exact_within_addend_envelope(self, spark):
        """fsum is exact while |x|·scale < 2^63; the decimal(38,0)
        accumulator itself cannot overflow at any row count."""
        from fcs_etl_reactor_spark.functions.exact import fsum
        from pyspark.sql import functions as F

        big = spark.createDataFrame([(9.0e5,)] * 2000, "x DOUBLE")
        got = big.agg(fsum(F.col("x"), "s")).collect()[0]["s"]
        assert got == 9.0e5 * 2000

    def test_fsum_addend_saturation_documented(self, spark):
        """Outside the per-addend envelope Spark's FLOOR(double)→long
        SATURATES at Long.MAX silently (documented in exact.py) — this
        pins that behavior so an upstream change to raising is noticed."""
        from fcs_etl_reactor_spark.functions.exact import fsum
        from pyspark.sql import functions as F

        big = spark.createDataFrame([(9.0e12,)], "x DOUBLE")
        got = big.agg(fsum(F.col("x"), "s")).collect()[0]["s"]
        assert got == (2**63 - 1) / 1e12  # saturated, not exact, not raised


class TestSkewGuards:
    def test_salted_join_rejects_right_and_full(self, spark):
        from fcs_etl_reactor_spark.operators.skew import salted_join

        left = spark.createDataFrame([("a", 1)], "k STRING, v INT")
        right = spark.createDataFrame([("a", 2)], "k STRING, d INT")
        for how in ("right", "full", "left_anti"):
            with pytest.raises(ValueError, match="salt-safe|replicating"):
                salted_join(left, right, key="k", how=how)

    def test_salted_left_join_preserves_unmatched(self, spark):
        from fcs_etl_reactor_spark.operators.skew import salted_join

        left = spark.createDataFrame([("a", 1), ("orphan", 2)], "k STRING, v INT")
        right = spark.createDataFrame([("a", 9)], "k STRING, d INT")
        got = salted_join(left, right, key="k", n_salt=4, salt_on="v", how="left")
        rows = {(r["k"], r["v"], r["d"]) for r in got.collect()}
        assert rows == {("a", 1, 9), ("orphan", 2, None)}


class TestMultiTableLsh:
    def test_multi_table_recall_beats_single(self, spark):
        from fcs_etl_reactor_spark.io import load
        from tests.conftest import SF_SMALL

        e = load(spark, SF_SMALL, "embeddings")
        q, c = e.filter("label = 0"), e.filter("label = 1")
        exact = {
            (r["query_id"], r["match_id"])
            for r in cosine_topk_exact(q, c, k=5).collect()
        }
        multi = {
            (r["query_id"], r["match_id"])
            for r in lsh_topk(q, c, k=5, n_planes=4, n_tables=16).collect()
        }
        recall = len(exact & multi) / len(exact)
        assert recall > 0.7  # measured 0.88; floor guards regressions


class TestGlobalCumsum:
    def test_matches_window_cumsum(self, spark):
        from pyspark.sql import Window

        from fcs_etl_reactor_spark.operators.ordering import global_cumsum

        df = spark.range(0, 997).select(
            F.col("id"), (F.col("id") % 37 + 1).alias("v")
        )
        for exclusive in (False, True):
            got = {
                r["id"]: r["cs"]
                for r in global_cumsum(
                    df, ["id"], "v", out_col="cs",
                    num_partitions=7, exclusive=exclusive,
                ).collect()
            }
            frame = (-(2 ** 63), -1) if exclusive else (-(2 ** 63), 0)
            w = Window.orderBy("id").rowsBetween(*frame)
            want = {
                r["id"]: r["cs"]
                for r in df.select(
                    "id",
                    F.coalesce(F.sum("v").over(w), F.lit(0)).alias("cs"),
                ).collect()
            }
            assert got == want


class TestBloom:
    def test_no_false_negatives_and_exact_semi_join(self, spark):
        from fcs_etl_reactor_spark.operators.bloom import (
            bloom_prune,
            bloom_semi_join,
        )

        probe = spark.range(0, 5000).select(
            F.concat(F.lit("k"), F.col("id")).alias("k"), F.col("id").alias("v")
        )
        build = spark.range(0, 5000, 3).select(
            F.concat(F.lit("k"), F.col("id")).alias("k")
        )
        n_bits = 5000 * 10 // 3

        exact = {r["v"] for r in probe.join(build, "k", "left_semi").collect()}
        pruned = {r["v"] for r in bloom_prune(probe, build, "k", n_bits).collect()}
        assert exact <= pruned  # zero false negatives
        # ~1% FPR at 10 bits/key: the pruned superset stays close
        assert len(pruned) - len(exact) < 0.05 * len(exact)

        got = {r["v"] for r in bloom_semi_join(probe, build, "k", n_bits).collect()}
        assert got == exact  # residual join removes false positives

    def test_might_contain_expression_only(self, spark):
        # the probe path must stay UDF-free (whole-stage codegen)
        from fcs_etl_reactor_spark.operators.bloom import bloom_prune

        probe = spark.range(0, 100).select(F.col("id").alias("k"))
        build = spark.range(0, 50).select(F.col("id").alias("k"))
        plan = bloom_prune(probe, build, "k", 1000)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestInt8Quantize:
    def _vecs(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [-0.5, 0.25, 0.125]),
            (5, [0.0, 0.0, 0.0]),  # zero vector must not NaN
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_codes_in_range_and_max_abs_hits_127(self, spark):
        from fcs_etl_reactor_spark.operators.quantize import int8_quantize

        v = self._vecs(spark)
        out = v.select("vec_id", int8_quantize("embedding").alias("q")).collect()
        by_id = {r["vec_id"]: r["q"] for r in out}
        assert all(-127 <= c <= 127 for q in by_id.values() for c in q)
        assert by_id[1] == [127, 0, 0]
        assert by_id[4] == [-127, 64, 32]  # scale 254, round-half-up
        assert by_id[5] == [0, 0, 0]

    def test_topk_matches_exact_on_separated_vectors(self, spark):
        from fcs_etl_reactor_spark.operators.quantize import quantized_cosine_topk
        from fcs_etl_reactor_spark.operators.similarity import cosine_topk_exact

        v = self._vecs(spark).filter("vec_id < 5")
        q = v.filter("vec_id = 1")
        a = quantized_cosine_topk(q, v, k=2).select("query_id", "match_id", "rn")
        b = cosine_topk_exact(q, v, k=2).select("query_id", "match_id", "rn")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_plan_is_expression_only(self, spark):
        from fcs_etl_reactor_spark.operators.quantize import quantized_cosine_topk

        v = self._vecs(spark)
        plan = quantized_cosine_topk(v, v, k=1)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


class TestMergeUpsert:
    def test_replace_append_passthrough(self, spark):
        from fcs_etl_reactor_spark.operators.merge import merge_upsert

        base = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k INT, s STRING, v DOUBLE"
        )
        updates = spark.createDataFrame(
            [(2, "B", 99.0), (4, "d", 40.0)], "k INT, s STRING, v DOUBLE"
        )
        got = {r["k"]: (r["s"], r["v"]) for r in merge_upsert(base, updates, ["k"]).collect()}
        assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    def test_schema_mismatch_rejected(self, spark):
        import pytest as _pytest

        from fcs_etl_reactor_spark.operators.merge import merge_upsert

        base = spark.createDataFrame([(1, "a")], "k INT, s STRING")
        upd = spark.createDataFrame([(1,)], "k INT")
        with _pytest.raises(AssertionError):
            merge_upsert(base, upd, ["k"])


class TestCountMin:
    def test_never_undercounts_and_merges_exactly(self, spark):
        from pyspark.sql import functions as SF

        from fcs_etl_reactor_spark.operators.countmin import cms_build, cms_estimate

        a = spark.createDataFrame([(i % 7,) for i in range(200)], "k BIGINT")
        b = spark.createDataFrame([(i % 5,) for i in range(100)], "k BIGINT")
        # tiny width forces collisions — the one-sided guarantee must hold
        d, w = 3, 8
        sk_a, sk_b = cms_build(a, "k", d, w), cms_build(b, "k", d, w)
        probes = a.union(b).distinct()
        exact = {r["k"]: 0 for r in probes.collect()}
        for r in a.union(b).groupBy("k").count().collect():
            exact[r["k"]] = r["count"]
        # counter-wise addition of two sketches == sketch of the union
        merged = (
            sk_a.unionByName(sk_b)
            .groupBy("r", "bucket")
            .agg(SF.sum("counter").alias("counter"))
        )
        direct = cms_build(a.union(b), "k", d, w)
        assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))
        est = {
            r["k"]: r["cms_count"]
            for r in cms_estimate(merged, probes, "k", d, w).collect()
        }
        for k, n in exact.items():
            assert est[k] >= n  # never undercounts, even at width 8


class TestBpeTrainer:
    @staticmethod
    def _reference_bpe(words, n_merges):
        from collections import Counter

        wc = Counter(w for w in words if w)
        vocab = {w: list(w) for w in wc}
        merges = []
        for rank in range(n_merges):
            pc = Counter()
            for w, syms in vocab.items():
                for x, y in zip(syms, syms[1:]):
                    pc[(x, y)] += wc[w]
            if not pc:
                break
            # (count DESC, pair ASC) total order — same rule as the operator
            (a, b), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, a, b))
            for w, syms in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
        return merges

    def test_matches_pure_python_reference(self, spark):
        from fcs_etl_reactor_spark.operators.bpe import train_bpe

        texts = [
            "low lower lowest low low",
            "new newer newest new newer",
            "wide wider widest wide",
            "low newer low wide lowest",
        ]
        words = [w for t in texts for w in t.split(" ")]
        df = spark.createDataFrame([(t,) for t in texts], "text STRING")
        got = train_bpe(df, "text", n_merges=6)
        assert got == self._reference_bpe(words, 6)

    def test_overlapping_merge_is_leftmost_greedy(self, spark):
        from fcs_etl_reactor_spark.operators.bpe import train_bpe

        # 'aaaa': rule (a,a) learned first; re-segmentation must give
        # (aa)(aa), and the next round then learns (aa,aa)
        df = spark.createDataFrame([("aaaa aaaa",)], "text STRING")
        got = train_bpe(df, "text", n_merges=2)
        assert got == [(0, "a", "a"), (1, "aa", "aa")]

    def test_input_read_once(self, spark):
        """Every merge round reads the stored vocabulary, never the
        corpus: 8 merges over 50 rows evaluate the input 50 times."""
        from fcs_etl_reactor_spark.operators.bpe import train_bpe

        acc = spark.sparkContext.accumulator(0)

        def passthrough(text):
            acc.add(1)
            return text

        words = ["lower", "lowest", "newer", "newest", "wider"]
        df = spark.createDataFrame(
            [(f"{words[i % 5]} {words[(i * 3) % 5]}",) for i in range(50)],
            "text STRING",
        ).select(F.udf(passthrough, "string")("text").alias("text"))
        merges = train_bpe(df, "text", n_merges=8)
        assert len(merges) == 8
        assert acc.value == 50


class TestEmptyInputs:
    """New operators must behave on empty/degenerate inputs — a 100 TB
    pipeline always has an empty partition, filter result, or day."""

    def test_span_dedup_empty(self, spark):
        from fcs_etl_reactor_spark.operators.dedup import span_dedup

        empty = spark.createDataFrame([], "doc_id INT, text STRING")
        assert span_dedup(empty, "doc_id", "text").count() == 0

    def test_merge_upsert_empty_updates(self, spark):
        from fcs_etl_reactor_spark.operators.merge import merge_upsert

        base = spark.createDataFrame([(1, "a")], "k INT, s STRING")
        empty = spark.createDataFrame([], "k INT, s STRING")
        assert [tuple(r) for r in merge_upsert(base, empty, ["k"]).collect()] == [(1, "a")]
        got = merge_upsert(empty, base, ["k"]).collect()
        assert [tuple(r) for r in got] == [(1, "a")]

    def test_countmin_empty_sketch_estimates_zero(self, spark):
        from fcs_etl_reactor_spark.operators.countmin import cms_build, cms_estimate

        empty = spark.createDataFrame([], "k BIGINT")
        probes = spark.createDataFrame([(1,), (2,)], "k BIGINT")
        sketch = cms_build(empty, "k")
        est = {r["k"]: r["cms_count"] for r in cms_estimate(sketch, probes, "k").collect()}
        assert est == {1: 0, 2: 0}

    def test_bpe_empty_corpus(self, spark):
        from fcs_etl_reactor_spark.operators.bpe import train_bpe

        empty = spark.createDataFrame([], "text STRING")
        assert train_bpe(empty, "text", n_merges=3) == []

    def test_frame_indices_degenerate(self):
        from fcs_etl_reactor_spark.operators.multimodal import frame_indices

        assert frame_indices(0, 3) == [0]
        assert frame_indices(5, 1) == [0]


class TestKmeansExact:
    """operators/kmeans.py — exact integer Lloyd iterations."""

    def _points(self, spark):
        from fcs_etl_reactor_spark.io import load
        from fcs_etl_reactor_spark.operators.kmeans import quantize_long
        from tests.conftest import SF_SMALL

        e = load(spark, SF_SMALL, "embeddings")
        return quantize_long(e, "vec_id", "embedding")

    def test_inertia_non_increasing(self, spark):
        """Lloyd's algorithm guarantees monotone non-increasing
        inertia when both steps are exact argmin/centroid updates;
        the integer floor-division update can in theory tie but never
        increase past the previous assignment's cost by more than the
        rounding slack. Assert strict practical monotonicity over the
        fixture."""
        from fcs_etl_reactor_spark.operators.kmeans import kmeans_exact
        import pyspark.sql.functions as F

        pts = self._points(spark)
        inertias = []
        for iters in (1, 2, 3):
            assign, _ = kmeans_exact(pts, "vec_id", k=4, iters=iters)
            inertias.append(assign.agg(F.sum("d")).collect()[0][0])
        assert inertias[0] >= inertias[1] >= inertias[2]

    def test_every_point_assigned_exactly_once(self, spark):
        from fcs_etl_reactor_spark.operators.kmeans import kmeans_exact

        pts = self._points(spark)
        assign, cent = kmeans_exact(pts, "vec_id", k=4, iters=2)
        n_points = pts.select("vec_id").distinct().count()
        assert assign.count() == n_points
        assert assign.select("vec_id").distinct().count() == n_points
        # centroids keep full dimensionality
        import pyspark.sql.functions as F

        dims = cent.groupBy("cid").count().select(F.min("count")).collect()[0][0]
        assert dims == 64

    def test_quantization_positive(self, spark):
        import pyspark.sql.functions as F

        pts = self._points(spark)
        assert pts.filter(F.col("qv") < 0).count() == 0


class TestExpectations:
    """operators/expectations.py — one-pass constraint evaluation."""

    def test_single_aggregate_pass(self, spark):
        """All metrics must land in ONE Aggregate over ONE scan: the
        physical plan contains no join and only the unpivot above the
        aggregation."""
        from fcs_etl_reactor_spark.io import load
        from fcs_etl_reactor_spark.operators.expectations import (
            completeness,
            run_expectations,
            violations,
        )
        import pyspark.sql.functions as F

        from tests.conftest import SF_SMALL

        l = load(spark, SF_SMALL, "lineitem")
        rep = run_expectations(
            l,
            [
                (completeness("l_shipdate"), "{m} >= 1.0d"),
                (violations("neg_qty", F.col("l_quantity") < 0), "{m} = 0.0d"),
            ],
        )
        plan = rep._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        rows = {r["expectation"]: r for r in rep.collect()}
        assert rows["completeness_l_shipdate"]["passed"] is True
        assert rows["neg_qty"]["metric"] == 0.0

    def test_violation_detection(self, spark):
        from fcs_etl_reactor_spark.operators.expectations import (
            run_expectations,
            uniqueness,
            violations,
        )
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [(1, 10.0), (1, -5.0), (2, 3.0)], ["id", "v"]
        )
        rep = run_expectations(
            df,
            [
                (uniqueness("id"), "{m} >= 1.0d"),
                (violations("neg_v", F.col("v") < 0), "{m} = 0.0d"),
            ],
        ).collect()
        by = {r["expectation"]: r for r in rep}
        assert by["uniqueness_id"]["passed"] is False
        assert by["neg_v"]["metric"] == 1.0
        assert by["neg_v"]["passed"] is False


class TestSpatialGrid:
    """q4j's 3x3 cell cover must be lossless: grid-join == naive join
    on adversarial points placed at cell boundaries."""

    def test_grid_equals_naive_on_boundary_points(self, spark):
        import pyspark.sql.functions as F

        cell = 500
        r2 = cell * cell
        # points straddling cell boundaries and exact-radius pairs
        pts = [(i, x, y) for i, (x, y) in enumerate(
            [(0, 0), (499, 0), (500, 0), (999, 999), (1000, 1000),
             (1500, 1500), (4999, 4999), (5000, 5000), (250, 250),
             (750, 250), (250, 750), (9999, 9999)]
        )]
        fac = [(100 + i, x, y) for i, (x, y) in enumerate(
            [(0, 0), (500, 500), (1000, 1000), (5000, 5000), (9750, 9750)]
        )]
        p = spark.createDataFrame(pts, ["pid", "xi", "yi"])
        f = spark.createDataFrame(fac, ["fid", "xf", "yf"])
        naive = (
            p.crossJoin(f)
            .filter(
                (F.col("xi") - F.col("xf")) * (F.col("xi") - F.col("xf"))
                + (F.col("yi") - F.col("yf")) * (F.col("yi") - F.col("yf"))
                <= r2
            )
            .select("pid", "fid")
        )
        off = F.array(F.lit(-1), F.lit(0), F.lit(1))
        pc = p.withColumns(
            {"cx": F.expr(f"xi div {cell}"), "cy": F.expr(f"yi div {cell}")}
        )
        fc = (
            f.withColumn("dx", F.explode(off))
            .withColumn("dy", F.explode(off))
            .withColumns(
                {
                    "cx": F.expr(f"xf div {cell}") + F.col("dx"),
                    "cy": F.expr(f"yf div {cell}") + F.col("dy"),
                }
            )
        )
        grid = (
            pc.join(fc, ["cx", "cy"])
            .filter(
                (F.col("xi") - F.col("xf")) * (F.col("xi") - F.col("xf"))
                + (F.col("yi") - F.col("yf")) * (F.col("yi") - F.col("yf"))
                <= r2
            )
            .select("pid", "fid")
        )
        assert sorted(map(tuple, naive.collect())) == sorted(
            map(tuple, grid.collect())
        )


class TestNewOperatorEdges:
    """Degenerate-input behavior of the continuation operators: a
    single row, an empty frame, and k larger than the population must
    return sane results, not crash (the 100 TB pipeline will see
    empty partitions and tiny keys constantly)."""

    def test_kmeans_k_exceeds_points(self, spark):
        from fcs_etl_reactor_spark.operators.kmeans import (
            kmeans_exact,
            quantize_long,
        )

        df = spark.createDataFrame(
            [(1, [0.1, 0.2]), (2, [0.3, 0.4])], "vec_id int, embedding array<float>"
        )
        pts = quantize_long(df, "vec_id", "embedding")
        assign, cent = kmeans_exact(pts, "vec_id", k=5, iters=2)
        assert assign.count() == 2  # every point assigned
        assert cent.select("cid").distinct().count() <= 2

    def test_clamped_balance_single_and_all_negative(self, spark):
        from fcs_etl_reactor_spark.operators.clamped import clamped_balance

        df = spark.createDataFrame(
            [(1, 1, 10), (2, 1, -5), (2, 2, -7)], "k int, ord int, delta long"
        )
        out = {
            r["k"]: r for r in clamped_balance(df, "k", ["ord"], "delta").collect()
        }
        assert out[1]["final_scaled"] == 10 and out[1]["n_clamps"] == 0
        # all-negative key clamps at every step and ends at zero
        assert out[2]["final_scaled"] == 0 and out[2]["n_clamps"] == 2

    def test_mg_fewer_keys_than_k(self, spark):
        from fcs_etl_reactor_spark.operators.misra_gries import mg_merged

        df = spark.createDataFrame([("a",), ("b",), ("a",)], "w string")
        merged = {r["w"]: r["mg_est"] for r in mg_merged(df, "w", 8).collect()}
        assert merged == {"a": 2, "b": 1}  # exact when keys < k

    def test_bfs_isolated_source(self, spark):
        from fcs_etl_reactor_spark.operators.graphs import bfs_hops

        # the only edge is far from node 0; source = min node = 1
        df = spark.createDataFrame([(1, 2), (2, 1)], "src int, dst int")
        got = {r["node"]: r["d"] for r in bfs_hops(df, 3).collect()}
        assert got == {1: 0, 2: 1}

    def test_expectations_empty_frame(self, spark):
        from fcs_etl_reactor_spark.operators.expectations import (
            run_expectations,
            violations,
        )

        df = spark.createDataFrame([], "v double")
        rep = run_expectations(
            df, [(violations("neg", F.col("v") < 0), "{m} = 0.0d")]
        ).collect()
        # SUM over empty input is NULL -> metric NULL, passed NULL
        assert len(rep) == 1 and rep[0]["metric"] is None


class TestQuantileSketch:
    def test_weighted_resample_deterministic_and_bounded(self):
        import numpy as np

        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            _weighted_resample,
        )

        vals = np.arange(10000, dtype=np.float64)
        w = np.ones(10000)
        v1, w1 = _weighted_resample(vals, w, 100)
        v2, w2 = _weighted_resample(vals.copy(), w.copy(), 100)
        assert (v1 == v2).all() and (w1 == w2).all()  # deterministic
        assert len(v1) <= 100
        assert abs(w1.sum() - 10000) < 1e-6  # total weight preserved
        # each kept item sits within one spacing of its threshold rank
        spacing = 10000 / 100
        thresholds = (np.arange(len(v1)) + 0.5) * spacing
        assert (np.abs(v1 - thresholds) <= spacing).all()

    def test_partition_sketch_rank_error(self):
        import numpy as np

        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            _PartitionSketch,
        )

        rng = np.random.RandomState(7)
        data = rng.lognormal(3.0, 1.0, 50000)
        sk = _PartitionSketch(buf_cap=4096, summary_cap=1024)
        for chunk in np.array_split(data, 13):
            sk.update(chunk)
        sv, sw = sk.summary()
        assert len(sv) <= 1024
        srt = np.sort(data)
        order = np.argsort(sv, kind="stable")
        sv, sw = sv[order], sw[order]
        cum = np.cumsum(sw)
        for q in (0.1, 0.5, 0.9, 0.99):
            est = sv[np.searchsorted(cum, q * cum[-1], side="left")]
            rank = np.searchsorted(srt, est, side="right")
            assert abs(rank - q * len(data)) <= 0.02 * len(data)

    def test_distributed_build_merge_query(self, spark):
        from pyspark.sql import functions as F

        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            sketch_build,
            sketch_merge,
            sketch_quantiles,
        )

        df = spark.range(20000).select(
            (F.col("id") % 1000).cast("double").alias("x")
        ).repartition(7)
        merged = sketch_merge(sketch_build(df, "x"))
        assert merged.count() <= 1024
        got = {r["q"]: r["est"] for r in sketch_quantiles(merged, [0.5]).collect()}
        # true median of 0..999 repeated: ~499.5; 2% of 20k ranks = 20
        # values of slack on a uniform grid
        assert abs(got[0.5] - 499.5) <= 25


class TestQuantileSketchEdges:
    def test_empty_input_yields_empty_sketch(self, spark):
        from pyspark.sql import functions as F

        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            sketch_build,
            sketch_merge,
            sketch_quantiles,
        )

        df = spark.createDataFrame([], "x double")
        merged = sketch_merge(sketch_build(df, "x"))
        assert merged.count() == 0
        # quantile probe over an empty sketch: empty, not a crash
        assert sketch_quantiles(merged, [0.5]).count() == 0

    def test_nan_and_null_values_are_dropped(self, spark):
        from pyspark.sql import functions as F

        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            sketch_build,
            sketch_merge,
            sketch_quantiles,
        )

        df = spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),), (None,), (3.0,)], "x double"
        )
        merged = sketch_merge(sketch_build(df, "x"))
        got = {r["q"]: r["est"] for r in sketch_quantiles(merged, [0.5]).collect()}
        assert got[0.5] == 2.0

    def test_single_value_all_quantiles(self, spark):
        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            sketch_build,
            sketch_merge,
            sketch_quantiles,
        )

        df = spark.createDataFrame([(7.5,)] * 100, "x double")
        merged = sketch_merge(sketch_build(df, "x"))
        rows = sketch_quantiles(merged, [0.01, 0.5, 0.99]).collect()
        assert {r["est"] for r in rows} == {7.5}


class TestQuantileSketchExactWeight:
    def test_flush_weight_sums_exactly_to_count(self):
        """Σw == n after every flush, for counts that do and don't
        divide the sampling stride (the remainder lands on the last
        kept item instead of drifting by up to m-1 per flush)."""
        import numpy as np

        from fcs_etl_reactor_spark.operators.quantile_sketch import (
            _PartitionSketch,
            _systematic_sample,
        )

        rng = np.random.RandomState(11)
        for n in (4096, 4097, 5000, 8191, 12345):
            sk = _PartitionSketch(buf_cap=2048, summary_cap=512)
            sk.update(rng.normal(size=n))
            sv, sw = sk.summary()
            assert abs(sw.sum() - n) < 1e-6, (n, sw.sum())
        for n in (1, 2, 7, 100, 101):
            for m in (1, 2, 3, 7, 64):
                _, w = _systematic_sample(np.arange(float(n)), m)
                assert w.sum() == n, (n, m, w.sum())
                assert (w >= 1).all()


class TestMergeIntoSql:
    def _tgt(self, spark):
        spark.createDataFrame(
            [(1, "F", 10.0), (2, "O", 20.0), (3, "F", 30.0), (4, "O", 40.0)],
            "k INT, st STRING, v DOUBLE",
        ).createOrReplaceTempView("merge_tgt")

    def test_ansi_first_clause_wins(self, spark):
        """Conditional DELETE before UPDATE: a matched row satisfying
        the delete condition must be dropped, not fall through to the
        update; matched rows failing every clause pass unchanged."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        out = merge_into_sql(
            spark,
            """
            MERGE INTO merge_tgt AS t
            USING (SELECT 1 AS k, 'X' AS st, 99.0 AS v
                   UNION ALL SELECT 2, 'X', 88.0
                   UNION ALL SELECT 9, 'N', 9.0) AS s
            ON t.k = s.k
            WHEN MATCHED AND t.st = 'F' THEN DELETE
            WHEN MATCHED THEN UPDATE SET v = s.v + 1, st = 'U'
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            (2, "U", 89.0),   # matched, not 'F' -> updated
            (3, "F", 30.0),   # unmatched target -> survives
            (4, "O", 40.0),
            (9, "N", 9.0),    # unmatched source -> inserted
        ]  # k=1 matched with st='F' -> deleted

    def test_named_source_and_update_only(self, spark):
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        spark.createDataFrame(
            [(3, "Z", 1.0)], "k INT, st STRING, v DOUBLE"
        ).createOrReplaceTempView("merge_src")
        out = merge_into_sql(
            spark,
            "MERGE INTO merge_tgt t USING merge_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET st = s.st",
        )
        got = {r["k"]: (r["st"], r["v"]) for r in out.collect()}
        assert got[3] == ("Z", 30.0) and len(got) == 4

    def test_rejects_unsupported_shapes(self, spark):
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        for bad in [
            "MERGE merge_tgt t USING merge_tgt s ON t.k = s.k",
            "MERGE INTO merge_tgt t USING merge_tgt s "
            "WHEN MATCHED THEN DELETE",
            # column/value arity mismatch
            "MERGE INTO merge_tgt t USING merge_tgt s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, st) VALUES (s.k)",
            # a second insert clause
            "MERGE INTO merge_tgt t USING merge_tgt s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED THEN INSERT *",
            # INSERT payload that is neither * nor a columns list
            "MERGE INTO merge_tgt t USING merge_tgt s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT ROW",
            # unknown INSERT column
            "MERGE INTO merge_tgt t USING merge_tgt s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (nope) VALUES (1)",
            "MERGE INTO merge_tgt t USING (SELECT 1 AS k s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE",
        ]:
            with pytest.raises(ValueError):
                merge_into_sql(spark, bad)

    def test_insert_star_requires_full_schema(self, spark):
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        with pytest.raises(ValueError, match="lacks target columns"):
            merge_into_sql(
                spark,
                "MERGE INTO merge_tgt t USING (SELECT 5 AS k) s "
                "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *",
            )

    def test_insert_only_merge_keeps_matched_rows(self, spark):
        """An INSERT-only MERGE (no WHEN MATCHED clause) rewrites
        nothing: every target row — matched or not — passes through,
        and only genuinely new keys append. Regression: the anti-join
        survivor part alone silently dropped matched target rows."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        out = merge_into_sql(
            spark,
            """
            MERGE INTO merge_tgt AS t
            USING (SELECT 1 AS k, 'X' AS st, 99.0 AS v
                   UNION ALL SELECT 9, 'N', 9.0) AS s
            ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT *
            """,
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            (1, "F", 10.0),  # matched: untouched, NOT dropped
            (2, "O", 20.0),
            (3, "F", 30.0),
            (4, "O", 40.0),
            (9, "N", 9.0),   # new key: inserted
        ]

    def test_null_clause_condition_falls_through(self, spark):
        """ANSI fires a clause only when its condition is TRUE: a NULL
        AND-condition must fall through to the next clause. Regression:
        filter(~NULL) deleted the row and `remaining & ~NULL` disabled
        the later unconditional UPDATE."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        spark.createDataFrame(
            [(1, "F", None), (2, "O", 20.0)], "k INT, st STRING, v DOUBLE"
        ).createOrReplaceTempView("merge_tgt")
        out = merge_into_sql(
            spark,
            """
            MERGE INTO merge_tgt AS t
            USING (SELECT 1 AS k UNION ALL SELECT 2) AS s
            ON t.k = s.k
            WHEN MATCHED AND t.v > 5.0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET st = 'U'
            """,
        )
        assert sorted((r["k"], r["st"]) for r in out.collect()) == [
            (1, "U"),  # v NULL -> delete cond NULL -> falls to UPDATE
        ]  # k=2: v=20 > 5 -> deleted

    def test_columns_list_insert(self, spark):
        """INSERT (cols) VALUES (exprs): listed columns take their
        expression cast to the target type, unlisted columns are NULL;
        an AND condition gates which unmatched source rows insert."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        out = merge_into_sql(
            spark,
            """
            MERGE INTO merge_tgt AS t
            USING (SELECT 8 AS k, 80 AS v
                   UNION ALL SELECT 9, 90
                   UNION ALL SELECT 1, 10) AS s
            ON t.k = s.k
            WHEN NOT MATCHED AND s.v > 85 THEN INSERT (k, v) VALUES (s.k, s.v + 0.5)
            """,
        )
        got = {r["k"]: (r["st"], r["v"]) for r in out.collect()}
        # k=8 unmatched but fails the AND; k=1 matched (passes through)
        assert got[9] == (None, 90.5) and 8 not in got and len(got) == 5

    def test_not_matched_by_source_clauses(self, spark):
        """BY SOURCE cascade over target rows with no source match:
        conditional DELETE first, then unconditional UPDATE; matched
        rows and inserts keep their own dispositions."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        out = merge_into_sql(
            spark,
            """
            MERGE INTO merge_tgt AS t
            USING (SELECT 1 AS k, 'X' AS st, 99.0 AS v) AS s
            ON t.k = s.k
            WHEN MATCHED THEN UPDATE SET v = s.v
            WHEN NOT MATCHED BY SOURCE AND t.st = 'F' THEN DELETE
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET st = 'S'
            """,
        )
        got = {r["k"]: (r["st"], r["v"]) for r in out.collect()}
        assert got == {
            1: ("F", 99.0),  # matched -> updated v
            2: ("S", 20.0),  # no source match, not 'F' -> st rewritten
            4: ("S", 40.0),
        }  # k=3 ('F', no source match) -> deleted

    def test_quoted_literals_are_opaque_to_parser(self, spark):
        """A string literal containing WHEN, a comma, or an unbalanced
        paren must not confuse the clause/SET scanners."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        spark.createDataFrame(
            [(2, "Z", 1.0)], "k INT, st STRING, v DOUBLE"
        ).createOrReplaceTempView("merge_src")
        out = merge_into_sql(
            spark,
            "MERGE INTO merge_tgt t USING merge_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET st = 'a, (b WHEN c', v = 7.0",
        )
        got = {r["k"]: (r["st"], r["v"]) for r in out.collect()}
        assert got[2] == ("a, (b WHEN c", 7.0) and len(got) == 4
        with pytest.raises(ValueError, match="unclosed string literal"):
            merge_into_sql(
                spark,
                "MERGE INTO merge_tgt t USING merge_src s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET st = 'oops",
            )

    def test_then_inside_condition_literal(self, spark):
        """A clause condition containing the literal ' THEN UPDATE SET '
        must parse via the top-level-THEN scanner, not regex
        backtracking: the real THEN is located structurally, so the
        statement executes correctly instead of depending on
        backtracking accidents to error out."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        out = merge_into_sql(
            spark,
            """
            MERGE INTO merge_tgt AS t
            USING (SELECT 1 AS k UNION ALL SELECT 2) AS s
            ON t.k = s.k
            WHEN MATCHED AND t.st = ' THEN UPDATE SET x = 1 ' THEN DELETE
            WHEN MATCHED THEN UPDATE SET st = 'hit THEN miss'
            """,
        )
        got = {r["k"]: r["st"] for r in out.collect()}
        # no target st equals the weird literal -> both matched rows
        # fall through the DELETE to the UPDATE
        assert got[1] == "hit THEN miss" and got[2] == "hit THEN miss"
        assert got[3] == "F" and got[4] == "O"

    def test_multi_match_guard_env_flag(self, spark, monkeypatch):
        """SPARK_GRAFT_MERGE_CHECK=1 turns the at-most-one-source-match
        contract into an ANSI-style cardinality error; a clean keyed
        source still merges fine under the flag."""
        from fcs_etl_reactor_spark.operators.merge import merge_into_sql

        self._tgt(spark)
        monkeypatch.setenv("SPARK_GRAFT_MERGE_CHECK", "1")
        with pytest.raises(ValueError, match="more than one source row"):
            merge_into_sql(
                spark,
                "MERGE INTO merge_tgt t USING "
                "(SELECT 1 AS k UNION ALL SELECT 1) s ON t.k = s.k "
                "WHEN MATCHED THEN DELETE",
            )
        out = merge_into_sql(
            spark,
            "MERGE INTO merge_tgt t USING (SELECT 1 AS k) s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE",
        )
        assert sorted(r["k"] for r in out.collect()) == [2, 3, 4]


class TestSqlScriptingEdges:
    def test_ratchet_terminates_on_degenerate_tables(self, spark):
        """The q9z WHILE ratchet must terminate on ANY input: a
        sub-100-row table with tiny prices would stall forever under
        the naive `cutoff - cutoff DIV 1000` decay (DIV 1000 = 0 once
        cutoff < 1000). The GREATEST(..., 1) strict-decrease floor plus
        the cutoff > 0 guard make it finish with every row qualifying
        at cutoff <= 0; an empty table exits immediately (NULL max ->
        NULL WHILE condition -> not TRUE -> loop never entered)."""
        spark.conf.set("spark.sql.scripting.enabled", "true")
        script = """
        BEGIN
          DECLARE cutoff BIGINT DEFAULT 0;
          DECLARE rounds INT DEFAULT 0;
          SET cutoff = (SELECT MAX(CAST(FLOOR(p * 100.0 + 0.5) AS BIGINT))
                        FROM tiny_orders);
          WHILE cutoff > 0
                AND (SELECT COUNT(*) FROM tiny_orders
                     WHERE CAST(FLOOR(p * 100.0 + 0.5) AS BIGINT)
                           >= cutoff) < 100 DO
            SET cutoff = cutoff - GREATEST(cutoff DIV 1000, 1);
            SET rounds = rounds + 1;
          END WHILE;
          SELECT COUNT(*) AS n, cutoff AS cutoff_cents, rounds AS n_rounds
          FROM tiny_orders
          WHERE CAST(FLOOR(p * 100.0 + 0.5) AS BIGINT) >= cutoff;
        END
        """
        spark.createDataFrame(
            [(0.05,), (0.02,), (0.01,)], "p DOUBLE"
        ).createOrReplaceTempView("tiny_orders")
        row = spark.sql(script).collect()[0]
        # 3 rows can never reach 100: the loop must run the cutoff to 0
        # (max 5 cents -> 5 rounds of -1 after the DIV floor hits)
        assert row["cutoff_cents"] == 0 and row["n"] == 3
        assert row["n_rounds"] == 5

        spark.createDataFrame([], "p DOUBLE").createOrReplaceTempView(
            "tiny_orders"
        )
        row = spark.sql(script).collect()[0]
        assert row["n"] == 0 and row["n_rounds"] == 0
