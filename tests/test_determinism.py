"""Determinism gate (SURVEY.md §5.2-6): representative queries must
produce identical values under different shuffle partitioning — this
is what protects the driver's value-hash from float reduction-order
drift."""

import pytest

from fcs_etl_reactor_spark.queries import QUERIES
from fcs_etl_reactor_spark.testkit import value_hash
from tests.conftest import SF_SMALL

REPRESENTATIVE = [
    "q1_pricing_summary",
    "q21_dispersion",
    "q22_geomean",
    "q34_salted_agg",
    "q42_running_total",
    "q47_time_frames",
    "q4c_trimmed_mean",
    "q5c_span_dedup",
    "q6h_lsh_decontamination",
    "q8d_random_projection",
    "q8h_countmin",
    "q8i_chunking",
    "q8j_bpe_pair_counts",
    "q9f_streaming_upsert",
    "q81_tfidf",
    "q88_cosine_neardup",
    "q91_cosine_topk",
    "q97_sessionization",
]


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_partition_count_invariance(spark, name):
    fn = QUERIES[name]
    hashes = []
    for parts in ("3", "17"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        df = fn(spark, SF_SMALL)
        hashes.append(value_hash(df.collect(), df.columns))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert hashes[0] == hashes[1]
