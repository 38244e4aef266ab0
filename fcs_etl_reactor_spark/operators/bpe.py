"""Iterative BPE merge training (tokenizer training, SURVEY.md §2.11):
learn the top-k merge rules from a corpus as k bounded Spark jobs.

Each round is q8j's pair-count job (over the DISTINCT word table,
weighted by word frequency) plus an argmax and a vectorized re-merge.
State between rounds is the segmented vocabulary — |vocab| rows, each
a short symbol array — NOT the corpus; the corpus is read exactly once
to build word counts. At 100 TB the word-count build is the only
corpus-scale stage; every merge round then runs on the vocabulary
table (millions of rows, not trillions).

Determinism: the winning pair each round is (count DESC, pair ASC) —
a total order, so the learned merge sequence is reproducible on any
partitioning (asserted against a pure-Python reference in tests).

The merge rewrite is a single aggregate() left-fold expression per
word, no Python. Driver-side per round: ONE row (the argmax pair) —
the same bounded-collect pattern as dedup_clusters' convergence test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """(pair, cnt) over segmented vocab rows (symbols ARRAY<STRING>,
    n BIGINT), weighted by word count; adjacent duplicates all count."""
    pairs = vocab.filter(F.size("symbols") >= 2).select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("symbols") - 2),
                lambda i: F.concat(
                    F.element_at("symbols", i + 1),
                    F.lit(" "),
                    F.element_at("symbols", i + 2),
                ),
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(F.sum("n").alias("cnt"))


def _merge_symbols(a: str, b: str) -> Column:
    """Fold symbols left-to-right, joining each adjacent (a, b) into
    ab — leftmost-first, non-overlapping (the standard BPE
    re-segmentation). No lookahead marker is needed: a freshly merged
    token is concat(a, b), which can never equal the left symbol `a`
    again (b is nonempty), so it cannot chain into an overlapping
    merge within the same round."""
    la, lb, lab = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        "symbols",
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lab)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(df: DataFrame, text_col: str, n_merges: int = 8) -> list[tuple[int, str, str]]:
    """Learn n_merges BPE rules; returns [(rank, left, right)]."""
    wc = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # LAZY checkpoint per round, as in dedup_clusters: the round's
    # argmax collect is the materializing action (one stage reads the
    # vocab), and the next round's merge reads the stored blocks — so
    # the corpus and each round's vocab are computed exactly once.
    # array_remove: Spark's zero-width split keeps a trailing empty
    # match — an empty symbol would later surface as a phantom pair
    vocab = wc.select(
        F.array_remove(F.split(F.col("term"), "(?!^)"), "").alias("symbols"), "n"
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str]] = []
    for rank in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .collect()
        )  # bounded: exactly one row
        if not top:
            break
        a, b = top[0]["pair"].split(" ")
        merges.append((rank, a, b))
        vocab = vocab.select(
            _merge_symbols(a, b).alias("symbols"), "n"
        ).localCheckpoint(eager=False)
    return merges
