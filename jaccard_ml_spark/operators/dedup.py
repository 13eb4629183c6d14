"""Exact deduplication and containment detection.

Exact dedup: hash-groupBy on the full text digest — one shuffle on
md5(text), the degenerate J=1.0 case of the pipeline (and the cheapest
first pass of any training-data dedup: remove byte-identical docs
before the fuzzy passes).

Containment: shingle-containment score c(A→B) = |A∩B| / |A| via the
posting join — the asymmetric cousin of Jaccard (a turn-prefix
conversation has c≈1 into its superset but low J, FIXTURES.md §1).
Exact, scalable (same shuffle shape as setsim), and SQL-replicable —
unlike raw substring search, which needs the suffix-array path
(operators/suffix.py) at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jaccard_ml_spark.operators.setsim import (
    pair_intersections,
    sized_postings,
)


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, text_md5, group_size, canonical_id, is_duplicate).

    canonical_id = min doc_id among byte-identical texts; rows with
    is_duplicate=1 are droppable. Window over the digest — one shuffle.
    """
    w = Window.partitionBy("text_md5")
    return (
        docs.select(F.col(id_col).alias("doc_id"),
                    F.md5(F.col(text_col)).alias("text_md5"))
        .withColumn("group_size", F.count("*").over(w).cast("long"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn(
            "is_duplicate",
            (F.col("doc_id") != F.col("canonical_id")).cast("long"))
        .select("doc_id", "text_md5", "group_size", "canonical_id",
                "is_duplicate")
    )


def containment_pairs(
    sets_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "id",
    items_col: str = "items",
) -> DataFrame:
    """Pairs where the smaller set is ≥ threshold contained in the other.

    (id_small, id_big, intersection, size_small, size_big, containment)
    with containment = |∩| / size_small. Both orientations are checked;
    the row is emitted with the *contained* set first.
    """
    inter = pair_intersections(sized_postings(sets_df, id_col, items_col))
    small_first = inter.select(
        F.when(F.col("size_a") <= F.col("size_b"), F.col("id_a"))
        .otherwise(F.col("id_b")).alias("id_small"),
        F.when(F.col("size_a") <= F.col("size_b"), F.col("id_b"))
        .otherwise(F.col("id_a")).alias("id_big"),
        "intersection",
        F.least("size_a", "size_b").alias("size_small"),
        F.greatest("size_a", "size_b").alias("size_big"),
    ).withColumn(
        "containment",
        F.col("intersection").cast("double") / F.col("size_small"),
    )
    return small_first.where(F.col("containment") >= threshold)
