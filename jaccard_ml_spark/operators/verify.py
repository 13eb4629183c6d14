"""Exact Jaccard verification of candidate pairs.

The reference computes exact |N(u)∩N(v)| for every edge with one of its
intersection kernels (SURVEY §2.3); we compute the exact shingle-set
intersection only for LSH candidates, with ``array_intersect`` over the
sorted hash arrays — a JVM-codegen sort-merge intersection, i.e. the
same two-pointer merge as ``edge_based_on_device``
(``/root/reference/src/edge_metrics.cu:695-711``), minus the CUDA.

Two joins: the candidate pairs join the sets table on id_a and then on
id_b. Without a broadcast both are sort-merge joins that exchange the
full sets table. Two layouts that remove or shrink that exchange were
measured at 45M turns and lost to it (SCALE_NOTES round 5): an
id-bucketed sets checkpoint (scaling efficiency 0.566 against 0.669)
and a broadcast semi-join of the candidate ids onto the sets side
(0.425), which re-evaluates the candidate subtree or pays to persist
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def verify_pairs(
    pairs: DataFrame,
    sets_df: DataFrame,
    threshold: float,
    id_col: str = "id",
    items_col: str = "items",
    keep_below_threshold: bool = False,
) -> DataFrame:
    """(id_a, id_b) candidates → (id_a, id_b, intersection, size_a, size_b,
    jaccard), filtered to jaccard ≥ threshold unless asked otherwise.

    fp64 division; the reference's fp32 + 1e-3 tolerance
    (src/utils.cuh:655) is strictly looser.
    """
    sets = sets_df.select(F.col(id_col).alias("_vid"),
                          F.col(items_col).alias("_vitems"))
    joined = (
        pairs
        .join(sets.withColumnsRenamed(
            {"_vid": "id_a", "_vitems": "_items_a"}), "id_a")
        .join(sets.withColumnsRenamed(
            {"_vid": "id_b", "_vitems": "_items_b"}), "id_b")
    )
    out = (
        joined
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("_items_a", "_items_b"))
            .alias("intersection"),
            F.size("_items_a").alias("size_a"),
            F.size("_items_b").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("intersection").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
        )
    )
    if not keep_below_threshold:
        out = out.where(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "intersection", "size_a", "size_b",
                      "jaccard")
