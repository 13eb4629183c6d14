"""Exact pairwise set-similarity over a table of (id, items) sets.

This is the DataFrame form of the reference's set-intersection kernels
(SURVEY §2.3): semantically, every Jaccard kernel joins two sorted
neighbor lists and counts matches. Here the *posting-list self-join*
plays that role:

    explode(items) → (id, |set|, item) postings  (sizes ride along
        into the grouping keys: no pass joins them back)
    postings ⋈ postings ON item, id_a < id_b     (the compute-once
        tie-break of /root/reference/src/edge_metrics.cu:42-44, reborn
        as canonical pair ordering)
    groupBy(id_a, id_b, size_a, size_b) → |∩|   (partial+final agg —
        the warpReduce of /root/reference/src/gpu_utils.cu:59-65 is
        Spark's map-side combine)

Scale note: all-pairs posting joins are O(Σ df(item)²) and explode on hot
items — this operator is the *oracle / verify-everything* baseline (the
`.corr.bin` generator analog). The scale path generates candidates with
MinHash/LSH first (operators/candidates.py) and verifies only candidates
(operators/verify.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jaccard_ml_spark.functions import metrics as M


def posting_lists(sets_df: DataFrame, id_col: str = "id",
                  items_col: str = "items") -> DataFrame:
    """(id, items array) → exploded (id, item) postings, deduplicated."""
    return sized_postings(sets_df, id_col, items_col).select("id", "item")


def sized_postings(sets_df: DataFrame, id_col: str = "id",
                   items_col: str = "items") -> DataFrame:
    """(id, set_size, item): one row per distinct item of each set,
    carrying the set's cardinality — one scan of the input feeds both.

    ``explode`` takes an expression, not a column attribute: for an
    attribute input Spark infers ``size(x) > 0 AND isnotnull(x)`` and
    pushes it below the caller's projections, where it re-runs whatever
    computes ``items`` (the whole gram loop of suffix.anchor_sets).
    """
    return (
        sets_df
        .select(F.col(id_col).alias("id"),
                F.size(F.array_distinct(items_col)).alias("set_size"),
                F.col(items_col).alias("_items"))
        .select("id", "set_size",
                F.explode(F.array_distinct("_items")).alias("item"))
    )


def set_sizes(sets_df: DataFrame, id_col: str = "id",
              items_col: str = "items") -> DataFrame:
    return sets_df.select(
        F.col(id_col).alias("id"),
        F.size(F.array_distinct(items_col)).alias("set_size"),
    )


def size_window_filter(sets_df: DataFrame, lo: int, hi: int,
                       id_col: str = "id",
                       items_col: str = "items") -> DataFrame:
    """Keep sets whose cardinality lies in [lo, hi] — the reference's
    degree-window bin predicate (F2/F3: vertices are binned by degree
    range and each kernel processes one window,
    /root/reference/src/edge_metrics_binning.cu:45-63). As a pre-pair
    filter it is also the standard Jaccard size-ratio prune: J(A,B) ≥ t
    implies |A|/|B| ∈ [t, 1/t], so windowing the corpus before pairing
    discards pairs no threshold query could return. Pushed to the scan
    when ``items`` comes straight from parquet."""
    sz = F.size(F.array_distinct(items_col))
    return sets_df.where((sz >= F.lit(lo)) & (sz <= F.lit(hi)))


def pair_intersections(post: DataFrame, *aggs) -> DataFrame:
    """Posting self-join → (id_a, id_b, size_a, size_b, intersection,
    *aggs), one row per unordered pair sharing ≥1 item, id_a < id_b.

    ``post`` is :func:`sized_postings` output, optionally with per-item
    columns that ``aggs`` read from the a side. Set sizes ride through
    the join and the grouping keys, so no caller joins them back.
    """
    a = post.withColumnsRenamed({"id": "id_a", "set_size": "size_a"})
    b = post.select(F.col("id").alias("id_b"),
                    F.col("set_size").alias("size_b"),
                    F.col("item").alias("item_b"))
    return (
        a.join(b, (a.item == b.item_b) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("intersection"), *aggs)
    )


def pairwise_metrics(
    sets_df: DataFrame,
    id_col: str = "id",
    items_col: str = "items",
    metrics: tuple = M.METRIC_NAMES,
    min_intersection: int = 1,
) -> DataFrame:
    """All 7 reference metrics for every pair of sets sharing ≥1 item.

    Returns (id_a, id_b, intersection, size_a, size_b, <metrics...>),
    one row per unordered pair, id_a < id_b. Pairs with empty
    intersection are not emitted (the reference likewise only scores
    graph edges — pairs already known to touch).

    AA/RA document frequencies are computed from *this* collection:
    df(item) = number of sets containing item, which on symmetric
    adjacency sets equals the reference's deg(w) exactly.
    """
    post = sized_postings(sets_df, id_col, items_col)

    aggs = []
    if any(m in M.WEIGHTED_METRICS for m in metrics):
        freq = post.groupBy("item").agg(F.count("*").alias("df"))
        post = post.join(freq, "item")
        aggs = [F.sum(1.0 / F.log("df")).alias("_aa"),
                F.sum(1.0 / F.col("df")).alias("_ra")]
    out = pair_intersections(post, *aggs)
    if min_intersection > 1:
        out = out.where(F.col("intersection") >= min_intersection)

    i, sa, sb = F.col("intersection"), F.col("size_a"), F.col("size_b")
    for m in metrics:
        if m == "adamic_adar":
            out = out.withColumn(m, F.col("_aa"))
        elif m == "resource_alloc":
            out = out.withColumn(m, F.col("_ra"))
        else:
            out = out.withColumn(m, M.SIZE_ONLY_METRICS[m](i, sa, sb))
    return out.select(
        "id_a", "id_b", "intersection", "size_a", "size_b", *metrics
    )


def exact_jaccard_pairs(
    sets_df: DataFrame,
    threshold: float,
    id_col: str = "id",
    items_col: str = "items",
) -> DataFrame:
    """All pairs with exact Jaccard ≥ threshold → (id_a, id_b, jaccard).

    Size-based pruning: a pair can only reach J ≥ t if
    |∩| ≥ t/(1+t) · (|A|+|B|), applied after the count (cheap) — and the
    posting join inherits Catalyst's sort-merge/broadcast choice (the
    reference's build-side selection J4 is automatic here).
    """
    return (
        pair_intersections(sized_postings(sets_df, id_col, items_col))
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
