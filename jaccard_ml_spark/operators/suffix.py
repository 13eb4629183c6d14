"""Substring / containment dedup — the suffix-path (FIXTURES.md plants
turn-prefix duplicates whose plain Jaccard is low).

Scale design (no quadratic substring scan):

1. **Anchor sampling**: every char-k-gram of a document is hashed; a
   deterministic content-keyed sample (hash % mod == 0) is kept — a
   winnowing-style sketch. If A is a contiguous substring of B, every
   interior k-gram of A also occurs in B, so A's sampled anchor set is
   a SUBSET of B's: anchor-containment of true substrings is exactly
   1.0 → sampling loses no recall, only shrinks posting lists by ~mod×.
2. **Candidate generation**: posting-list containment join on anchors
   (operators/dedup.containment_pairs machinery).
3. **Exact verification**: candidates join back to the two texts;
   a JVM ``instr`` check confirms real substring containment (boundary
   k-grams make anchor-containment slightly optimistic, never
   pessimistic for |A| ≥ k).

Documents shorter than k chars get one anchor: the hash of their whole
normalized text. They pair only with identical normalized texts (every
gram of a longer text has exactly k chars), and all texts that
normalize to empty pair with each other. NULL texts get no anchors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jaccard_ml_spark.functions.text import normalize_text
from jaccard_ml_spark.operators.dedup import containment_pairs


def anchor_sets(docs: DataFrame, k_char: int = 24, mod: int = 8,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, items): content-keyed sampled char-k-gram hashes, one row per
    doc with a non-NULL text.

    A text shorter than ``k_char`` has one gram, its whole normalized
    text (``sequence(1, 0)`` is ``[1, 0]`` and both positions read the
    full string), so identical short texts share their one anchor.

    The normalized text is bound once per row as the outer lambda
    variable ``s`` of the gram loop. Projecting it as a column first is
    not enough: a filter pushed below this projection — by a caller, or
    inferred by Spark for an ``explode`` of ``items`` — re-inlines the
    column's expression into the per-position lambda, where it runs once
    per position (functions/text.py). As a lambda variable it runs once
    per row whatever is pushed down.

    Short-doc floor: a doc with fewer than ``4·mod`` k-grams keeps ALL
    its gram hashes (no sampling) — below that count the sampled set is
    empty with non-negligible probability ((1-1/mod)^g ≈ 75% for a
    24-50-char doc at mod=4), and a truncated sample gives no usable
    bound. Docs at or above the floor that still draw zero sampled
    anchors (P = (1-1/mod)^g ≤ (1-1/mod)^{4·mod} ≈ 1.3-1.7%) also keep
    all grams. Residual gap (documented, not hidden): an all-grams doc
    only candidates against docs whose anchor sets contain its grams —
    other all-grams (short) docs exactly, and SAMPLED (long) docs only
    via grams passing the sample rule. Short-contained-in-long recall
    therefore holds with probability 1-(1-1/mod)^g, approaching 1 only
    for g ≳ 4·mod; callers needing a differential guarantee must floor
    the contained side's length accordingly (the driver oracle in
    __spark_entry__ does). The exact-dedup md5 path still catches short
    exact copies.
    """
    grams = F.array_distinct(F.flatten(F.transform(
        F.array(normalize_text(F.col(text_col))),
        lambda s: F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.length(s) - F.lit(k_char - 1), F.lit(0))),
            lambda i: F.xxhash64(F.substring(s, i, k_char))),
    )))
    with_grams = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), grams.alias("_grams"))
    sampled = F.filter(F.col("_grams"),
                       lambda h: F.pmod(h, F.lit(mod)) == 0)
    items = F.when(
        (F.size("_grams") >= F.lit(4 * mod)) & (F.size(sampled) > 0),
        sampled,
    ).otherwise(F.col("_grams"))
    return with_grams.select("id", F.array_sort(items).alias("items"))


def substring_pairs(
    docs: DataFrame,
    k_char: int = 24,
    mod: int = 8,
    anchor_threshold: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring-containment pairs.

    Returns (id_small, id_big, containment, is_substring) where
    is_substring=1 means normalized text of id_small occurs verbatim
    inside id_big's. Candidates from anchor containment ≥ threshold
    (1.0 keeps full recall for |A| ≥ k_char); verification is exact.

    Verification checks BOTH orientations and re-orients the output:
    candidate orientation comes from anchor-set sizes, but a contained
    doc only a few chars shorter than its container often has an EQUAL
    sampled anchor set (every extra gram fails the mod filter with
    probability (1-1/mod)^extra), making the size tie-break fall to ids
    — verifying only that orientation would silently drop the pair
    whenever the id order disagrees with the true containment
    direction. Mutual containment (identical normalized texts) keeps
    the lower id as id_small.
    """
    anchors = anchor_sets(docs, k_char, mod, id_col, text_col)
    cands = containment_pairs(anchors, threshold=anchor_threshold)

    texts = docs.select(F.col(id_col).alias("_tid"),
                        normalize_text(F.col(text_col)).alias("_norm"))
    joined = (
        cands.select("id_small", "id_big", "containment")
        .join(texts.withColumnsRenamed(
            {"_tid": "id_small", "_norm": "_text_small"}), "id_small")
        .join(texts.withColumnsRenamed(
            {"_tid": "id_big", "_norm": "_text_big"}), "id_big")
        .withColumn("_s_in_b",
                    F.instr(F.col("_text_big"), F.col("_text_small")) > 0)
        .withColumn("_b_in_s",
                    F.instr(F.col("_text_small"), F.col("_text_big")) > 0)
    )
    keep_order = F.col("_s_in_b") | ~F.col("_b_in_s")
    return joined.select(
        F.when(keep_order, F.col("id_small")).otherwise(F.col("id_big"))
        .alias("id_small"),
        F.when(keep_order, F.col("id_big")).otherwise(F.col("id_small"))
        .alias("id_big"),
        "containment",
        (F.col("_s_in_b") | F.col("_b_in_s")).cast("long")
        .alias("is_substring"),
    )
