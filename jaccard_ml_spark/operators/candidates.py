"""LSH candidate-pair generation with explicit skew handling.

This is the reference's degree-aware work distribution reborn
(SURVEY §4.4). The reference bins vertices by degree range
(``/root/reference/src/edge_metrics_binning.cu:45-63``) and launches a
differently-parameterized kernel per bin; we bin LSH buckets by
cardinality and give each class its own pairing strategy:

  normal  (size ≤ c0)   plain self-join within the bucket
  hot     (c0 < size ≤ c1)  salted triangle pairing: members get a
          deterministic salt in [0,S); pairs are generated inside
          salt-blocks (p,q), p ≤ q, so one boilerplate bucket spreads
          over S(S+1)/2 tasks instead of drowning one task — the
          (g, a) search-group/assembly idea of the reference
          (README.md:72) mapped to shuffle parallelism
  mega    (size > c1)   band splitting: the band hash is too coarse
          (the bucket is boilerplate-driven); members are re-bucketed
          with rows_per_band + Δ signature rows — the reference's
          fallback-kernel-when-SM-overflows move
          (/root/reference/src/main.cu:313-323)

All salts are deterministic functions of conv_id, so candidate sets are
identical at any parallelism level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.functions.hashing import band_hash_cols, minhash_udf
from jaccard_ml_spark.persist import persist


def minhash_signatures(sets_df: DataFrame, cfg: DedupConfig,
                       id_col: str = "id",
                       items_col: str = "items") -> DataFrame:
    """(id, items) → (id, set_size, signature)."""
    mh = minhash_udf(cfg.num_perm, cfg.minhash_seed)
    return sets_df.select(
        F.col(id_col).alias("id"),
        F.size(items_col).alias("set_size"),
        mh(F.col(items_col)).alias("signature"),
    ).where(F.col("signature").isNotNull())


def lsh_buckets(signatures: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, signature) → (band_id, bucket_hash, id), one row per band.

    Deliberately slim — 24 bytes/row. Carrying the 128-long signature
    array through the bucket exchanges multiplies shuffle volume ~40×
    (measured 50s+69s → ~5s at 3.8M bucket rows); stages that need the
    signature (mega-bucket band splitting) join it back by id for the
    few rows involved.
    """
    return (
        signatures
        .select(
            "id",
            F.posexplode(
                band_hash_cols(F.col("signature"), cfg.bands,
                               cfg.rows_per_band)
            ).alias("band_id", "bucket_hash"),
        )
        .select("band_id", "bucket_hash", "id")
    )


def bucket_stats(buckets: DataFrame) -> DataFrame:
    """Per-bucket cardinality — the degree-histogram analog
    (/root/reference/src/utils.cuh:326-367) that drives strategy choice."""
    return buckets.groupBy("band_id", "bucket_hash").agg(
        F.count("*").alias("bucket_size"))


def _pairs_from_members(grouped: DataFrame) -> DataFrame:
    """All within-bucket pairs generated JVM-side from the sorted member
    array — zero additional exchanges (the groupBy already co-located
    each bucket). Bounded by the normal-class cap c0 → ≤ c0·(c0−1)/2
    pairs per row."""
    m = F.col("members")
    pair_structs = F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(m) - 1),
        lambda i: F.transform(
            F.slice(m, i + 1, F.size(m)),
            lambda y: F.struct(F.element_at(m, i).alias("id_a"),
                               y.alias("id_b")),
        ),
    ))
    return grouped.select(F.explode(pair_structs).alias("_p")).select(
        F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))


def _salted_pairs(buckets: DataFrame, salt_factor: int) -> DataFrame:
    """Triangle-block pairing for hot buckets.

    Member with salt s joins block (p=s, q) for q ≥ s on the A side and
    block (p, q=s) for p ≤ s on the B side; block (p, p) pairs within
    one salt class. Every unordered pair appears in exactly one block.
    """
    S = salt_factor
    with_salt = buckets.withColumn(
        "salt", F.pmod(F.xxhash64("id", F.lit("salt")), F.lit(S)).cast("int"))

    a_side = with_salt.select(
        "band_id", "bucket_hash", F.col("id").alias("id_a"), "salt"
    ).withColumn("q", F.explode(F.sequence(F.col("salt"), F.lit(S - 1)))) \
     .select("band_id", "bucket_hash", "id_a",
             F.col("salt").alias("p"), "q")

    b_side = with_salt.select(
        "band_id", "bucket_hash", F.col("id").alias("id_b"), "salt"
    ).withColumn("p", F.explode(F.sequence(F.lit(0), F.col("salt")))) \
     .select("band_id", "bucket_hash", "id_b", "p",
             F.col("salt").alias("q"))

    # p < q blocks: one orientation per unordered pair already (A side
    # carries salt p members, B side salt q members) → canonicalize with
    # least/greatest. p == q blocks: the self-join yields both
    # orientations → keep id_a < id_b only.
    return (
        a_side.join(b_side, ["band_id", "bucket_hash", "p", "q"])
        .where((F.col("p") != F.col("q"))
               | (F.col("id_a") < F.col("id_b")))
        .where(F.col("id_a") != F.col("id_b"))
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"))
    )


def _band_split_buckets(mega: DataFrame, signatures: DataFrame,
                        cfg: DedupConfig) -> DataFrame:
    """Re-bucket mega-bucket members with a finer (longer) band hash.

    Uses rows_per_band + band_split_extra_rows signature rows starting at
    the band's offset. The start is clamped so the slice NEVER runs off
    the signature end: for the last band an end-clamped slice would
    cover exactly the original band rows again — the refined hash would
    equal the original mega bucket and the split would be a no-op on
    1/bands of mega buckets (the pathology splitting exists to prevent).
    Clamping the start instead pulls the extra rows from the preceding
    band, so the refined hash always covers rows outside the original
    band. Emitted with a shifted band_id namespace so refined buckets
    never merge with originals. Signatures are joined back by id — mega
    membership is tiny by construction, so this join touches few rows.
    """
    r, extra = cfg.rows_per_band, cfg.band_split_extra_rows
    start = F.greatest(
        F.lit(1), F.least(F.col("band_id") * r + 1,
                          F.lit(cfg.num_perm - (r + extra) + 1)))
    with_sig = mega.select("band_id", "id").join(
        signatures.select("id", "signature"), "id")
    return with_sig.select(
        (F.col("band_id") + F.lit(cfg.bands)).alias("band_id"),
        F.xxhash64(
            F.slice(F.col("signature"), start, r + extra),
            F.col("band_id"),
        ).alias("bucket_hash"),
        "id",
    )


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig,
                    auto_tune: bool = False,
                    tuned: dict | None = None,
                    signatures_persisted: bool = False,
                    storage_level=None) -> DataFrame:
    """LSH candidate pairs (id_a, id_b), skew-aware, exactly-once.

    Returns distinct canonical pairs. The union of three strategies by
    bucket class; `distinct()` collapses pairs found by several bands
    (it is the compute-once tie-break F1 of the reference in shuffle
    form).

    ``auto_tune=True`` derives the skew knobs (c0, salt factor, c1,
    extra rows) from the OBSERVED bucket-size histogram instead of the
    static config — the reference's stats→config model
    (operators/autotune.py). The histogram scan reads the already-
    persisted fan-out table, so tuning costs one in-memory aggregation;
    the chosen parameters are appended to ``tuned`` (if given) for the
    caller's metrics/lineage record.

    The bucket table is persisted at the strategy fan-out: the plan
    below it branches 5+ ways (stats join, three pairing strategies,
    refined re-hash), and Catalyst does not CSE across branches — an
    unpersisted bucket table re-runs the MinHash UDF once per branch
    (measured 48 Arrow evals in the naive plan). On a production
    cluster this is the checkpointed signature/bucket Iceberg table.
    Its persists (and the signature one below) register with
    ``persist.release_persisted`` at ``storage_level`` (None: Spark's
    default tier).
    """
    if not signatures_persisted:
        # mega-bucket band splitting joins signatures back by id; keep
        # them warm so the (rare) branch doesn't recompute the UDF.
        # ``signatures_persisted=True`` (the fused-pipeline path) means
        # the caller's cache already holds the signature column — a
        # second persist would duplicate ~1 KB/conversation of cache
        # and, worse, at a DIFFERENT storage tier than the caller's
        # pinned one (the N-vs-4N tier asymmetry BENCH/scaling.py
        # guards against).
        signatures = persist(signatures, storage_level)
    buckets = lsh_buckets(signatures, cfg)
    # ONE exchange: group each bucket's members together. Everything
    # below works on the grouped table — within-bucket pairs are
    # generated JVM-side from the member array (no self-joins, which
    # would each re-exchange the full bucket table per strategy branch;
    # measured 6×236 MB of redundant shuffles in the join formulation).
    grouped = buckets.groupBy("band_id", "bucket_hash").agg(
        F.sort_array(F.collect_list("id")).alias("members"),
        F.count("*").alias("bucket_size"),
    )
    # persisted: the strategy branches below share this subtree, and
    # a cold cache races under AQE (branches each materialize it).
    # Materialization rides on the first driver aggregate below
    # (auto-tune histogram or strategy-class probe) — an aggregate
    # computes every partition, populating the cache in the same
    # job, so no separate eager count() barrier is paid.
    grouped = persist(grouped, storage_level)

    if auto_tune:
        from jaccard_ml_spark.operators.autotune import (
            bucket_size_histogram,
            derive_skew_params,
        )
        params = derive_skew_params(bucket_size_histogram(grouped), cfg)
        cfg = params.apply(cfg)
        if tuned is not None:
            tuned.update(params.to_dict())

    c0, c1 = cfg.salt_threshold_c0, cfg.band_split_c1

    # Strategy-branch pruning. The hot and mega classes are RARE by
    # construction (they exist to absorb boilerplate skew); on clean
    # corpora their branches are empty — but an empty branch still
    # costs real wall time per job: each union arm is its own shuffle
    # stage, and every extra stage pays scheduler dispatch plus up to
    # `spark.locality.wait` of delay-scheduling latency on executors
    # that hold no local data (measured 3-4 s PER near-empty stage on
    # the scaling harness, ~20 s per run across the five arms). One
    # tiny aggregate on the already-persisted fan-out table tells us
    # which classes exist.
    cls = grouped.select(
        F.sum(((F.col("bucket_size") > c0)
               & (F.col("bucket_size") <= c1)).cast("long"))
        .alias("n_hot"),
        F.sum((F.col("bucket_size") > c1).cast("long")).alias("n_mega"),
    ).first()
    has_hot = bool(cls.n_hot)
    has_mega = bool(cls.n_mega)

    normal = grouped.where(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= c0))
    pairs = _pairs_from_members(normal)

    if has_hot:
        hot = grouped.where(
            (F.col("bucket_size") > c0) & (F.col("bucket_size") <= c1)
        ).select("band_id", "bucket_hash",
                 F.explode("members").alias("id"))
        pairs = pairs.unionByName(_salted_pairs(hot, cfg.salt_factor))

    if has_mega:
        mega = grouped.where(F.col("bucket_size") > c1).select(
            "band_id", "bucket_hash", F.explode("members").alias("id"))
        # refined mega buckets: size-1 refined buckets drop out
        # naturally; genuinely identical texts still pair because their
        # refined hashes agree on every row
        refined = _band_split_buckets(mega, signatures, cfg)
        refined_grouped = refined.groupBy("band_id", "bucket_hash").agg(
            F.sort_array(F.collect_list("id")).alias("members"),
            F.count("*").alias("bucket_size"),
        )
        refined_normal = refined_grouped.where(
            (F.col("bucket_size") > 1) & (F.col("bucket_size") <= c0))
        refined_hot = refined_grouped.where(
            F.col("bucket_size") > c0
        ).select("band_id", "bucket_hash",
                 F.explode("members").alias("id"))
        pairs = pairs.unionByName(_pairs_from_members(refined_normal))
        pairs = pairs.unionByName(
            _salted_pairs(refined_hot, cfg.salt_factor))

    return pairs.distinct()
