"""The near-duplicate stage graph, defined once.

    conversations → sets (fused shingle+MinHash) → candidates (LSH,
    skew-aware) → pairs (exact-Jaccard verify, threshold) → clusters
    (connected components + assignment)

``dedup_stages`` wires the graph. Every stage goes through a
``materialize(name, build)`` step that the executor supplies:

* ``dedup_pipeline`` and ``dedup_documents`` persist the sets and pairs
  tables in memory and leave the other stages lazy;
* ``plans.resumable.run_resumable_dedup`` passes
  ``CheckpointStore.stage``, which writes every stage and resumes after
  the last completed one.

The sets stage is one Arrow pass that returns (id, items, set_size,
signature): the shingle arrays, the widest column, cross the
JVM↔Python boundary once, and the signatures are a projection of the
same table (functions/shingle_arrow.py: fused_shingle_minhash).

Shuffle census at scale (SURVEY §3.4): (1) groupBy conv_id for assembly,
(2) band-bucket exchange, (3) candidate distinct, (4+5) verify joins on
id_a/id_b, (6..6+2k) CC rounds. Shingling, MinHash and band hashing are
shuffle-free map stages.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.functions.shingle_arrow import (
    add_shingle_hash_sets_arrow,
    fused_shingle_minhash,
)
from jaccard_ml_spark.operators.assemble import assemble_conversations
from jaccard_ml_spark.operators.candidates import candidate_pairs
from jaccard_ml_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)
from jaccard_ml_spark.operators.verify import verify_pairs
from jaccard_ml_spark.persist import persist

Materialize = Callable[[str, Callable[[], DataFrame]], DataFrame]


@dataclass
class DedupResult:
    conversations: DataFrame   # conv_id, text (+ n_turns, turns)
    shingle_sets: DataFrame    # id, items, set_size, signature
    signatures: DataFrame      # id, set_size, signature
    candidates: DataFrame      # id_a, id_b
    pairs: DataFrame           # id_a, id_b, intersection, sizes, jaccard
    clusters: DataFrame        # id, cluster_id


def shingle_sets_from_conversations(conversations: DataFrame,
                                    cfg: DedupConfig) -> DataFrame:
    """(conv_id, text) → (id, items) on the Arrow shingle path, without
    MinHash: the input of the exact set-similarity operators and of
    the incremental path."""
    base = conversations.select(F.col("conv_id").alias("id"), "text")
    return add_shingle_hash_sets_arrow(base, "text", cfg.k_shingle).select(
        "id", "items")


def dedup_stages(conversations: Callable[[], DataFrame], cfg: DedupConfig,
                 materialize: Materialize, storage_level=None,
                 auto_tune: bool = False,
                 tuned: dict | None = None) -> DedupResult:
    """Run the stage graph from a (conv_id, text) builder.

    ``materialize(name, build)`` receives each stage's name
    (conversations, sets, candidates, pairs, clusters) and a zero-arg
    builder, and returns the table the later stages read.
    ``storage_level`` is the tier of the persists inside
    ``candidate_pairs``; ``auto_tune``/``tuned`` are passed to it.
    """
    conv = materialize("conversations", conversations)
    sets = materialize("sets", lambda: fused_shingle_minhash(
        conv.select(F.col("conv_id").alias("id"), "text"), "text",
        cfg.k_shingle, cfg.num_perm, cfg.minhash_seed))
    signatures = (sets.select("id", "set_size", "signature")
                  .where(F.col("signature").isNotNull()))
    # the sets stage is materialized, so candidate_pairs must not
    # persist the signature projection a second time
    cands = materialize("candidates", lambda: candidate_pairs(
        signatures, cfg, auto_tune=auto_tune, tuned=tuned,
        signatures_persisted=True, storage_level=storage_level))
    pairs = materialize("pairs", lambda: verify_pairs(
        cands, sets, cfg.jaccard_threshold))
    clusters = materialize("clusters", lambda: assign_clusters(
        sets, connected_components(pairs, cfg.cc_max_iterations)))
    return DedupResult(conv, sets, signatures, cands, pairs, clusters)


def _in_memory(storage_level) -> Materialize:
    """Persist the two tables read more than once — sets (signatures,
    both verify sides, cluster assignment) and pairs (every CC round,
    and the caller) — and leave the other stages lazy."""
    def materialize(name, build):
        df = build()
        if name in ("sets", "pairs"):
            df = persist(df, storage_level)
        return df
    return materialize


def dedup_pipeline(transcripts: DataFrame, cfg: DedupConfig,
                   storage_level=None) -> DedupResult:
    """Assemble transcripts and run the stage graph in memory.

    The sets and pairs persists register with
    ``persist.release_persisted``. ``storage_level`` sets the tier of
    EVERY persist in the graph (default: Spark's MEMORY_AND_DISK).
    Pass ``pyspark.StorageLevel.DISK_ONLY`` when comparing cluster sizes
    whose caches would be memory-resident at one size and spilled at
    the other: that measures the storage tier, not compute scaling
    (BENCH/scaling.py).
    """
    return dedup_stages(
        lambda: assemble_conversations(transcripts, cfg.text_separator),
        cfg, _in_memory(storage_level), storage_level)


def dedup_documents(docs: DataFrame, cfg: DedupConfig,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DedupResult:
    """The stage graph for a flat document table (no assembly)."""
    return dedup_stages(
        lambda: docs.select(F.col(id_col).alias("conv_id"),
                            F.col(text_col).alias("text")),
        cfg, _in_memory(None))
