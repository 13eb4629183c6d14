"""Checkpoint-resume (resume-equals-fresh) and multimodal plumbing."""

from __future__ import annotations

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
)
from jaccard_ml_spark.plans.resumable import run_resumable_dedup
from jaccard_ml_spark.sources.generator import generate_transcripts
from jaccard_ml_spark.sources.tables import read_transcripts

CFG = DedupConfig()


def _clusters(res):
    return sorted((r.id, r.cluster_id) for r in res["clusters"].collect())


def test_resume_equals_fresh(spark, tmp_path):
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=120, seed=11)
    tx = read_transcripts(spark, meta["transcripts"])

    fresh = run_resumable_dedup(spark, tx, CFG, str(tmp_path / "cp_fresh"))
    fresh_clusters = _clusters(fresh)

    # the checkpointed and the in-memory executor run one stage graph
    from jaccard_ml_spark.persist import release_persisted
    from jaccard_ml_spark.plans.pipeline import dedup_pipeline

    def _pairs(df):
        return sorted(tuple(r) for r in df.collect())

    mem = dedup_pipeline(tx, CFG)
    assert _pairs(fresh["pairs"]) == _pairs(mem.pairs)
    assert fresh_clusters == sorted(
        (r.id, r.cluster_id) for r in mem.clusters.collect())
    release_persisted()

    # simulate a killed job: run stages 1-2 only, then "restart"
    partial_root = str(tmp_path / "cp_partial")
    from jaccard_ml_spark.functions.shingle_arrow import (
        fused_shingle_minhash,
    )
    from jaccard_ml_spark.operators.assemble import assemble_conversations
    from jaccard_ml_spark.plans.checkpoint import CheckpointStore

    store = CheckpointStore(spark, partial_root)
    conv = store.stage("conversations",
                       lambda: assemble_conversations(tx, CFG.text_separator))
    store.stage("sets", lambda: fused_shingle_minhash(
        conv.select(conv.conv_id.alias("id"), "text"), "text",
        CFG.k_shingle, CFG.num_perm, CFG.minhash_seed))

    # restart: completed stages must be read, not recomputed
    resumed = run_resumable_dedup(spark, tx, CFG, partial_root)
    assert _clusters(resumed) == fresh_clusters

    # markers present for all 5 stages after the resumed run
    s2 = CheckpointStore(spark, partial_root)
    for st in ["conversations", "sets", "candidates", "pairs", "clusters"]:
        assert s2.has(st)


def test_bucketed_checkpoint_join_has_no_sets_side_exchange(
        spark, tmp_path):
    """Data-layout hook (reference O3, src/utils.cuh:406-492): the
    shingle-set checkpoint bucketed by id joins the pair table with NO
    exchange above the bucketed scan — only the slim pair side
    shuffles; the fat array side reads in place."""
    from pyspark.sql import functions as F

    from jaccard_ml_spark.plans.checkpoint import CheckpointStore

    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=80, seed=21)
    tx = read_transcripts(spark, meta["transcripts"])
    from jaccard_ml_spark.operators.assemble import assemble_conversations
    from jaccard_ml_spark.plans.pipeline import (
        shingle_sets_from_conversations,
    )

    conv = assemble_conversations(tx, CFG.text_separator)
    sets_df = shingle_sets_from_conversations(conv, CFG)

    store = CheckpointStore(spark, str(tmp_path / "cp"), run_id="bkt")
    bucketed = store.write_bucketed("s2_shingles", sets_df,
                                    bucket_cols=["id"], n_buckets=8,
                                    sort_cols=["id"])
    pairs = spark.createDataFrame(
        [(r.id,) for r in bucketed.select("id").limit(20).collect()],
        "id string")
    joined = bucketed.join(pairs.repartition(8, "id"), "id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the bucketed side must not re-shuffle: exactly the pair-side
    # exchange appears (hashpartitioning on the probe side only)
    assert "ckpt_bkt_s2_shingles" in plan
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, plan
    joined.count()


def test_resume_ignores_new_input(spark, tmp_path):
    """Completed stages win over changed input — snapshot semantics."""
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=60, seed=3)
    tx = read_transcripts(spark, meta["transcripts"])
    root = str(tmp_path / "cp")
    first = run_resumable_dedup(spark, tx, CFG, root)
    # different input, same checkpoint root → same result (resumed)
    meta2 = generate_transcripts(str(tmp_path / "tx2"), n_convs=30, seed=9)
    tx2 = read_transcripts(spark, meta2["transcripts"])
    second = run_resumable_dedup(spark, tx2, CFG, root)
    assert _clusters(second) == _clusters(first)


def test_multimodal_feature_extraction(spark):
    media = synthesize_media(spark, n=30)
    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 30
    by_id = {r.media_id: r for r in feats}
    assert all(len(r.feature) == 16 for r in feats)
    assert all(0.0 <= x <= 1.0 for r in feats for x in r.feature)
    # deterministic: same payload → same feature
    feats2 = {r.media_id: r for r in
              extract_features(synthesize_media(spark, n=30), 16).collect()}
    assert all(by_id[i].content_hash == feats2[i].content_hash
               for i in by_id)
    assert all(by_id[i].feature == feats2[i].feature for i in by_id)
