"""Resumable end-to-end dedup job over the checkpoint store.

The stage graph of plans/pipeline.py with CheckpointStore.stage() as its
materialize step: every stage is written, and a killed job rerun with
the same root resumes after the last completed stage and produces
byte-identical output (the resume-equals-fresh invariant, SURVEY §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.operators.assemble import assemble_conversations
from jaccard_ml_spark.plans.checkpoint import CheckpointStore
from jaccard_ml_spark.plans.pipeline import dedup_stages


def run_resumable_dedup(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupConfig,
    checkpoint_root: str,
    run_id: str = "dedup",
    auto_tune: bool = False,
) -> dict[str, DataFrame]:
    """Execute (or resume) the pipeline; returns the stage tables.

    ``auto_tune=True`` derives the skew knobs from the observed
    bucket-size histogram (operators/autotune.py) and records the
    chosen parameters in the run's metrics table — the reference's
    parameters/experiment.json lineage record, derived instead of
    hand-picked.
    """
    store = CheckpointStore(spark, checkpoint_root, run_id)
    tuned: dict = {}
    res = dedup_stages(
        lambda: assemble_conversations(transcripts, cfg.text_separator),
        cfg, store.stage, auto_tune=auto_tune, tuned=tuned)
    for k, v in tuned.items():
        store.metric(f"autotune.{k}", float(v))

    store.metric("pairs.count", res.pairs.count())
    store.metric("clusters.count",
                 res.clusters.select("cluster_id").distinct().count())
    store.flush_tables()
    return dict(vars(res))
