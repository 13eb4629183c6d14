"""jaccard_ml_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch reimplementation of the *semantics* of the reference
``moghun/Jaccard-ML`` (exact per-pair Jaccard over sets, computed once per
unordered pair, with skew-aware work distribution — see
``/root/reference/src/metric_formulas.h:4-10`` for the formula and
``/root/reference/src/edge_metrics_binning.cu:45-63`` for the degree-binning
idea), re-expressed as an idiomatic Spark DataFrame pipeline:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      → assemble (stable turn ordering)
      → normalize + k-shingle + hash + MinHash  (one fused Arrow mapInPandas)
      → LSH band buckets → candidate pairs      (skew-aware salted self-join)
      → exact Jaccard verification              (array_intersect, JVM codegen)
      → connected components                    (small-star/large-star joins)
      → clusters + lineage + metrics tables

Everything here derives from public knowledge only: the Apache Spark API,
the reference repo's observable behavior, and published papers (Broder '97
MinHash, Leskovec/Rajaraman/Ullman MMDS ch.3 LSH, Kiveris et al. '14
"Connected Components in MapReduce and Beyond" for small-star/large-star).
"""

from jaccard_ml_spark.config import DedupConfig

__all__ = ["DedupConfig", "get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # get_spark is resolved on first use (PEP 562) so that importing the
    # package does not import pyspark: the Python worker daemon
    # (``_daemon``) imports this package before it may import pyspark.
    if name == "get_spark":
        from jaccard_ml_spark.session import get_spark
        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
