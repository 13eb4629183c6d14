"""Degenerate-input behavior locked across strategy variants.

The embedding operators ship multiple physical strategies for one
logical query (exact cross-join / LSH-bucketed / broadcast brute-force,
operators/similarity.py). The rule these tests lock: the SAME logical
result regardless of which strategy runs —

* null or zero-norm embeddings never pair (a zero-norm cosine is 0/0 =
  NaN, which Spark's ``>=`` would PASS because NaN sorts above every
  double; numpy's IEEE compare would drop it — without the explicit
  ``~isnan`` filters the chosen strategy would change the pair set);
* a duplicated vector id never yields a self-pair (numpy triu pairing
  skips equal positions, not equal values);
* one Arrow batch may mix vector dimensions (per-dim stacking in
  _dot_seq_arrow where a single np.stack raises).

Reference analog: the reference computes each metric once per unordered
CSR edge (u < v, src/edge_metrics.cu) — self-pairs and degenerate rows
cannot occur by construction there; here they can, so they are tested.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from jaccard_ml_spark.operators.similarity import (
    _brute_pairs_broadcast,
    _score_pairs,
    cosine_dup_pairs,
    embedding_near_dup_pairs,
)
from jaccard_ml_spark.persist import release_persisted

VEC = T.StructType([
    T.StructField("vec_id", T.StringType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def _vectors(spark):
    # v1 ≈ v2 (near-dup), v3 orthogonal-ish, z zero-norm, n null
    rows = [
        ("v1", [1.0, 0.0, 0.0, 0.0]),
        ("v2", [0.99, 0.01, 0.0, 0.0]),
        ("v3", [0.0, 1.0, 0.0, 0.0]),
        ("z", [0.0, 0.0, 0.0, 0.0]),
        ("n", None),
    ]
    return spark.createDataFrame(rows, VEC)


def test_degenerate_embeddings_never_pair_any_strategy(spark):
    vecs = _vectors(spark)
    exact = cosine_dup_pairs(vecs, threshold=0.9).collect()
    exact_ids = {(r.id_a, r.id_b) for r in exact}
    assert exact_ids == {("v1", "v2")}

    # brute path directly (auto would pick it at this n anyway)
    brute = _brute_pairs_broadcast(vecs, 0.9, "vec_id", "embedding")
    assert {(r.id_a, r.id_b) for r in brute.collect()} == exact_ids

    # LSH path with pinned params (expert override keeps LSH selected)
    # brute_cutoff=0 defeats the small-n exact early-return so the
    # bucketed pairing + Arrow scoring actually run
    lsh = embedding_near_dup_pairs(vecs, threshold=0.9, dim=4,
                                   n_planes=2, n_tables=8, seed=7,
                                   brute_cutoff=0)
    assert {(r.id_a, r.id_b) for r in lsh.collect()} <= exact_ids
    release_persisted()


def test_duplicate_vector_id_yields_no_self_pair(spark):
    # same id twice: nothing upstream enforces uniqueness; both rows
    # land in every bucket their (identical) vector hashes to
    rows = [
        ("dup", [1.0, 0.0, 0.0, 0.0]),
        ("dup", [1.0, 0.0, 0.0, 0.0]),
        ("other", [0.0, 1.0, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, VEC)
    got = embedding_near_dup_pairs(vecs, threshold=0.9, dim=4,
                                   n_planes=2, n_tables=8, seed=7,
                                   brute_cutoff=0).collect()
    assert all(r.id_a != r.id_b for r in got)
    release_persisted()


def test_score_pairs_mixed_dims_in_one_batch(spark):
    # each PAIR is internally consistent but the two pairs differ in
    # dimension — they can share one Arrow batch
    vecs = spark.createDataFrame(
        [("a4", [1.0, 0.0, 0.0, 0.0]), ("b4", [1.0, 0.0, 0.0, 0.0]),
         ("a2", [0.0, 1.0]), ("b2", [0.0, 1.0])], VEC)
    cand = spark.createDataFrame(
        [("a4", "b4"), ("a2", "b2")], ["id_a", "id_b"])
    got = {(r.id_a, r.id_b): r.cosine
           for r in _score_pairs(cand, vecs, "vec_id",
                                 "embedding").collect()}
    assert got == {("a4", "b4"): 1.0, ("a2", "b2"): 1.0}


def test_ensure_generated_kwargs_json_roundtrip(tmp_path):
    """A non-JSON-stable kwarg (tuple) must not defeat the reuse check
    — the marker stores a list, the live call passes a tuple."""
    from jaccard_ml_spark.sources.generator import ensure_generated

    calls = []

    def gen_fn(out_dir, **kw):
        calls.append(kw)
        os.makedirs(out_dir, exist_ok=True)
        return {"ok": True}

    out = str(tmp_path / "d")
    ensure_generated(out, gen_fn, fracs=(0.1, 0.2), n=5)
    ensure_generated(out, gen_fn, fracs=(0.1, 0.2), n=5)
    assert len(calls) == 1, "tuple kwarg forced a spurious regenerate"
    # and a REAL change still regenerates
    ensure_generated(out, gen_fn, fracs=(0.1, 0.3), n=5)
    assert len(calls) == 2
    with open(os.path.join(out, "_GEN_DONE")) as f:
        assert json.load(f)["gen_kwargs"]["fracs"] == [0.1, 0.3]
