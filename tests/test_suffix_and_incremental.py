"""Substring/containment path and incremental (delta-batch) dedup."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.operators.suffix import substring_pairs
from jaccard_ml_spark.sources.generator import generate_transcripts
from jaccard_ml_spark.sources.tables import read_transcripts
from jaccard_ml_spark.streaming.incremental import incremental_dedup

CFG = DedupConfig()


def _expand_cached(df) -> str:
    """Physical plan string with every reachable InMemoryTableScan's
    cached plan inlined (recursively): plan assertions about what feeds
    a cached subtree must look THROUGH the cache boundary — toString()
    on the top plan stops at InMemoryTableScan nodes."""
    parts: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        parts.append(node.toString())
        if name == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        elif name == "AdaptiveSparkPlanExec":
            # children() is empty on the AQE wrapper; traverse the
            # pre-adaptive plan (same operators, no stage wrappers)
            walk(node.inputPlan())
        else:
            it = node.children().iterator()
            while it.hasNext():
                walk(it.next())

    walk(df._jdf.queryExecution().executedPlan())
    return "\n".join(parts)


def test_substring_pairs_finds_planted_prefix(spark, tmp_path):
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=200, seed=5)
    tx = read_transcripts(spark, meta["transcripts"])
    from jaccard_ml_spark.operators.assemble import assemble_conversations

    conv = assemble_conversations(tx).select(
        F.col("conv_id").alias("doc_id"), "text")
    found = substring_pairs(conv).where(F.col("is_substring") == 1)
    got = {(r.id_small, r.id_big) for r in found.collect()}

    import pandas as pd
    truth = pd.read_parquet(meta["truth_groups"])
    planted = {
        tuple([row.conv_id, row.group_id])
        for _, row in truth[truth.kind == "containment"].iterrows()
    }
    missing = {p for p in planted if p not in got}
    # full recall on planted prefix-duplicates
    assert not missing, f"missed containment plants: {sorted(missing)[:5]}"
    # and every reported substring really is one
    texts = {r.doc_id: r.text for r in conv.collect()}
    for a, b in got:
        na = re.sub(r"[^a-z0-9]+", " ", texts[a].lower()).strip()
        nb = re.sub(r"[^a-z0-9]+", " ", texts[b].lower()).strip()
        assert na in nb


def test_anchor_sets_never_drops_docs_with_grams(spark):
    """Empty-sample fallback (ADVICE r1): every doc with >= k_char
    normalized chars must keep a non-empty anchor set — short docs
    previously vanished with probability (1-1/mod)^grams."""
    from jaccard_ml_spark.operators.suffix import anchor_sets

    # 40 short docs of ~k_char+6 chars: ~2/5 would draw zero sampled
    # anchors at mod=8 without the fallback
    rows = [(i, f"short document num {i:02d} xx") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = anchor_sets(docs, k_char=24, mod=8)
    assert kept.count() == 40
    assert kept.where(F.size("items") == 0).count() == 0
    # exact copies among short docs always pair (identical anchor sets
    # whichever branch they took); texts shorter than k_char keep one
    # whole-text anchor, so identical ones pair too; NULL texts get no
    # anchors (both used to share xxhash64(NULL) and come out as a
    # swapped pair with a NULL is_substring)
    pair = spark.createDataFrame(
        [(100, "tiny contained payload text abc"),
         (101, "tiny contained payload text abc"),
         (102, "short"), (103, "Short."),
         (104, None), (105, None)],
        "doc_id long, text string")
    got = {(r.id_small, r.id_big, r.is_substring)
           for r in substring_pairs(pair).collect()}
    assert got == {(100, 101, 1), (102, 103, 1)}, got


def _regex_in_lambda(df) -> int:
    """Count regexp_replace calls inside a lambdafunction(...) of the
    optimized plan: each one is text normalization re-run per element
    of a higher-order-function loop."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    spans, start = [], plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        spans.append((start, end))
        start = plan.find("lambdafunction(", start + 1)
    return sum(any(a < m.start() < b for a, b in spans)
               for m in re.finditer("regexp_replace", plan))


def test_anchor_normalization_stays_out_of_gram_loop(spark):
    """Normalization runs once per doc, never once per k-gram position:
    neither the anchor join's inferred filters nor a caller's filter on
    ``items`` may pull it into the gram lambda, and each side of the
    anchor self-join runs the gram loop once."""
    from jaccard_ml_spark.operators.suffix import anchor_sets

    docs = spark.createDataFrame(
        [(1, "Some text, long enough for grams."), (2, None)],
        "doc_id long, text string")
    pairs = substring_pairs(docs)
    assert _regex_in_lambda(pairs) == 0
    assert _regex_in_lambda(anchor_sets(docs).where(F.size("items") > 0)) == 0
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("xxhash64(substring(") == 2, plan


def test_incremental_equals_batch(spark, tmp_path):
    """Splitting the corpus into two delta batches must give the same
    pairs and clusters as one batch run."""
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=240, seed=13)
    tx = read_transcripts(spark, meta["transcripts"])

    batch = incremental_dedup(tx, None, None, CFG)
    batch_pairs = {(r.id_a, r.id_b)
                   for r in batch["pairs"].select("id_a", "id_b").collect()}
    batch_clusters = sorted(
        (r.id, r.cluster_id) for r in batch["clusters"].collect())

    ids = sorted(r.conv_id for r in tx.select("conv_id").distinct().collect())
    half = set(ids[: len(ids) // 2])
    tx1 = tx.where(F.col("conv_id").isin(half))
    tx2 = tx.where(~F.col("conv_id").isin(half))

    step1 = incremental_dedup(tx1, None, None, CFG)
    step2 = incremental_dedup(tx2, step1["sets"], step1["pairs"], CFG,
                              prior_sigs=step1["sigs"],
                              prior_buckets=step1["buckets"])
    inc_pairs = {(r.id_a, r.id_b)
                 for r in step2["pairs"].select("id_a", "id_b").collect()}
    inc_clusters = sorted(
        (r.id, r.cluster_id) for r in step2["clusters"].collect())

    assert inc_pairs == batch_pairs
    assert inc_clusters == batch_clusters


def test_incremental_reads_standing_signatures(spark, tmp_path):
    """With prior_sigs provided, the MinHash UDF must run over the NEW
    batch only — the old side is read from the standing table (plan
    inspection: exactly one Python-eval node chain, fed by the delta)."""
    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=120, seed=7)
    tx = read_transcripts(spark, meta["transcripts"])
    ids = sorted(r.conv_id for r in tx.select("conv_id").distinct().collect())
    half = set(ids[: len(ids) // 2])
    tx1 = tx.where(F.col("conv_id").isin(half))
    tx2 = tx.where(~F.col("conv_id").isin(half))

    step1 = incremental_dedup(tx1, None, None, CFG)
    # materialize the standing tables the way the checkpoint store
    # does (parquet round-trip): batch 2's plan can then only reach
    # batch 1's data through clean scans, never batch 1's UDFs
    sets_p = str(tmp_path / "prior_sets")
    sigs_p = str(tmp_path / "prior_sigs")
    step1["sets"].write.parquet(sets_p)
    step1["sigs"].write.parquet(sigs_p)
    prior_sets = spark.read.parquet(sets_p)
    prior_sigs = spark.read.parquet(sigs_p)

    step2 = incremental_dedup(tx2, prior_sets, step1["pairs"], CFG,
                              prior_sigs=prior_sigs)
    n_new = tx2.select("conv_id").distinct().count()
    plan = step2["sigs"]._jdf.queryExecution().executedPlan().toString()
    # Structural guarantees:
    # 1. the old side enters as the prior_sigs PARQUET scan — with the
    #    standing table read from storage, no UDF can possibly run
    #    over prior-corpus rows (there is no lineage back to tx1);
    # 2. the delta subtree is persisted inside incremental_dedup
    #    (InMemoryTableScan in the plan), so its shingle/MinHash UDFs
    #    run once, not once per consuming branch;
    # 3. no row-at-a-time Python anywhere.
    # (plan printouts truncate paths — identify the parquet scan of
    # the standing signature table by its read schema instead)
    assert ("ReadSchema: struct<id:string,set_size:int,"
            "signature:array<bigint>>") in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert plan.count("BatchEvalPython") == 0, plan
    assert step2["sigs"].count() == len(half) + n_new


def test_incremental_reads_standing_bucket_table(spark, tmp_path):
    """With prior_buckets provided, the old side of the candidate join
    must enter as a SCAN of the standing bucket table — no band-hash
    projection (xxhash64-over-signature-slices) over prior-corpus rows
    per batch (the r2 corpus-proportional-per-delta cost)."""
    from jaccard_ml_spark.plans.checkpoint import CheckpointStore

    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=120, seed=7)
    tx = read_transcripts(spark, meta["transcripts"])
    ids = sorted(r.conv_id for r in tx.select("conv_id").distinct().collect())
    half = set(ids[: len(ids) // 2])
    tx1 = tx.where(F.col("conv_id").isin(half))
    tx2 = tx.where(~F.col("conv_id").isin(half))

    step1 = incremental_dedup(tx1, None, None, CFG)
    store = CheckpointStore(spark, str(tmp_path / "ckpt"), "inc")
    prior_sets = store.write("sets", step1["sets"])
    prior_sigs = store.write("sigs", step1["sigs"])
    # the standing bucket table is checkpointed BUCKETED by the join
    # key, so the candidate join reads it without an exchange
    prior_buckets = store.write_bucketed("buckets", step1["buckets"],
                                         ["band_id", "bucket_hash"])

    # reference pairs: the signature-derived old-bucket path
    ref = incremental_dedup(tx2, prior_sets, step1["pairs"], CFG,
                            prior_sigs=prior_sigs)
    got = incremental_dedup(tx2, prior_sets, step1["pairs"], CFG,
                            prior_sigs=prior_sigs,
                            prior_buckets=prior_buckets)
    ref_pairs = {(r.id_a, r.id_b)
                 for r in ref["pairs"].select("id_a", "id_b").collect()}
    got_pairs = {(r.id_a, r.id_b)
                 for r in got["pairs"].select("id_a", "id_b").collect()}
    assert got_pairs == ref_pairs

    plan = got["pairs"]._jdf.queryExecution().executedPlan().toString()
    # incremental_dedup persists the delta-sized verify tables
    # (verify_sets / new_pairs), so the candidate/verify subtree sits
    # behind InMemoryTableScan nodes in the top-level plan — expand
    # the cached plans reachable from THIS plan for assertions about
    # what feeds them
    full = _expand_cached(got["pairs"])
    # 1. the standing bucket table enters as a stored scan
    assert ("ReadSchema: struct<band_id:int,bucket_hash:bigint,"
            "id:string>") in full, full
    # 2. no signature PARQUET scan feeds the pair plan's top level —
    #    the only possible source of an old-side band-hash projection
    #    is gone (new-batch band hashes come from the in-memory delta,
    #    whose cache boundary is exactly the "runs once" guarantee)
    assert "signature:array<bigint>" not in plan, plan
    # 3. still no row-at-a-time Python anywhere, cached subtrees
    #    included
    assert full.count("BatchEvalPython") == 0, full


def _standing_scans_under_shuffle(df) -> list[str]:
    """FileSourceScan nodes of STANDING tables (any parquet scan other
    than the raw transcripts, identified by read schema) that sit below
    a shuffle exchange — i.e. standing-corpus rows that would re-shuffle
    every batch. Looks through cache boundaries and AQE wrappers;
    BroadcastExchange is fine (only the delta side broadcasts)."""
    bad: list[str] = []

    def walk(node, under_shuffle: bool) -> None:
        name = node.getClass().getSimpleName()
        if name in ("ShuffleExchangeExec", "AQEShuffleReadExec"):
            under_shuffle = True
        if name == "FileSourceScanExec":
            s = node.toString()
            if "conv_id" not in s and under_shuffle:
                bad.append(s.splitlines()[0])
        if name == "InMemoryTableScanExec":
            # a cache boundary resets the question: the cached subtree
            # materializes ONCE; its own internal shape is checked when
            # the cached plan is walked fresh (not under this shuffle)
            walk(node.relation().cachedPlan(), False)
        elif name == "AdaptiveSparkPlanExec":
            walk(node.inputPlan(), under_shuffle)
        else:
            it = node.children().iterator()
            while it.hasNext():
                walk(it.next(), under_shuffle)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return bad


def test_incremental_standing_tables_never_shuffle(spark, tmp_path):
    """The per-batch scan-only invariant (VERDICT r4 item 4 follow-up):
    with every prior_* table checkpointed, the batch's pairs and
    components plans may SCAN the standing tables but never shuffle
    them — every standing-side filter/join is a broadcast of the
    delta-bounded side (anti-joins on the delta id set, the new-side
    bucket join, the affected-ids semi filter). Locks in the r5 fix
    that took the curve's 16x point from 1.8x to ~flat."""
    from jaccard_ml_spark.plans.checkpoint import CheckpointStore

    meta = generate_transcripts(str(tmp_path / "tx"), n_convs=150, seed=9)
    tx = read_transcripts(spark, meta["transcripts"])
    ids = sorted(r.conv_id for r in tx.select("conv_id").distinct().collect())
    old = set(ids[:100])
    tx1 = tx.where(F.col("conv_id").isin(old))
    tx2 = tx.where(~F.col("conv_id").isin(old))

    s1 = incremental_dedup(tx1, None, None, CFG)
    store = CheckpointStore(spark, str(tmp_path / "ckpt"), "inc")
    prior_sets = store.write_bucketed("sets", s1["sets"], ["id"],
                                      sort_cols=["id"])
    prior_sigs = store.write("sigs", s1["sigs"])
    prior_buckets = store.write_bucketed(
        "buckets", s1["buckets"], ["band_id", "bucket_hash"],
        sort_cols=["band_id", "bucket_hash"])
    prior_pairs = store.write("pairs", s1["pairs"])
    prior_components = store.write("components", s1["components"])

    out = incremental_dedup(tx2, prior_sets, prior_pairs, CFG,
                            prior_sigs=prior_sigs,
                            prior_buckets=prior_buckets,
                            prior_components=prior_components)
    # materialize first (plans are final after AQE), then assert
    out["pairs"].count()
    out["components"].count()
    for key in ("pairs", "components"):
        bad = _standing_scans_under_shuffle(out[key])
        assert not bad, f"standing table shuffled in {key} plan: {bad}"


def test_incremental_batch_local_cc(spark):
    """VERDICT r3 item 4: with prior_components provided, per-delta CC
    must be restricted to components touched by the batch — the CC
    input is the affected neighborhood, not the standing pair table —
    while merges (through new ids) and splits (through replaced ids)
    still resolve exactly as a global recompute."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "lambda", "mu"]
    text_a = " ".join(words * 4)
    text_b = " ".join(reversed(words)) * 4

    def tx_rows(rows):
        return spark.createDataFrame(
            [(cid, 0, "user", text, None, None) for cid, text in rows],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")

    # standing corpus: cluster A {A1,A2}, cluster B {B1,B2,B3}, loner C
    b1 = tx_rows([("A1", text_a), ("A2", text_a),
                  ("B1", text_b), ("B2", text_b), ("B3", text_b),
                  ("C", "totally unrelated single document text here")])
    s1 = incremental_dedup(b1, None, None, CFG)
    n_standing_pairs = s1["pairs"].count()   # 1 (A) + 3 (B) = 4

    # delta: N joins cluster A; cluster B must be untouched
    b2 = tx_rows([("N", text_a)])
    metrics: dict = {}
    s2 = incremental_dedup(b2, s1["sets"], s1["pairs"], CFG,
                           prior_sigs=s1["sigs"],
                           prior_components=s1["components"],
                           metrics=metrics)
    # global-recompute reference (no prior_components)
    ref = incremental_dedup(b2, s1["sets"], s1["pairs"], CFG,
                            prior_sigs=s1["sigs"])
    got = sorted((r.id, r.cluster_id) for r in s2["clusters"].collect())
    want = sorted((r.id, r.cluster_id) for r in ref["clusters"].collect())
    assert got == want
    clusters = dict(got)
    assert clusters["N"] == clusters["A1"] == clusters["A2"]
    assert clusters["B1"] == clusters["B2"] == clusters["B3"]
    assert clusters["B1"] != clusters["A1"]
    # the bound: CC ran over A's neighborhood only (A1A2 + A1N + A2N),
    # NOT the standing pair table (B's 3 pairs stayed out)
    assert metrics["inc.affected_components"] == 1, metrics
    assert metrics["inc.untouched_components"] == 1, metrics
    assert metrics["inc.cc_input_pairs"] == 3, metrics
    assert metrics["inc.cc_input_pairs"] < n_standing_pairs + 3, metrics

    # split case: replacing B2 with unrelated text splits cluster B
    b3 = tx_rows([("B2", "completely different words entirely unrelated "
                         "content nothing shared at all")])
    m3: dict = {}
    s3 = incremental_dedup(b3, s2["sets"], s2["pairs"], CFG,
                           prior_sigs=s2["sigs"],
                           prior_components=s2["components"],
                           metrics=m3)
    ref3 = incremental_dedup(b3, s2["sets"], s2["pairs"], CFG,
                             prior_sigs=s2["sigs"])
    got3 = sorted((r.id, r.cluster_id) for r in s3["clusters"].collect())
    want3 = sorted((r.id, r.cluster_id) for r in ref3["clusters"].collect())
    assert got3 == want3
    c3 = dict(got3)
    assert c3["B1"] == c3["B3"] != c3["B2"]          # split resolved
    assert c3["A1"] == c3["A2"] == c3["N"]            # A untouched
    # only B's component was re-solved (B1-B3 surviving pair)
    assert m3["inc.affected_components"] == 1, m3
    assert m3["inc.untouched_components"] >= 1, m3
    assert m3["inc.cc_input_pairs"] == 1, m3


def test_incremental_update_invalidates_stale_pairs(spark):
    """MERGE-semantics regression (ADVICE r1): replacing a conv's text
    must drop pairs computed against the OLD text — a pair whose
    Jaccard fell below threshold must not survive the update."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa", "lambda", "mu"]
    base = " ".join(words * 4)
    other = " ".join(reversed(words)) + " " + " ".join(words[:6] * 3)

    def tx_rows(rows):
        return spark.createDataFrame(
            [(cid, 0, "user", text, None, None) for cid, text in rows],
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")

    # batch 1: A and B identical → pair (A,B) above threshold
    b1 = tx_rows([("A", base), ("B", base), ("C", other)])
    s1 = incremental_dedup(b1, None, None, CFG)
    p1 = {(r.id_a, r.id_b) for r in s1["pairs"].select("id_a",
                                                       "id_b").collect()}
    assert ("A", "B") in p1

    # batch 2 REPLACES B with unrelated text → (A,B) must disappear
    b2 = tx_rows([("B", "completely different words entirely unrelated "
                        "content nothing shared here at all")])
    s2 = incremental_dedup(b2, s1["sets"], s1["pairs"], CFG,
                           prior_sigs=s1["sigs"])
    p2 = {(r.id_a, r.id_b) for r in s2["pairs"].select("id_a",
                                                       "id_b").collect()}
    assert ("A", "B") not in p2, p2
    clusters = {r.id: r.cluster_id for r in s2["clusters"].collect()}
    assert clusters["A"] != clusters["B"]
