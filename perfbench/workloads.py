"""The benchmark's workloads: seeded inputs, one unit of timed work,
its traced twin, and the checks on every output.

``batch_mix``   ``plans.pipeline.dedup_pipeline`` over the generator's
                default plant mix; one unit is one full pass from the
                input read until pairs and clusters are collected.
``exact_paths`` ``exact_jaccard_pairs``, ``containment_pairs`` and
                ``substring_pairs`` over assembled conversations; one
                unit is one call of each.

The traced unit of ``batch_mix`` calls the layers the pipeline is made
of one by one, each in its own span, so their costs separate. Its first
traced unit also checkpoints the pass's output as a standing corpus and
folds one delta into it with ``incremental_dedup`` (the ``incremental``
layer).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.functions.shingle_arrow import fused_shingle_minhash
from jaccard_ml_spark.operators.assemble import assemble_conversations
from jaccard_ml_spark.operators.candidates import (
    bucket_stats,
    candidate_pairs,
    lsh_buckets,
)
from jaccard_ml_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)
from jaccard_ml_spark.operators.dedup import containment_pairs
from jaccard_ml_spark.operators.setsim import exact_jaccard_pairs, posting_lists
from jaccard_ml_spark.operators.suffix import anchor_sets, substring_pairs
from jaccard_ml_spark.operators.verify import verify_pairs
from jaccard_ml_spark.plans.checkpoint import CheckpointStore
from jaccard_ml_spark.plans.oracle import union_find_clusters
from jaccard_ml_spark.plans.pipeline import (
    dedup_pipeline,
    shingle_sets_from_conversations,
)
from jaccard_ml_spark.sources.generator import (
    ensure_generated,
    generate_transcripts,
)
from jaccard_ml_spark.sources.tables import read_transcripts
from jaccard_ml_spark.streaming.incremental import (
    incremental_dedup,
    release_persisted,
)

CFG = DedupConfig()
MIN_RECALL = 0.99
CONTAINMENT_T = 0.9
EPS = 1e-9
SOURCE_CHARS, SHORT_CHARS = 1400, 500   # substring slice text lengths


@dataclass
class Op:
    """One engine call whose output is checked."""
    name: str
    wall: float = 0.0
    out: object = None
    error: str | None = None
    problems: list = field(default_factory=list)
    fingerprint: str | None = None


@dataclass
class Unit:
    kind: str                 # "warmup" | "timed" | "traced"
    wall: float = 0.0
    turns: int = 0
    ops: list = field(default_factory=list)
    span: dict | None = None  # the traced unit's own span
    cpu_s: float = 0.0        # CPU seconds of the JVM and its workers
    counters: dict = field(default_factory=dict)


def fingerprint(rows) -> str:
    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def data_dir(root: str, name: str, params: dict, seed: int) -> str:
    """Cache directory of one (workload, size, seed)."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    return os.path.join(root, f"{name}-{tag}-s{seed}")


def cached_json(path: str, build):
    """Load ``path``, or build, write atomically and return it."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = build()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _jaccard_oracle(texts: dict) -> list:
    sets = oracle.shingle_sets(texts, CFG.k_shingle)
    inter = oracle.intersections(sets)
    pairs = oracle.jaccard_pairs(sets, inter, CFG.jaccard_threshold)
    return [[a, b, j] for (a, b), j in sorted(pairs.items())]


def _partition(labels: dict) -> set:
    groups: dict = {}
    for i, c in labels.items():
        groups.setdefault(c, set()).add(i)
    return {frozenset(g) for g in groups.values()}


def check_pairs(found: list, golden: dict) -> tuple[list, float]:
    """(problems, recall) of emitted (id_a, id_b, jaccard) rows against
    the oracle's {(id_a, id_b): jaccard}."""
    problems = []
    got = {(a, b): j for a, b, j in found}
    if len(got) != len(found):
        problems.append("duplicate pairs emitted")
    wrong = [k for k, j in got.items()
             if k not in golden or abs(golden[k] - j) > EPS]
    if wrong:
        problems.append(f"{len(wrong)} emitted pairs disagree with the "
                        f"oracle, e.g. {wrong[0]}")
    hit = sum(1 for k in golden if k in got)
    recall = hit / len(golden) if golden else 1.0
    if recall < MIN_RECALL:
        problems.append(f"recall {recall:.4f} < {MIN_RECALL}")
    return problems, recall


def check_clusters(pairs: list, labels: dict, ids: list) -> list:
    """Clusters must be union-find over the emitted pairs."""
    if set(labels) != set(ids):
        return [f"clusters cover {len(labels)} ids, input has {len(ids)}"]
    want = union_find_clusters([(a, b) for a, b, _ in pairs], ids)
    if _partition(labels) != _partition(want):
        return ["clusters differ from union-find over the emitted pairs"]
    return []


class BatchMix:
    name = "batch_mix"
    sizes = {"full": {"n_convs": 3000, "n_delta": 100},
             "smoke": {"n_convs": 200, "n_delta": 20}}
    main_op = "dedup_pipeline"

    def __init__(self, size: str, seed: int, data_root: str, work: str):
        p = self.sizes[size]
        self.n_convs, self.n_delta, self.seed = (p["n_convs"], p["n_delta"],
                                                 seed)
        self.dir = data_dir(data_root, self.name, p, seed)
        self.ckpt = os.path.join(work, "ckpt")
        self.folded = False

    # -- inputs (untimed, cached on disk) -----------------------------
    def prepare(self, trace: bool) -> None:
        info = ensure_generated(self.dir, generate_transcripts,
                                n_convs=self.n_convs, seed=self.seed)
        self.tx_path, self.n_turns = info["transcripts"], info["n_turns"]
        texts = {c: t for c, (_, t) in oracle.assemble(self.tx_path).items()}
        self.ids = sorted(texts)
        golden = cached_json(os.path.join(self.dir, "oracle.json"),
                             lambda: _jaccard_oracle(texts))
        self.golden = {(a, b): j for a, b, j in golden}
        if trace:
            self._prepare_delta(texts)

    def _prepare_delta(self, texts: dict) -> None:
        """A delta of re-ingested copies of sampled conversations under
        new ids, so it pairs with the standing corpus."""
        self.delta_path = os.path.join(self.dir, "delta.parquet")
        picked = sorted(random.Random(self.seed).sample(self.ids,
                                                        self.n_delta))
        if not os.path.exists(self.delta_path):
            t = pq.read_table(self.tx_path)
            t = t.filter(pc.is_in(t["conv_id"], pa.array(picked)))
            cid = pc.binary_join_element_wise("d-", t["conv_id"], "")
            t = t.set_column(t.schema.get_field_index("conv_id"),
                             "conv_id", cid)
            pq.write_table(t, self.delta_path + ".tmp")
            os.replace(self.delta_path + ".tmp", self.delta_path)
        union = dict(texts)
        union.update({f"d-{c}": texts[c] for c in picked})
        golden = cached_json(os.path.join(self.dir, "oracle_delta.json"),
                             lambda: _jaccard_oracle(union))
        self.golden_delta = {(a, b): j for a, b, j in golden}

    def setup(self, spark) -> None:
        self.spark = spark

    # -- units ----------------------------------------------------------
    def run(self, kind: str, tracer) -> Unit:
        if kind == "traced":
            return self._traced(tracer)
        unit = Unit(kind, turns=self.n_turns)
        op = Op(self.main_op)
        t0 = time.monotonic()
        res = dedup_pipeline(read_transcripts(self.spark, self.tx_path), CFG)
        pairs = [tuple(r) for r in
                 res.pairs.select("id_a", "id_b", "jaccard").collect()]
        clusters = [tuple(r) for r in res.clusters.collect()]
        op.wall = unit.wall = time.monotonic() - t0
        op.out = (pairs, clusters)
        unit.ops.append(op)
        self.spark.catalog.clearCache()
        return unit

    def _traced(self, tracer) -> Unit:
        spark = self.spark
        unit = Unit("traced", turns=self.n_turns)
        op = Op(self.main_op)
        with tracer.span("pass") as rec:
            with tracer.span("assemble", layer=True):
                tx = read_transcripts(spark, self.tx_path)
                conv = assemble_conversations(tx, CFG.text_separator)
                conv = conv.persist()
                conv.count()
            with tracer.span("shingle_minhash", layer=True):
                fused = fused_shingle_minhash(
                    conv.select(F.col("conv_id").alias("id"), "text"),
                    "text", CFG.k_shingle, CFG.num_perm,
                    CFG.minhash_seed).persist()
                fused.count()
            sigs = (fused.select("id", "set_size", "signature")
                    .where(F.col("signature").isNotNull()))
            with tracer.span("candidates", layer=True):
                cands = candidate_pairs(sigs, CFG,
                                        signatures_persisted=True).persist()
                n_cands = cands.count()
            with tracer.span("verify", layer=True):
                pairs_df = verify_pairs(cands, fused,
                                        CFG.jaccard_threshold).persist()
                pairs = [tuple(r) for r in pairs_df.select(
                    "id_a", "id_b", "jaccard").collect()]
            with tracer.span("cluster", layer=True):
                comps = connected_components(pairs_df, CFG.cc_max_iterations)
                clusters = [tuple(r) for r in
                            assign_clusters(fused, comps).collect()]
            with tracer.span("counters"):
                unit.counters.update(self._counters(fused, sigs))
        op.out = (pairs, clusters)
        op.wall = unit.wall = rec["end"] - rec["start"]
        unit.span = rec
        n_comp = sum(1 for n in Counter(c for _, c in clusters).values()
                     if n > 1)
        unit.counters.update({
            "candidates.pairs_out": n_cands,
            "verify.pairs_out": len(pairs),
            "verify.yield": len(pairs) / n_cands if n_cands else 0.0,
            "cluster.edges_in": len(pairs),
            "cluster.components": n_comp,
        })
        unit.ops.append(op)
        if not self.folded:
            self.folded = True
            unit.ops.append(self._fold_delta(tracer, fused, sigs, pairs_df,
                                             comps, unit.counters))
        spark.catalog.clearCache()
        return unit

    def _counters(self, fused, sigs) -> dict:
        """Counts that cost extra Spark jobs: traced units only."""
        items = fused.agg(F.sum("set_size")).first()[0] or 0
        hist = (bucket_stats(lsh_buckets(sigs, CFG))
                .groupBy("bucket_size").count().collect())
        c0, c1 = CFG.salt_threshold_c0, CFG.band_split_c1
        return {
            "shingle_minhash.items_total": int(items),
            "candidates.buckets_hot": sum(r["count"] for r in hist
                                          if c0 < r.bucket_size <= c1),
            "candidates.buckets_mega": sum(r["count"] for r in hist
                                           if r.bucket_size > c1),
            "candidates.pairs_predicted": sum(
                r["count"] * r.bucket_size * (r.bucket_size - 1) // 2
                for r in hist),
        }

    def _fold_delta(self, tracer, fused, sigs, pairs_df, comps,
                    counters: dict) -> Op:
        """Checkpoint the pass as the standing corpus, fold the delta."""
        spark = self.spark
        shutil.rmtree(self.ckpt, ignore_errors=True)
        with tracer.span("standing_checkpoint"):
            store = CheckpointStore(spark, self.ckpt, f"s{self.seed}")
            prior = {
                "sets": store.write_bucketed(
                    "sets", fused.select("id", "items"), ["id"],
                    sort_cols=["id"]),
                "sigs": store.write("sigs", sigs),
                "buckets": store.write_bucketed(
                    "buckets", lsh_buckets(sigs, CFG),
                    ["band_id", "bucket_hash"],
                    sort_cols=["band_id", "bucket_hash"]),
                "pairs": store.write("pairs", pairs_df),
                "components": store.write("components", comps),
            }
        delta = read_transcripts(spark, self.delta_path)

        def fold(metrics=None):
            return incremental_dedup(
                delta, prior["sets"], prior["pairs"], CFG,
                prior_sigs=prior["sigs"], prior_buckets=prior["buckets"],
                prior_components=prior["components"], metrics=metrics)

        op = Op("incremental_dedup")
        with tracer.span("incremental", layer=True) as rec:
            out = fold()
            pairs = [tuple(r) for r in out["pairs"].select(
                "id_a", "id_b", "jaccard").collect()]
            comps_out = [tuple(r) for r in out["components"].collect()]
        op.wall = rec["end"] - rec["start"]
        op.out = (pairs, comps_out)
        release_persisted()
        with tracer.span("counters.incremental"):
            fold(metrics=counters)   # the inc.* counts run eagerly
        release_persisted()
        return op

    # -- checks ------------------------------------------------------------
    def check(self, op: Op) -> float | None:
        """Fill ``op.problems`` and ``op.fingerprint``; return recall."""
        pairs, labels = op.out
        if op.name == "incremental_dedup":
            op.problems, recall = check_pairs(pairs, self.golden_delta)
            in_pairs = {i for a, b, _ in pairs for i in (a, b)}
            got = {i: c for i, c in labels if i in in_pairs}
            op.problems += check_clusters(pairs, got, sorted(in_pairs))
        else:
            op.problems, recall = check_pairs(pairs, self.golden)
            op.problems += check_clusters(pairs, dict(labels), self.ids)
        op.fingerprint = fingerprint(pairs + labels)
        return recall if op.name == self.main_op else None


class ExactPaths:
    name = "exact_paths"
    sizes = {"full": {"n_convs": 1000, "n_contain": 1, "n_short": 4},
             "smoke": {"n_convs": 200, "n_contain": 1, "n_short": 2}}
    main_op = "exact_jaccard_pairs"

    def __init__(self, size: str, seed: int, data_root: str, work: str):
        p = self.sizes[size]
        self.n_convs, self.n_contain, self.n_short = (
            p["n_convs"], p["n_contain"], p["n_short"])
        self.seed = seed
        self.dir = data_dir(data_root, self.name, p, seed)

    def prepare(self, trace: bool) -> None:
        info = ensure_generated(self.dir, generate_transcripts,
                                n_convs=self.n_convs, seed=self.seed)
        self.tx_path = info["transcripts"]
        convs = oracle.assemble(self.tx_path)
        texts = {c: t for c, (_, t) in convs.items()}
        self.slice = self._slice(info["truth_groups"], convs)
        self.slice_turns = sum(convs[c][0] for c in self.slice)
        self.all_turns = info["n_turns"]

        def build():
            sets = oracle.shingle_sets(texts, CFG.k_shingle)
            inter = oracle.intersections(sets)
            jac = oracle.jaccard_pairs(sets, inter, CFG.jaccard_threshold)
            con = oracle.containment_pairs(sets, inter, CONTAINMENT_T)
            sub = oracle.substring_pairs({c: texts[c] for c in self.slice})
            return {"jaccard": [[a, b, j] for (a, b), j in jac.items()],
                    "containment": [[a, b, c] for (a, b), c in con.items()],
                    "substring": sorted(sub)}
        g = cached_json(os.path.join(self.dir, "oracle.json"), build)
        self.golden = {
            "exact_jaccard_pairs": {(a, b): v for a, b, v in g["jaccard"]},
            "containment_pairs": {(a, b): v for a, b, v in
                                  g["containment"]},
            "substring_pairs": {tuple(p) for p in g["substring"]},
        }

    def _slice(self, truth_path: str, convs: dict) -> list:
        """Substring slice: turn-prefix plants with their sources, plus
        two-turn conversations that contain nothing. Anchor cost grows
        with the square of text length, so each pick is the text whose
        length is nearest a fixed target: every seed does similar work."""
        truth = pq.read_table(truth_path).to_pylist()

        def nearest(ids, target, n, text_of=lambda c: c):
            return sorted(ids, key=lambda c: (
                abs(len(convs[text_of(c)][1]) - target), c))[:n]
        src_of = {r["conv_id"]: r["group_id"] for r in truth
                  if r["kind"] == "containment"}
        plants = nearest(src_of, SOURCE_CHARS, self.n_contain, src_of.get)
        picked = set(plants) | {src_of[p] for p in plants}
        short = [r["conv_id"] for r in truth if r["kind"] == "unique"
                 and r["conv_id"] not in picked and convs[r["conv_id"]][0] == 2]
        picked.update(nearest(short, SHORT_CHARS, self.n_short))
        return sorted(picked)

    def setup(self, spark) -> None:
        self.spark = spark
        tx = read_transcripts(spark, self.tx_path)
        conv = assemble_conversations(tx, CFG.text_separator).persist()
        self.sets = shingle_sets_from_conversations(conv, CFG).persist()
        self.docs = (conv.where(F.col("conv_id").isin(self.slice))
                     .select("conv_id", "text").persist())
        self.sets.count()
        self.docs.count()

    def _calls(self):
        yield ("exact_jaccard_pairs", "setsim",
               lambda: exact_jaccard_pairs(self.sets, CFG.jaccard_threshold)
               .select("id_a", "id_b", "jaccard"))
        yield ("containment_pairs", "setsim",
               lambda: containment_pairs(self.sets, CONTAINMENT_T)
               .select("id_small", "id_big", "containment"))
        yield ("substring_pairs", "suffix",
               lambda: substring_pairs(self.docs, id_col="conv_id")
               .where(F.col("is_substring") == 1)
               .select("id_small", "id_big"))

    def run(self, kind: str, tracer) -> Unit:
        unit = Unit(kind, turns=2 * self.all_turns + self.slice_turns)
        with tracer.span("round") as rec:
            for name, layer, call in self._calls():
                op = Op(name)
                with tracer.span(layer, layer=True):
                    t0 = time.monotonic()
                    op.out = [tuple(r) for r in call().collect()]
                    op.wall = time.monotonic() - t0
                unit.ops.append(op)
            if kind == "traced":
                with tracer.span("counters"):
                    unit.counters.update(self._counters())
        unit.wall = sum(op.wall for op in unit.ops)
        if rec is not None:
            unit.span = rec
            unit.wall = rec["end"] - rec["start"]
        return unit

    def _counters(self) -> dict:
        df = posting_lists(self.sets).groupBy("item").count()
        join_rows = df.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)
                           ).first()[0] or 0
        anchors = anchor_sets(self.docs, id_col="conv_id").agg(
            F.sum(F.size("items"))).first()[0] or 0
        return {"setsim.join_rows": int(join_rows),
                "suffix.anchor_postings": int(anchors)}

    def check(self, op: Op) -> float | None:
        golden = self.golden[op.name]
        op.fingerprint = fingerprint(op.out)
        if op.name == "substring_pairs":
            got = {tuple(sorted(p)) for p in op.out}
            if got != golden:
                op.problems.append(
                    f"substring pairs: {len(got - golden)} extra, "
                    f"{len(golden - got)} missing")
            return None
        got = {(a, b): v for a, b, v in op.out}
        extra = [k for k in got if k not in golden
                 or abs(golden[k] - got[k]) > EPS]
        missing = [k for k in golden if k not in got]
        if extra or missing or len(got) != len(op.out):
            op.problems.append(f"{op.name}: {len(extra)} wrong, "
                               f"{len(missing)} missing")
        if op.name == self.main_op:
            return 1.0 - len(missing) / len(golden) if golden else 1.0
        return None


WORKLOADS = {w.name: w for w in (BatchMix, ExactPaths)}
