"""Similarity search over embedding columns.

Brute-force cosine as the exactness baseline; random-hyperplane
(sign-LSH) bucketing and IVF (k-means cells) as the scale paths — the
same candidates-then-verify architecture as the MinHash text path
(the reference's golden-values-vs-kernel differential layout,
/root/reference/src/utils.cuh:689-698, applied to vectors).

Scale discipline (all three paths):

* **Occupancy-bounded index sizes.** Plane and cell counts are derived
  from the corpus size (``auto_ann_params``): n_planes ≈
  log2(n / target_occupancy), n_cells ≈ n / target_cell_size. Fixed
  counts turn into O(n²/buckets) candidate growth at 100× scale; the
  auto rule keeps expected bucket occupancy — and therefore per-vector
  candidate count — constant as the corpus grows.
* **One pass, one exchange.** All hash tables' buckets are computed in
  a single vectorized pandas-UDF projection (one Arrow exchange, one
  BLAS matmul per batch) over a persisted slim (id, vec) table; pairing
  happens JVM-side from grouped member arrays (candidates.py's
  machinery), so the whole candidate stage is one shuffle.
* **Brute-force below the index cutoff.** Under ``brute_cutoff``
  vectors, building an index costs more than a broadcast cross join —
  the same flat-vs-IVF switch FAISS makes. The exact path also keeps
  the driver's DuckDB differential check exact at test scale; the LSH
  path's recall is asserted separately in tests/test_similarity.py
  with the cutoff disabled.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from jaccard_ml_spark.functions import stable_round6
from jaccard_ml_spark.functions.embeddings import cosine, dot, norm
from jaccard_ml_spark.operators.candidates import _pairs_from_members
from jaccard_ml_spark.persist import persist


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors by cosine for each query vector.

    (query_id, neighbor_id, cosine, rank). Self-matches excluded.
    Cosine rounded to 6 dp *before* ranking so ranks are reproducible
    bit-for-bit across engines; ties broken by neighbor id.

    Scale: broadcast the (small) query set against the corpus —
    a broadcast-nested-loop the optimizer handles; for large query sets
    use ann_topk instead.
    """
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("_cv"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            stable_round6(cosine(F.col("_qv"), F.col("_cv"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine",
                F.col("rank").cast("long").alias("rank"))
    )


def cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding near-duplicate pairs: cosine ≥ threshold.

    All-pairs exact (the embedding analog of setsim.exact_jaccard_pairs
    — the oracle/baseline path; embedding_near_dup_pairs is the
    bucketed scale twin). Norms are precomputed per vector so the cross
    join multiplies normalized vectors only.
    """
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    ).withColumn("_n", norm(F.col("_v")))
    a = v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                 F.col("_n").alias("_na"))
    b = v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                 F.col("_n").alias("_nb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            # try_divide: zero-norm → 0/0, which under default ANSI mode
            # is a query-killing DIVIDE_BY_ZERO with plain `/`; NULL
            # drops out of the >= filter. Rule across every strategy
            # (exact / LSH / brute): degenerate embeddings (null or
            # zero-norm) never pair.
            stable_round6(F.try_divide(
                dot(F.col("_va"), F.col("_vb")),
                F.col("_na") * F.col("_nb"))).alias("cosine"),
        )
        # ~isnan: NaN still arises from non-finite embedding values and
        # Spark sorts NaN ABOVE every double, so `>=` alone would pass it
        .where((F.col("cosine") >= threshold) & ~F.isnan("cosine"))
    )


def _seq_rowsum(prod: np.ndarray) -> np.ndarray:
    """Left-to-right sequential sum over the last axis.

    ``np.cumsum`` is defined sequentially, so taking its last element
    reproduces Catalyst's ``F.aggregate(... acc + x)`` left fold
    bit-for-bit (numpy's ``.sum`` uses pairwise summation — a different
    addition ORDER, hence potentially a different last bit, which the
    6-dp stable rounding could amplify into a visible diff exactly at
    rounding boundaries). Costs ~2× a BLAS sum; exactness vs the
    Catalyst oracle path is worth it."""
    return np.cumsum(prod, axis=-1)[..., -1]


def _brute_pairs_broadcast(
    vectors: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact all-pairs threshold scoring via a broadcast matrix.

    One ``mapInPandas`` scan over the id column: each task matmuls its
    query block against the full broadcast (n, dim) float64 matrix and
    emits ``(id_a, id_b, cosine)`` for rounded cosine ≥ threshold with
    ``id_a < id_b`` (each unordered pair exactly once — the side with
    the smaller id emits it). No bucket build, no pair exchange, no
    distinct: the only shuffle is the small id repartition for task
    parallelism.

    Bounded driver collect (anti-pattern audit): callers gate this path
    on ``n·dim·8 ≤ brute_broadcast_bytes`` BEFORE collecting, so the
    matrix is broadcast-sized by construction. Arithmetic matches the
    Catalyst expression path operation-for-operation (float→double
    cast, sequential-order dot via cumsum, norm-product-then-divide,
    floor-based 6-dp rounding) so the output is bit-identical to
    ``cosine_dup_pairs`` / ``_score_pairs`` — asserted in
    tests/test_similarity.py.
    """
    spark = vectors.sparkSession
    # null embeddings never become candidates on the LSH path (the
    # bucket UDF skips them), and np.asarray(None) would poison the
    # matrix build — drop them here so the two strategies agree
    vectors = vectors.where(F.col(vec_col).isNotNull())
    pdf = vectors.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("v")).toPandas()
    ids = pdf["id"].to_numpy()
    mat = np.array([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
    norms = np.sqrt(_seq_rowsum(mat * mat))
    # ids may be strings: compare by sort-rank so the per-pair order
    # test is a vectorized int compare, not O(B·n) Python object code
    rank = np.empty(len(ids), dtype=np.int64)
    rank[np.argsort(ids, kind="stable")] = np.arange(len(ids))
    bc = spark.sparkContext.broadcast((ids, mat, norms, rank))
    thr = float(threshold)

    id_field = vectors.select(F.col(id_col)).schema.fields[0]
    out_schema = T.StructType([
        T.StructField("id_a", id_field.dataType),
        T.StructField("id_b", id_field.dataType),
        T.StructField("cosine", T.DoubleType()),
    ])

    def gen(batches):
        ids_, mat_, norms_, rank_ = bc.value
        index = {v: i for i, v in enumerate(ids_)}
        n = len(ids_)
        for b in batches:
            qi = np.fromiter((index[v] for v in b["id"]),
                             dtype=np.int64, count=len(b))
            if not len(qi):
                continue
            q = mat_[qi]                      # (B, dim) float64
            qn = norms_[qi][:, None]          # hoisted out of the chunk
            qr = rank_[qi][:, None]           # loop (O(B) gather each)
            # chunk the corpus axis so the (B, cn, dim) product stays
            # ~64 MB regardless of block/corpus sizes
            cn = max(1, int((8 << 20) // max(1, q.shape[0] * q.shape[1])))
            for s in range(0, n, cn):
                m = mat_[s:s + cn]
                # errstate: 0/0 → NaN is the intended zero-norm result
                # (dropped below); the default RuntimeWarning would spam
                # executor logs once per chunk
                with np.errstate(invalid="ignore", divide="ignore"):
                    c = _seq_rowsum(q[:, None, :] * m[None, :, :]) \
                        / (qn * norms_[None, s:s + cn])
                c = np.floor(c * 1e6 + 0.5) / 1e6
                # IEEE compare: NaN >= thr is False, so zero-norm
                # (0/0 → NaN) pairs drop here for free — the same
                # degenerate-embeddings-never-pair rule the Catalyst
                # paths enforce with an explicit ~isnan filter
                keep = (c >= thr) & (qr < rank_[None, s:s + cn])
                bi, ci = np.nonzero(keep)
                if len(bi):
                    yield pd.DataFrame({
                        "id_a": ids_[qi[bi]],
                        "id_b": ids_[s + ci],
                        "cosine": c[bi, ci],
                    })

    par = spark.sparkContext.defaultParallelism
    return (
        vectors.select(F.col(id_col).alias("id"))
        .repartition(min(par, max(1, len(ids) // 64)))
        .mapInPandas(gen, out_schema)
    )


# ---------------------------------------------------------------------------
# sign-LSH (random hyperplanes)
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def auto_ann_params(
    n: int,
    threshold: float | None = None,
    target_occupancy: int = 64,
    target_recall: float = 0.999,
    max_planes: int = 24,
    max_tables: int = 64,
) -> tuple[int, int]:
    """(n_planes, n_tables) sized to the corpus, not hard-coded.

    n_planes = ceil(log2(n / target_occupancy)) keeps expected bucket
    occupancy ≈ target_occupancy at ANY corpus size — candidate count
    stays O(n · occupancy · tables) instead of the O(n²/2^planes) a
    fixed plane count degrades to (the round-1 scale bug this replaces).

    Given a verify threshold, n_tables is solved from the sign-LSH
    collision model: a plane separates vectors at angle θ with
    probability θ/π, so a table of p planes catches the pair with
    q = (1 - θ/π)^p and t tables give recall 1-(1-q)^t ≥ target_recall.
    Without a threshold (top-k use), 8 tables is the measured
    recall/cost sweet spot for clustered real-world embeddings.

    When the solved table count exceeds ``max_tables`` (large n + a low
    threshold: e.g. n=100M, threshold=0.9 needs ~238 tables at the
    occupancy-ruled plane count), silently clamping tables would ship
    recall well below ``target_recall``. Instead planes are reduced —
    each dropped plane raises per-table collision probability q, at the
    cost of ~2× bucket occupancy per plane — until the target recall is
    achievable within the cap; the shortfall path is thereby
    unreachable (p=2 planes make q large enough for any threshold>0).
    """
    n_planes = max(2, min(max_planes,
                          math.ceil(math.log2(max(n, 2) / target_occupancy))
                          if n > target_occupancy else 2))
    if threshold is None:
        return n_planes, 8
    agree = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi

    def tables_for(p: int) -> int:
        q = agree ** p
        if q >= 1.0:
            return 1
        if q <= 0.0:                       # degenerate threshold ≤ −1
            return max_tables
        return max(1, math.ceil(math.log(1.0 - target_recall)
                                / math.log(1.0 - q)))

    while n_planes > 2 and tables_for(n_planes) > max_tables:
        n_planes -= 1
    return n_planes, min(max_tables, tables_for(n_planes))


def modeled_recall(threshold: float, n_planes: int, n_tables: int) -> float:
    """Sign-LSH collision-model recall at the chosen parameters.

    Recorded in ``metrics`` by the callers (VERDICT r3 item 7): when
    the 64-table cap binds and auto_ann_params trades planes for
    achievability, the actually-modeled recall — not just the target —
    must be visible next to the chosen (planes, tables)."""
    agree = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    q = agree ** n_planes
    if q >= 1.0:
        return 1.0
    if q <= 0.0:
        return 0.0
    return 1.0 - (1.0 - q) ** n_tables


def expected_collision_fraction(n_planes: int, n_tables: int) -> float:
    """Collision-model probability that an UNCORRELATED pair (cosine
    ~0, per-plane agreement 1/2) lands in the same bucket of at least
    one table — the expected CANDIDATE DENSITY the index produces on
    random data, as a fraction of all n(n-1)/2 pairs.

    This is the strategy-selection signal: when low thresholds force
    auto_ann_params into few planes and many tables (the documented
    cost cliff), this fraction approaches 1 and the "approximate"
    index degenerates into all-pairs WITH bucket/shuffle overhead on
    top — measured at sf0.1 / threshold 0.4: planes=4, tables=54 →
    predicted 0.969, observed 1.906M of 1.999M possible pairs (95.4%)
    emitted as candidates. At that density an exact blocked matmul
    scores the same number of pairs with none of the index machinery
    (the same flat-vs-index switch FAISS makes, driven by the model
    instead of a fixed size cutoff).

    Exactly the collision model at cosine 0 (per-plane agreement
    acos(0)/π = ½) — one formula, one implementation."""
    return modeled_recall(0.0, n_planes, n_tables)


def _multi_table_bucket_udf(dim: int, n_planes: int, n_tables: int,
                            seed: int):
    """pandas UDF: embedding → array of n_tables packed sign buckets.

    ONE matmul per Arrow batch against the (n_tables·n_planes, dim)
    plane matrix computes every table's bits at once; bits pack into a
    long per table. Replaces n_tables × n_planes scalar ``aggregate``
    expression trees (the round-1 plan re-evaluated those per branch —
    47% of the bench wall on 2000 vectors).
    """
    rng_planes = np.vstack([
        np.random.default_rng(seed + 97 * t).standard_normal(
            (n_planes, dim))
        for t in range(n_tables)
    ])  # (T*P, dim) — table t's planes are rows [t*P, (t+1)*P)
    weights = (1 << np.arange(n_planes, dtype=np.uint64))

    @pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        out: list = [None] * len(vecs)
        rows = [(i, np.asarray(v, dtype=np.float64))
                for i, v in enumerate(vecs) if v is not None and len(v)]
        if not rows:
            return pd.Series(out)
        X = np.stack([v for _, v in rows])          # (B, dim)
        S = X @ rng_planes.T                         # (B, T*P)
        bits = (S > 0).astype(np.uint64).reshape(len(rows), -1, n_planes)
        packed = (bits * weights).sum(axis=2).astype(np.int64)  # (B, T)
        for j, (i, _) in enumerate(rows):
            out[i] = packed[j]
        return pd.Series(out)

    return _buckets


def ann_buckets(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-table sign-LSH bucket per vector (id, embedding, bucket).

    Kept as the one-table building block; multi-table search goes
    through ann_assignments (one UDF pass for all tables).
    """
    udf = _multi_table_bucket_udf(dim, n_planes, 1, seed)
    return vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("embedding"),
        F.element_at(udf(F.col(vec_col)), 1).alias("bucket"),
    )


def ann_assignments(
    vectors: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(table, bucket, id) for every hash table — one projection pass."""
    udf = _multi_table_bucket_udf(dim, n_planes, n_tables, seed)
    return (
        vectors
        .select(F.col(id_col).alias("id"),
                F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"))
        .select("table", "bucket", "id")
    )


def _pairs_within_groups(assign: DataFrame, group_cols: list[str],
                         bucket_cap: int | None,
                         metrics: dict | None = None,
                         metrics_prefix: str = "ann",
                         rep_count: int = 8) -> DataFrame:
    """Distinct canonical (id_a, id_b) from co-grouped ids.

    One exchange: groupBy the bucket key, pair JVM-side from the sorted
    member array. ``bucket_cap`` bounds degenerate buckets (piles of
    identical vectors): the id-sorted prefix pairs all-vs-all (O(cap²)
    per bucket instead of O(size²)), and every beyond-cap member is
    paired against the first ``rep_count`` representatives instead of
    being dropped. A >cap pile of identical vectors lands in the SAME
    bucket in every table/cell, so a pure truncation would lose those
    members' pairs in ALL tables — the rep edges guarantee each member
    keeps ≥1 exact-scored edge (a star over the pile), so threshold
    dedup still detects every member and CC still clusters the pile.

    ``metrics`` (optional) gets ``{prefix}.capped_members`` /
    ``{prefix}.capped_buckets`` counts — silent truncation would make
    "covered everything" and "star-linked 10⁶ members" look identical.
    Costs one small aggregate job over the grouped table.
    """
    grouped = assign.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list("id")).alias("members"))
    if bucket_cap is None:
        grouped = grouped.where(F.size("members") > 1)
        return _pairs_from_members(grouped).distinct()

    if metrics is not None:
        over = F.greatest(F.size("members") - bucket_cap, F.lit(0))
        row = grouped.select(
            F.sum(over).alias("m"),
            F.sum((over > 0).cast("long")).alias("b"),
            F.max(F.size("members")).alias("mx")).first()
        metrics[f"{metrics_prefix}.capped_members"] = int(row.m or 0)
        metrics[f"{metrics_prefix}.capped_buckets"] = int(row.b or 0)
        metrics[f"{metrics_prefix}.max_bucket_size"] = int(row.mx or 0)

    # Capped prefix pairs AND beyond-cap star edges are built in ONE
    # vectorized Arrow pass over the grouped member arrays (until r5
    # this was a nested F.transform/struct projection: Spark evaluates
    # HOF lambdas interpreted, ~10⁵ struct allocations/s/core — the
    # measured dominant cost of the embedding candidate stage at sf0.1.
    # numpy triu_indices emits the same pairs at memory bandwidth; the
    # Arrow round trip ships each group's id array in and slim id
    # pairs out). Members are sorted ascending (sort_array above), so
    # prefix pairs are canonical id_a < id_b by construction, and every
    # star edge pairs a prefix rep (≤ cap-th member) with a beyond-cap
    # member — strictly greater, distinct within a group — preserving
    # the exact pair set of the expression form (asserted in
    # tests/test_similarity.py).
    assert bucket_cap >= 2, "bucket_cap < 2 degenerates the pairing"
    grouped = grouped.where(F.size("members") > 1)
    id_type = assign.schema["id"].dataType
    out_schema = T.StructType([T.StructField("id_a", id_type),
                               T.StructField("id_b", id_type)])
    cap, reps_n = bucket_cap, rep_count

    def _gen(batches):
        for b in batches:
            acc_a: list = []
            acc_b: list = []
            for m in b["members"]:
                arr = np.asarray(m)
                n = len(arr)
                if n < 2:
                    continue
                head = arr[:cap] if n > cap else arr
                i, j = np.triu_indices(len(head), k=1)
                acc_a.append(head[i])
                acc_b.append(head[j])
                if n > cap:
                    reps = arr[:reps_n]
                    beyond = arr[cap:]
                    acc_a.append(np.repeat(reps, len(beyond)))
                    acc_b.append(np.tile(beyond, len(reps)))
            if acc_a:
                a = np.concatenate(acc_a)
                b = np.concatenate(acc_b)
                # a REPEATED id inside one bucket would pair with
                # itself: triu(k=1) skips equal positions, not equal
                # values (the expression form this pass replaced
                # carried an explicit id_a != id_b filter)
                ok = a != b
                if ok.any():
                    yield pd.DataFrame({"id_a": a[ok], "id_b": b[ok]})

    return (grouped.select("members").mapInPandas(_gen, out_schema)
            .distinct())


@pandas_udf(T.DoubleType())
def _dot_seq_arrow(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized pair dot product, bit-identical to the Catalyst
    expression ``dot(a, b)`` (embeddings.py): per element float→double
    cast, multiply, then LEFT-TO-RIGHT summation via cumsum
    (_seq_rowsum) — numpy's pairwise ``.sum`` order would differ in
    the last bit. One Arrow batch = one (B, dim) matrix op, replacing
    ~dim interpreted fold steps per row (measured ~100k HOF folds/s vs
    tens of millions of multiply-adds/s here — the dot was the hot-path
    cost of every candidate-scoring stage)."""
    out = np.full(len(va), np.nan)
    rows = [(i, np.asarray(a, dtype=np.float64),
             np.asarray(b, dtype=np.float64))
            for i, (a, b) in enumerate(zip(va, vb))
            if a is not None and b is not None and len(a) == len(b)]
    if rows:
        idx = np.fromiter((i for i, _, _ in rows), dtype=np.intp,
                          count=len(rows))
        # stack per distinct dimension: one Arrow batch may mix vector
        # lengths (each PAIR is internally consistent — the row filter
        # above — but np.stack over mixed (64,)/(32,) rows raises where
        # the per-row Catalyst fold this replaced did not)
        lens = np.fromiter((len(a) for _, a, _ in rows), dtype=np.intp,
                           count=len(rows))
        for ln in np.unique(lens):
            sel = np.nonzero(lens == ln)[0]
            A = np.stack([rows[i][1] for i in sel])
            B = np.stack([rows[i][2] for i in sel])
            out[idx[sel]] = _seq_rowsum(A * B)
    return pd.Series(out)


def _score_pairs(cand: DataFrame, vectors: DataFrame,
                 id_col: str, vec_col: str) -> DataFrame:
    """(id_a, id_b) → + exact rounded cosine; two hash joins on id.

    Norms are computed once per vector (in the joined projection, on
    the small side of the broadcast), not per pair. The per-pair dot
    runs in ONE vectorized Arrow pass (_dot_seq_arrow) — bit-identical
    to the Catalyst fold by shared summation order, asserted in
    tests/test_similarity.py. A Python-UDF node is also a codegen
    boundary: downstream projections that duplicate the cosine column
    (e.g. _topk_from_scored's two orientations) reference the ONE
    evaluated attribute instead of inlining and re-evaluating the
    whole dot expression per copy (Catalyst CollapseProject would)."""
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(vec_col).alias("_v")) \
               .withColumn("_n", norm(F.col("_v")))
    return (
        cand
        .join(v.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"),
                       F.col("_n").alias("_na")), "id_a")
        .join(v.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"),
                       F.col("_n").alias("_nb")), "id_b")
        .select("id_a", "id_b",
                # try_divide: a zero-norm candidate is 0/0 — ANSI-mode
                # `/` would kill the query, NULL just never clears the
                # callers' >= / top-k filters
                stable_round6(F.try_divide(
                    _dot_seq_arrow(F.col("_va"), F.col("_vb")),
                    F.col("_na") * F.col("_nb")))
                .alias("cosine"))
    )


def _topk_from_scored(scored: DataFrame, k: int) -> DataFrame:
    # Both orientations of each scored pair in ONE explode projection.
    # The obvious `scored.unionByName(scored.select(swapped))` scans
    # `scored` twice — and since the candidate subtree above it (bucket
    # UDF → groupBy → pairing → joins → scoring) is deliberately never
    # cached, a union would EVALUATE that whole subtree twice per
    # action (measured ~2× the query wall at sf0.1; same failure class
    # as the rejected uncached verify semi-filter, verify.py:49-59).
    sym = scored.select(F.explode(F.array(
        F.struct(F.col("id_a"), F.col("id_b"), F.col("cosine")),
        F.struct(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"),
                 F.col("cosine")),
    )).alias("_e")).select("_e.id_a", "_e.id_b", "_e.cosine")
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("id_a").alias("query_id"),
                F.col("id_b").alias("neighbor_id"), "cosine",
                F.col("rank").cast("long").alias("rank"))
    )


def ann_topk(
    vectors: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    brute_cutoff: int = 512,
    bucket_cap: int | None = 1024,
    target_occupancy: int = 64,
    metrics: dict | None = None,
) -> DataFrame:
    """Approximate all-pairs top-k: multi-table sign-LSH buckets →
    within-bucket pairing → exact cosine → per-id top-k.

    Plane count auto-scales with the corpus (auto_ann_params) so bucket
    occupancy — and the candidate count per vector — is constant at any
    scale; pass n_planes/n_tables to pin them. Corpora at or below
    ``brute_cutoff`` take the exact broadcast path (cheaper than
    building the index, and exact — so the driver's sf0.01 DuckDB check
    is a true differential; LSH-path recall is asserted separately in
    tests with the cutoff disabled).
    """
    vecs = persist(vectors.select(F.col(id_col).alias(id_col),
                                  F.col(vec_col).alias(vec_col)))
    n = vecs.count()
    if n <= brute_cutoff:
        return cosine_topk(vecs, vecs, k, id_col, vec_col)
    if n_planes is None or n_tables is None:
        auto_p, auto_t = auto_ann_params(n, None, target_occupancy)
        n_planes = n_planes if n_planes is not None else auto_p
        n_tables = n_tables if n_tables is not None else auto_t
    if metrics is not None:
        metrics["ann.n_planes"] = n_planes
        metrics["ann.n_tables"] = n_tables
    assign = ann_assignments(vecs, dim, n_planes, n_tables, seed,
                             id_col, vec_col)
    cand = _pairs_within_groups(assign, ["table", "bucket"], bucket_cap,
                                metrics, "ann")
    scored = _score_pairs(cand, vecs, id_col, vec_col)
    return _topk_from_scored(scored, k)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    brute_cutoff: int = 512,
    bucket_cap: int | None = 4096,
    target_recall: float = 0.9999,
    metrics: dict | None = None,
    strategy: str = "auto",
    brute_frac_cutoff: float = 0.25,
    brute_broadcast_bytes: int = 128 << 20,
) -> DataFrame:
    """Embedding threshold-dedup at scale: sign-LSH candidates + exact
    cosine verify — the bucketed twin of cosine_dup_pairs (round-1 gap:
    the cross join was the only threshold-pair op).

    Same (id_a, id_b, cosine) schema and rounding as cosine_dup_pairs,
    so the exact cross-join oracle doubles as its differential check.
    Table count is solved from the collision model for the given
    threshold and target recall (auto_ann_params); below
    ``brute_cutoff`` the exact path runs directly.

    Cost cliff — now HANDLED by strategy selection, not just
    documented: the solved table count grows steeply as the threshold
    drops — at target_recall=0.9999 a production threshold ≥ 0.85
    needs ~4-8 tables, but threshold 0.4 solves to the 64-table cap,
    and at those parameters the collision model itself
    (``expected_collision_fraction``) predicts near-ALL random pairs
    become candidates (measured 95.4% at sf0.1) — the index does
    strictly more work than brute force. ``strategy="auto"`` therefore
    switches to the exact broadcast-matmul path
    (``_brute_pairs_broadcast``) when BOTH (a) the predicted candidate
    density on random data ≥ ``brute_frac_cutoff`` and (b) the float64
    matrix fits ``brute_broadcast_bytes`` (default 128 MB ≈ 262k
    vectors at dim 64 — beyond that the run is honestly expensive
    either way and LSH with its bucket_cap bound is the lossy-but-
    bounded choice, with ``modeled_recall`` logged). Auto-switching
    only happens when BOTH n_planes and n_tables were left to the
    solver: pinning either is an expert override and keeps the LSH
    path (tests rely on this to exercise capping/metering).
    ``strategy="lsh"`` / ``"brute"`` force a path explicitly. This is
    the reference's ML-driven kernel-selection idea
    (/root/reference/src/ml_model.py) reborn as a closed-form
    cost-model rule, like the skew knobs in operators/autotune.py.
    """
    assert strategy in ("auto", "lsh", "brute"), strategy
    vecs = persist(vectors.select(F.col(id_col).alias(id_col),
                                  F.col(vec_col).alias(vec_col)))
    n = vecs.count()
    if strategy != "brute" and n <= brute_cutoff:
        return cosine_dup_pairs(vecs, threshold, id_col, vec_col)
    solver_free = n_planes is None and n_tables is None
    if n_planes is None or n_tables is None:
        auto_p, auto_t = auto_ann_params(n, threshold,
                                         target_recall=target_recall)
        n_planes = n_planes if n_planes is not None else auto_p
        n_tables = n_tables if n_tables is not None else auto_t
    cand_frac = expected_collision_fraction(n_planes, n_tables)
    mat_bytes = n * dim * 8
    if strategy == "brute" or (
            strategy == "auto" and solver_free
            and cand_frac >= brute_frac_cutoff
            and mat_bytes <= brute_broadcast_bytes):
        if metrics is not None:
            metrics["embdup.strategy"] = "brute_broadcast"
            metrics["embdup.collision_frac"] = round(cand_frac, 6)
            metrics["embdup.modeled_recall"] = 1.0
        return _brute_pairs_broadcast(vecs, threshold, id_col, vec_col)
    if metrics is not None:
        metrics["embdup.strategy"] = "lsh"
        metrics["embdup.collision_frac"] = round(cand_frac, 6)
        # the tuned triple, like the skew knobs (operators/autotune):
        # when the table cap binds and planes were traded away, the
        # modeled recall shows what the run actually ships
        metrics["embdup.n_planes"] = n_planes
        metrics["embdup.n_tables"] = n_tables
        metrics["embdup.modeled_recall"] = round(
            modeled_recall(threshold, n_planes, n_tables), 6)
    assign = ann_assignments(vecs, dim, n_planes, n_tables, seed,
                             id_col, vec_col)
    cand = _pairs_within_groups(assign, ["table", "bucket"], bucket_cap,
                                metrics, "embdup")
    # zero-norm → NULL cosine (try_divide in _score_pairs) → dropped by
    # `>=`; ~isnan additionally drops NaN from non-finite values, which
    # Spark's `>=` would pass (NaN sorts above all doubles) — same
    # degenerate-embeddings-never-pair rule as cosine_dup_pairs and
    # _brute_pairs_broadcast
    return _score_pairs(cand, vecs, id_col, vec_col) \
        .where((F.col("cosine") >= threshold) & ~F.isnan("cosine"))


# ---------------------------------------------------------------------------
# IVF (k-means coarse quantizer)
# ---------------------------------------------------------------------------


def kmeans_centroids(sample: np.ndarray, k: int, iters: int = 10,
                     seed: int = 42) -> np.ndarray:
    """Deterministic Lloyd's k-means on a driver-side sample (numpy).

    The coarse quantizer for IVF: tiny (k × dim floats), broadcast as
    literals. Seeded initialization + fixed iteration count → identical
    centroids on every run and at any parallelism.
    """
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(sample), size=min(k, len(sample)), replace=False)
    sample = np.ascontiguousarray(sample, dtype=np.float64)
    cents = sample[np.sort(idx)].copy()
    for _ in range(iters):
        # ranking form ‖c‖² − 2·X·cᵀ (the shared ‖x‖² cancels in argmin)
        # — same as ivf_assign. The broadcast form
        # ((X[:,None,:]−C[None,:,:])**2).sum(2) materializes a
        # (sample × cells × dim) temporary: 4.3 GB/iteration at the
        # documented limits (2048 × 4096 × 64) — a driver OOM exactly
        # when IVF matters. This form peaks at O(sample · cells).
        d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (sample @ cents.T)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = sample[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def deterministic_sample(vectors: DataFrame, n: int, sample_size: int,
                         id_col: str, vec_col: str) -> np.ndarray:
    """Hash-range sample: constant work, deterministic, no global sort.

    Rows where pmod(xxhash64(id), K) = 0 with K sized for ~1.5× the
    target; the filtered handful is sorted by id on the driver and
    truncated. Replaces the round-1 ``orderBy(xxhash64(id)).limit()``
    (an n·log n global sort for a constant-size sample).
    """
    K = max(1, int(n // max(1, int(sample_size * 1.5))))
    rows = (vectors
            .where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(K)) == 0)
            .select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            .collect())
    rows.sort(key=lambda r: r._id)
    rows = rows[:sample_size]
    return np.array([list(r._v) for r in rows], dtype=np.float64)


def ivf_assign(vectors: DataFrame, centroids: np.ndarray,
               nprobe: int = 2, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, cell) assignment for IVF via one pandas-UDF pass: each
    vector lands in its nearest ``nprobe`` centroid cells (probing > 1
    cell recovers neighbors that straddle a cell boundary).

    One matmul per Arrow batch against the (cells × dim) centroid
    matrix; rank by ||c||² - 2·v·c (the shared ||v||² term cancels).
    """
    cents = np.asarray(centroids, dtype=np.float64)
    c_norm2 = (cents * cents).sum(axis=1)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _cells(vecs: pd.Series) -> pd.Series:
        out: list = [None] * len(vecs)
        rows = [(i, np.asarray(v, dtype=np.float64))
                for i, v in enumerate(vecs) if v is not None and len(v)]
        if not rows:
            return pd.Series(out)
        X = np.stack([v for _, v in rows])
        scores = c_norm2[None, :] - 2.0 * (X @ cents.T)   # (B, cells)
        # stable nprobe-smallest: argsort is deterministic (ties by cell
        # index) — matches the array_sort(struct(score, cell)) semantics
        order = np.argsort(scores, axis=1, kind="stable")[:, :nprobe]
        for j, (i, _) in enumerate(rows):
            out[i] = order[j].astype(np.int32)
        return pd.Series(out)

    return vectors.select(
        F.col(id_col).alias("id"),
        F.explode(_cells(F.col(vec_col))).alias("cell"),
    )


def ivf_topk(
    vectors: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = 2,
    sample_size: int = 2048,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    brute_cutoff: int = 512,
    cell_cap: int | None = 4096,
    target_cell_size: int = 256,
    metrics: dict | None = None,
) -> DataFrame:
    """IVF approximate all-pairs top-k: coarse-quantize into cells,
    pair within probed cells, exact cosine, per-id top-k.

    The IVF counterpart of ann_topk. Cell count auto-scales
    (n / target_cell_size, clamped) so per-cell pairing work is bounded
    at any corpus size; the quantizer trains on a deterministic
    hash-range sample. Below ``brute_cutoff`` the exact broadcast path
    runs instead (see ann_topk).
    """
    vecs = persist(vectors.select(F.col(id_col).alias(id_col),
                                  F.col(vec_col).alias(vec_col)))
    n = vecs.count()
    if n <= brute_cutoff:
        return cosine_topk(vecs, vecs, k, id_col, vec_col)
    if n_cells is None:
        n_cells = max(16, min(4096, n // target_cell_size))
    sample = deterministic_sample(vecs, n, sample_size, id_col, vec_col)
    cents = kmeans_centroids(sample, n_cells, seed=seed)

    assigned = ivf_assign(vecs, cents, nprobe, id_col, vec_col)
    cand = _pairs_within_groups(assigned, ["cell"], cell_cap,
                                metrics, "ivf")
    scored = _score_pairs(cand, vecs, id_col, vec_col)
    return _topk_from_scored(scored, k)
