"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship near-dup clustering on sf0.001 documents.
``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data ops); each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-runnable ANSI SQL equivalents. Every query has
one: the engine's own hash family (byte-polynomial token hash → k-gram
rolling hash → MinHash multiply-add / SimHash bit votes, all mod-2^64
uint64 arithmetic — functions/shingle_arrow.py + functions/hashing.py)
is replicated bit-exactly in SQL via HUGEINT split-multiply (see the
"engine hash family in SQL" section), so even minhash_band_stats and
simhash_near_pairs get full value-hash differentials.

Column-name and value parity rules used throughout:
- every computed column is aliased identically on both sides
- doubles rounded to 6 dp on both sides
- integer outputs cast to BIGINT on both sides
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jaccard_ml_spark.config import DedupConfig
from jaccard_ml_spark.functions import stable_round6 as _r6
from jaccard_ml_spark.functions.shingle_arrow import (
    add_shingle_hash_sets_arrow as add_shingle_hash_sets,
)
from jaccard_ml_spark.operators import dedup as D
from jaccard_ml_spark.operators import quality as Q
from jaccard_ml_spark.operators import similarity as S
from jaccard_ml_spark.operators.candidates import (
    bucket_stats,
    lsh_buckets,
    minhash_signatures,
)
from jaccard_ml_spark.operators.setsim import (
    exact_jaccard_pairs,
    pairwise_metrics,
    posting_lists,
)
from jaccard_ml_spark.persist import persist
from jaccard_ml_spark.plans.pipeline import dedup_documents

CFG = DedupConfig()
K = CFG.k_shingle  # 5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _doc_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"), "text")
    return add_shingle_hash_sets(base, "text", K).select("id", "items")


# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (tokenize → shingle → distinct postings),
# mirroring jaccard_ml_spark.functions.text exactly
# ---------------------------------------------------------------------------

_SQL_TOKS = """
toks AS (
  SELECT doc_id,
         list_filter(
           string_split(
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
           t -> t <> '') AS toks
  FROM documents
)
"""

_SQL_SHINGLES = _SQL_TOKS + f""",
sh AS (
  SELECT doc_id,
         array_to_string(toks[i : i + {K - 1}], ' ') AS shingle
  FROM toks,
       UNNEST(range(1, greatest(len(toks) - {K - 1}, 1) + 1)) AS u(i)
),
s AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle <> '')
"""

_SQL_PAIRS = _SQL_SHINGLES + """,
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT ia, ib, i, sa.sz AS sza, sb.sz AS szb,
         i * 1.0 / (sa.sz + sb.sz - i) AS j
  FROM inter
  JOIN sizes sa ON sa.doc_id = ia
  JOIN sizes sb ON sb.doc_id = ib
)
"""


# ---------------------------------------------------------------------------
# engine hash family in SQL — a bit-exact DuckDB replica of the Arrow
# shingle/MinHash/SimHash kernels (functions/shingle_arrow.py:63-100,
# functions/hashing.py:43-152), so the two queries built on raw engine
# hash values (minhash_band_stats, simhash_near_pairs) get full
# value-hash differentials instead of rows-only checks.
#
# All engine hashes are uint64 multiply-adds. DuckDB BIGINT errors on
# overflow, so the replica works in HUGEINT (int128) mod 2^64; a 64×64
# product can reach 2^128 (overflowing int128), so multiplication is
# split into 32-bit halves — every partial product stays < 2^66:
#   (a·x) mod 2^64 = (aₗxₗ + ((aₗxₕ + aₕxₗ) mod 2^32)·2^32) mod 2^64
# ---------------------------------------------------------------------------

_W64 = "18446744073709551616::HUGEINT"  # 2^64


def _sql_umul64(a: str, x: str) -> str:
    """(a * x) mod 2^64 for two HUGEINT expressions in [0, 2^64)."""
    return (f"((({a}) % 4294967296) * (({x}) % 4294967296) + "
            f"(((({a}) % 4294967296) * (({x}) // 4294967296) + "
            f"(({a}) // 4294967296) * (({x}) % 4294967296)) % 4294967296) "
            f"* 4294967296) % {_W64}")


def _sql_umul64_const(c: int, x: str) -> str:
    """(c * x) mod 2^64 with c a compile-time uint64 constant."""
    ch, cl = c >> 32, c & 0xFFFFFFFF
    return (f"((({x}) % 4294967296) * {cl} + "
            f"(((({x}) % 4294967296) * {ch} + (({x}) // 4294967296) * {cl}) "
            f"% 4294967296) * 4294967296) % {_W64}")


def _sql_engine_items() -> str:
    """CTE chain ending in ``items(doc_id, gram)``: the distinct k-gram
    hash set per document in the ENGINE's hash family, bit-identical to
    ``_doc_sets`` (shingle_arrow._shingle_batch), uint64 domain.

    Mirrors the kernel stage by stage: ASCII lower+split tokenize →
    per-token byte polynomial h = h·M + byte seeded with _HSEED, bytes
    capped at 64 (shingle_arrow._hash_tokens_from_bytes) → finalize
    h' = ((h + len·M) XOR (h >> 31)) · M, where the XOR's right operand
    is the PRE-add polynomial value (shingle_arrow._finalize) → k-gram
    rolling polynomial over token hashes with the short-doc (< k
    tokens) single-gram fallback → DISTINCT (np.unique)."""
    from jaccard_ml_spark.functions.shingle_arrow import _HSEED, _MULT
    m, hs = int(_MULT), int(_HSEED)
    poly = (f"list_reduce(list_prepend({hs}::HUGEINT, "
            f"list_transform(range(1, least(length(t), 64) + 1), "
            f"i -> ord(t[i])::HUGEINT)), "
            f"(h, b) -> ({_sql_umul64_const(m, 'h')} + b) % {_W64})")
    p, ln = "hp[j]", "length(toks[j])::HUGEINT"
    fin = _sql_umul64_const(
        m, f"xor(({p} + ({ln} * {m}::HUGEINT) % {_W64}) % {_W64}, "
           f"{p} // 2147483648)")
    return f"""{_SQL_TOKS},
hp AS (
  SELECT doc_id, toks, list_transform(toks, t -> {poly}) AS hp
  FROM toks WHERE len(toks) > 0
),
th AS (
  SELECT doc_id, list_transform(range(1, len(toks) + 1), j -> {fin}) AS th
  FROM hp
),
grams AS (
  SELECT doc_id,
         list_reduce(th[i : i + {K - 1}], (acc, t) ->
           ({_sql_umul64_const(m, 'acc')} + t) % {_W64}) AS gram
  FROM th, UNNEST(range(1, greatest(len(th) - {K - 1}, 1) + 1)) AS u(i)
),
items AS (SELECT DISTINCT doc_id, gram FROM grams)"""


def _sql_minhash_band_stats() -> str:
    """Full differential for q_minhash_band_stats: the 96 multiply-add
    permutation constants (hashing._perm_params(96, 42)) are embedded
    as literals; sig_j = min over items of (a_j·x + b_j) mod 2^64
    (unsigned min, matching np.minimum on uint64). Buckets are grouped
    by the band's 6-row signature TUPLE instead of the JVM bucket_hash
    — the same partition of (doc, band) rows unless the engine's
    64-bit band hash collides (P ≈ 2⁻⁶⁴ per bucket pair; the output
    stats never expose the hash itself)."""
    from jaccard_ml_spark.functions.hashing import _perm_params
    a, b = _perm_params(CFG.num_perm, CFG.minhash_seed)
    vals = ",".join(f"({j},{int(a[j])}::HUGEINT,{int(b[j])}::HUGEINT)"
                    for j in range(CFG.num_perm))
    r = CFG.rows_per_band
    return f"""
WITH {_sql_engine_items()},
perms(j, a, b) AS (VALUES {vals}),
sig AS (
  SELECT i.doc_id, p.j // {r} AS band_id, p.j,
         min(({_sql_umul64('p.a', 'i.gram')} + p.b) % {_W64}) AS s
  FROM items i CROSS JOIN perms p
  GROUP BY i.doc_id, p.j
),
buckets AS (
  SELECT doc_id, band_id, list(s ORDER BY j) AS bucket_key
  FROM sig GROUP BY doc_id, band_id
),
bs AS (
  SELECT band_id, bucket_key, count(*) AS bucket_size
  FROM buckets GROUP BY band_id, bucket_key
)
SELECT band_id::INT AS band_id,
       count(*)::BIGINT AS n_buckets,
       sum(bucket_size)::BIGINT AS n_rows,
       max(bucket_size)::BIGINT AS max_bucket,
       floor(avg(bucket_size) * 1000000.0 + 0.5) / 1000000.0 AS avg_bucket
FROM bs GROUP BY band_id ORDER BY band_id
"""


def _sql_simhash_near_pairs() -> str:
    """Full differential for q_simhash_near_pairs: the 64-bit engine
    SimHash (hashing.simhash_udf — per-element remix x = h·mix + add,
    bit b of the fingerprint set iff 2·ones_b − n > 0) rebuilt in SQL
    with the same seed-43 mix/add constants, then brute-force Hamming
    pairs (the Spark side's pigeonhole block join is exact within the
    radius, so the pair sets must be identical). Fingerprints are
    compared in the uint64 domain; xor/bit_count are bit-pattern
    functions so the signed int64 view on the Spark side is
    irrelevant."""
    import numpy as np
    rng = np.random.default_rng(CFG.minhash_seed + 1)
    mix = int(np.uint64(rng.integers(1, 2**63, dtype=np.uint64) * 2 + 1))
    add = int(np.uint64(rng.integers(0, 2**63, dtype=np.uint64)))
    radius = CFG.simhash_hamming_max
    bits_terms = " + ".join(
        f"(CASE WHEN 2 * sum((x // {1 << bb}) % 2) - count(*) > 0 "
        f"THEN {1 << bb}::HUGEINT ELSE 0::HUGEINT END)"
        for bb in range(CFG.simhash_bits))
    return f"""
WITH {_sql_engine_items()},
mixed AS (
  SELECT doc_id,
         ({_sql_umul64_const(mix, 'gram')} + {add}::HUGEINT) % {_W64} AS x
  FROM items
),
fp AS (
  SELECT doc_id, {bits_terms} AS f
  FROM mixed GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.f, b.f))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= {radius}
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    """Exact dedup groups via md5 digest (SURVEY dedup op #1)."""
    return D.exact_dup_groups(_docs(spark, sf_dir))


def q_token_stats(spark, sf_dir):
    return Q.token_stats(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return Q.quality_score(_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    return Q.language_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return Q.fingerprint(_docs(spark, sf_dir), k_shingle=K)


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard ≥ 0.5 (the oracle-path operator)."""
    out = exact_jaccard_pairs(_doc_sets(spark, sf_dir), threshold=0.5)
    return out.select("id_a", "id_b", _r6(F.col("jaccard")).alias("jaccard"))


def q_pair_metrics(spark, sf_dir):
    """All 7 reference metrics on pairs sharing ≥ 25% shingles."""
    m = pairwise_metrics(_doc_sets(spark, sf_dir))
    return m.where(F.col("jaccard") >= 0.25).select(
        "id_a", "id_b",
        F.col("intersection").cast("long").alias("intersection"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        _r6(F.col("jaccard")).alias("jaccard"),
        _r6(F.col("adamic_adar")).alias("adamic_adar"),
        _r6(F.col("resource_alloc")).alias("resource_alloc"),
        _r6(F.col("sorensen")).alias("sorensen"),
        _r6(F.col("common_neighbors")).alias("common_neighbors"),
        _r6(F.col("salton")).alias("salton"),
        _r6(F.col("pref_attachment")).alias("pref_attachment"),
    )


def q_lsh_near_dup_pairs(spark, sf_dir):
    """MinHash→LSH→verify at J ≥ 0.8; oracle is the exact computation
    (recall is 1−(1−t^r)^b ≈ 1−5e-8 at the threshold — differential
    testing in the reference's golden-file style)."""
    sets_df = persist(_doc_sets(spark, sf_dir))
    sigs = minhash_signatures(sets_df, CFG)
    from jaccard_ml_spark.operators.candidates import candidate_pairs
    from jaccard_ml_spark.operators.verify import verify_pairs
    pairs = verify_pairs(candidate_pairs(sigs, CFG), sets_df,
                         CFG.jaccard_threshold)
    return pairs.select("id_a", "id_b",
                        _r6(F.col("jaccard")).alias("jaccard"))


def q_dedup_clusters(spark, sf_dir):
    """Full pipeline cluster assignments (cluster_id = min member id)."""
    res = dedup_documents(_docs(spark, sf_dir), CFG)
    return res.clusters.select(
        F.col("id").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"))


def q_containment_pairs(spark, sf_dir):
    """Shingle-containment ≥ 0.9 (turn-prefix / substring dup analog)."""
    out = D.containment_pairs(_doc_sets(spark, sf_dir), threshold=0.9)
    return out.select(
        "id_small", "id_big",
        F.col("intersection").cast("long").alias("intersection"),
        F.col("size_small").cast("long").alias("size_small"),
        F.col("size_big").cast("long").alias("size_big"),
        _r6(F.col("containment")).alias("containment"),
    )


def q_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.cosine_topk(emb.where(F.col("vec_id") < 20), emb, k=5)


def q_assemble_convs(spark, sf_dir):
    """Conversation assembly under stable turn ordering, applied to the
    events table (user_id ≙ conv_id, ts/event_id ≙ turn order)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("user_id")
        .agg(F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("_s"))
        .select(
            F.col("user_id").cast("long").alias("conv_id"),
            F.size("_s").cast("long").alias("n_turns"),
            F.array_join(F.col("_s.event_type"), "\n").alias("text"),
        )
    )


def q_window_argmin(spark, sf_dir):
    """Per-key argmin via window (the reference ML loop's groupby.idxmin,
    ml_model.py:62-64, as a Spark window)."""
    from pyspark.sql import Window
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.asc("value"),
                                              F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(F.col("user_id").cast("long").alias("user_id"),
                F.col("event_id").cast("long").alias("event_id"),
                "event_type", "value")
    )


def q_shingle_df_histogram(spark, sf_dir):
    """Document-frequency histogram in power-of-two classes — the degree
    histogram of /root/reference/src/utils.cuh:326-367, reborn as the
    bucket-cardinality stats that drive skew handling."""
    post = posting_lists(_doc_sets(spark, sf_dir))
    freq = post.groupBy("item").agg(F.count("*").alias("df"))
    bucket = F.when(F.col("df") <= 1, 1)
    for b in [2, 4, 8, 16, 32, 64, 128, 256, 512, 1024]:
        bucket = bucket.when(F.col("df") <= b, b)
    bucket = bucket.otherwise(2048)
    return (
        freq.select(bucket.cast("long").alias("df_bucket"))
        .groupBy("df_bucket")
        .agg(F.count("*").cast("long").alias("n_shingles"))
    )


def q_minhash_band_stats(spark, sf_dir):
    """LSH bucket-cardinality stats per band — the strategy-selection
    input of SURVEY §4.4. Fully oracle-checked: the engine's MinHash
    family is replicated bit-exactly in DuckDB HUGEINT arithmetic
    (_sql_minhash_band_stats)."""
    sigs = minhash_signatures(_doc_sets(spark, sf_dir), CFG)
    stats = bucket_stats(lsh_buckets(sigs, CFG))
    return (
        stats.groupBy("band_id")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum("bucket_size").cast("long").alias("n_rows"),
            F.max("bucket_size").cast("long").alias("max_bucket"),
            _r6(F.avg("bucket_size")).alias("avg_bucket"),
        )
        .orderBy("band_id")
    )


def q_ann_topk(spark, sf_dir):
    """Sign-LSH approximate top-k neighbors. At the driver's sf0.01
    correctness scale (n=500 ≤ brute_cutoff=512) the exact broadcast
    path runs, so the all-pairs top-k SQL is a true differential
    oracle; the LSH path (exercised at bench sf0.1, n=2000) is
    recall-tested in tests/test_similarity.py with the cutoff off."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.ann_topk(emb, dim=64, k=5)


def q_ivf_topk(spark, sf_dir):
    """IVF (k-means cells) approximate top-k neighbors; same
    brute-below-cutoff contract as q_ann_topk (exact at sf0.01,
    IVF cells at bench scale)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.ivf_topk(emb, dim=64, k=5)


def q_embedding_near_dup(spark, sf_dir):
    """Bucketed embedding threshold-dedup (sign-LSH candidates + exact
    cosine verify) — the scale twin of embedding_dup_pairs (VERDICT r1
    item 3). Same schema/rounding as the exact path, so the cross-join
    oracle doubles as its check; exact below brute_cutoff."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.embedding_near_dup_pairs(emb, threshold=0.4, dim=64)


def q_binary_meta(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload + typed metadata
    (documents text re-encoded as the stand-in payload; real decode is
    stubbed — operators/multimodal.py)."""
    docs = _docs(spark, sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("byte_len"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("content_key"),
    )


def q_embedding_dup_pairs(spark, sf_dir):
    """Exact embedding near-duplicates (cosine >= 0.4; the synthetic
    vectors max out at ~0.51 pairwise) — the embedding-
    cosine dedup path; ann_topk is its approximate scale twin."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return S.cosine_dup_pairs(emb, threshold=0.4)


def q_size_window(spark, sf_dir):
    """Degree/size-window filter (reference F2/F3 bin predicate): docs
    whose distinct-shingle cardinality lies in [40, 400]."""
    from jaccard_ml_spark.operators.setsim import (
        set_sizes,
        size_window_filter,
    )
    kept = size_window_filter(_doc_sets(spark, sf_dir), 40, 400)
    return set_sizes(kept).select(F.col("id").alias("doc_id"),
                                  F.col("set_size").cast("long")
                                  .alias("set_size"))


def q_simhash32(spark, sf_dir):
    """SQL-replicable 32-bit SimHash (md5 token hashes) — the oracle-
    checkable twin of the engine's 64-bit xxhash SimHash
    (functions/hashing.simhash_udf)."""
    from jaccard_ml_spark.functions.text import tokens
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"))
    toks = toks.withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"v{b}")
        for b in range(32)
    ]
    g = toks.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0,
                      F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return g.select("doc_id", fp.alias("simhash32"))


def q_simhash_near_pairs(spark, sf_dir):
    """64-bit SimHash Hamming-ball pairs, exact within the radius via
    pigeonhole block join. Fully oracle-checked: the engine fingerprint
    kernel is replicated bit-exactly in DuckDB (_sql_simhash_near_pairs);
    simhash32_near_pairs remains as the md5-family differential twin."""
    from jaccard_ml_spark.operators.simhash_path import (
        simhash_fingerprints,
        simhash_near_pairs,
    )
    fps = simhash_fingerprints(_doc_sets(spark, sf_dir), CFG)
    return simhash_near_pairs(fps, CFG)


def q_simhash32_near_pairs(spark, sf_dir):
    """Hamming-ball pairs over the SQL-replicable 32-bit SimHash — the
    oracle-checkable twin of simhash_near_pairs (same pigeonhole block
    join + exact bit_count verify, md5 hash family instead of xxhash).
    Radius 3 over 4 blocks of 8 bits."""
    from jaccard_ml_spark.operators.simhash_path import _blocks
    radius = 3
    fps = q_simhash32(spark, sf_dir).select(
        "doc_id", F.col("simhash32").alias("simhash"))
    blocks = _blocks(fps.withColumnRenamed("doc_id", "id"),
                     n_blocks=radius + 1, bits=32)
    left = blocks.select("block_id", "block_value",
                         F.col("id").alias("id_a"),
                         F.col("simhash").alias("_sa"))
    right = blocks.select("block_id", "block_value",
                          F.col("id").alias("id_b"),
                          F.col("simhash").alias("_sb"))
    cands = (left.join(right, ["block_id", "block_value"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "_sa", "_sb").distinct())
    return (cands
            .select("id_a", "id_b",
                    F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                    .cast("long").alias("hamming"))
            .where(F.col("hamming") <= radius))


def q_substring_pairs(spark, sf_dir):
    """Anchor-sampled substring containment, exact instr verification.

    Output: verified (id_small ⊂ id_big) pairs only — the anchor
    containment score is xxhash-sample-dependent (not SQL-mirrorable),
    but the verified pair SET is, so the DuckDB position() cross join
    is the differential oracle. The check restricts the CONTAINED side
    to normalized length ≥ 39 (g ≥ 16 k-grams) on BOTH sides: below
    that, anchor sampling can legitimately miss a short doc contained
    in a long sampled one (operators/suffix.anchor_sets, short-doc
    floor note), so the differential would compare an engine guarantee
    the engine does not make. At mod=2 the residual per-doc miss
    probability above the floor is (1/2)^16 ≈ 1.5e-5."""
    from jaccard_ml_spark.functions.text import normalize_text
    from jaccard_ml_spark.operators.suffix import substring_pairs
    out = substring_pairs(_docs(spark, sf_dir), mod=2)
    small_len = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id_small"),
        F.length(normalize_text(F.col("text"))).alias("_len_small"))
    return (out.where(F.col("is_substring") == 1)
            .join(small_len, "id_small")
            .where(F.col("_len_small") >= 39)
            .select("id_small", "id_big"))


def q_cluster_representatives(spark, sf_dir):
    """Canonicalization: one representative per near-dup cluster (the
    highest-quality member, ties to the lowest doc_id); keep=0 rows are
    the drop list. The downstream consumer of dedup_clusters that a
    training-data pipeline actually runs (operators/curation.py)."""
    from jaccard_ml_spark.operators.curation import cluster_representatives
    res = dedup_documents(_docs(spark, sf_dir), CFG)
    qual = Q.quality_score(_docs(spark, sf_dir))
    return cluster_representatives(res.clusters, qual)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs containing ≥50% of an
    eval doc's shingles. Eval side = doc_id % 20 == 0 (a deterministic
    stand-in benchmark); the operator broadcasts the eval postings so
    the training side streams shuffle-free (operators/curation.py)."""
    from jaccard_ml_spark.operators.curation import decontaminate
    sets_df = _doc_sets(spark, sf_dir)
    ev = sets_df.where(F.pmod(F.col("id"), F.lit(20)) == 0)
    tr = sets_df.where(F.pmod(F.col("id"), F.lit(20)) != 0)
    return decontaminate(tr, ev, threshold=0.5)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-duplicate clusters of sf0.001 documents."""
    return q_dedup_clusters(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup": q_exact_dedup,
        "token_stats": q_token_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "pair_metrics": q_pair_metrics,
        "lsh_near_dup_pairs": q_lsh_near_dup_pairs,
        "dedup_clusters": q_dedup_clusters,
        "containment_pairs": q_containment_pairs,
        "cosine_topk": q_cosine_topk,
        "assemble_convs": q_assemble_convs,
        "window_argmin": q_window_argmin,
        "shingle_df_histogram": q_shingle_df_histogram,
        "size_window": q_size_window,
        "minhash_band_stats": q_minhash_band_stats,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "binary_meta": q_binary_meta,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "embedding_near_dup": q_embedding_near_dup,
        "simhash32": q_simhash32,
        "simhash_near_pairs": q_simhash_near_pairs,
        "simhash32_near_pairs": q_simhash32_near_pairs,
        "substring_pairs": q_substring_pairs,
        "cluster_representatives": q_cluster_representatives,
        "decontaminate": q_decontaminate,
    }


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["exact_dedup"] = """
SELECT doc_id,
       md5(text) AS text_md5,
       (count(*) OVER w)::BIGINT AS group_size,
       min(doc_id) OVER w AS canonical_id,
       (doc_id <> min(doc_id) OVER w)::BIGINT AS is_duplicate
FROM documents
WINDOW w AS (PARTITION BY md5(text))
"""

    sql["token_stats"] = f"""
WITH {_SQL_TOKS}
SELECT d.doc_id,
       length(d.text)::BIGINT AS n_chars,
       len(t.toks)::BIGINT AS n_tokens,
       len(list_distinct(t.toks))::BIGINT AS n_distinct_tokens,
       floor((CASE WHEN len(t.toks) > 0
             THEN list_sum(list_transform(t.toks, x -> length(x))) * 1.0
                  / len(t.toks)
             ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS avg_token_len,
       coalesce(list_sum(list_transform(t.toks,
                x -> floor((length(x) + 3) / 4))), 0)::BIGINT AS bpe_token_est
FROM documents d JOIN toks t USING (doc_id)
"""

    sql["quality_score"] = f"""
WITH {_SQL_TOKS}
SELECT doc_id,
       len(toks)::BIGINT AS n_tokens,
       floor((
         0.3 * least(len(toks) / 100.0, 1.0)
         + 0.3 * (CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks)) * 1.0 / len(toks)
                  ELSE 0.0 END)
         + 0.4 * least((CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0
                       / len(toks) ELSE 0.0 END) / 8.0, 1.0)
       ) * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM toks
"""

    stop_lists = {lang: ", ".join(f"'{w}'" for w in ws)
                  for lang, ws in Q.STOPWORDS.items()}
    hit_exprs = ",\n       ".join(
        f"len(list_intersect(list_distinct(toks), [{stop_lists[lang]}]))::BIGINT"
        f" AS hits_{lang}"
        for lang in sorted(Q.STOPWORDS)
    )
    guess_expr = "CASE WHEN best = 0 THEN 'und' " + " ".join(
        f"WHEN hits_{lang} = best THEN '{lang}'"
        for lang in sorted(Q.STOPWORDS)
    ) + " END"
    sql["lang_id"] = f"""
WITH {_SQL_TOKS},
hits AS (
  SELECT doc_id,
       {hit_exprs}
  FROM toks
),
best AS (
  SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr) AS best FROM hits
)
SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
       {guess_expr} AS lang_guess
FROM best
"""

    sql["fingerprint"] = f"""
WITH {_SQL_SHINGLES}
SELECT doc_id,
       count(*)::BIGINT AS n_shingles,
       array_to_string(list_sort(list(md5(shingle)))[1:4], '|')
         AS fingerprint
FROM s GROUP BY doc_id
"""

    sql["ngram_jaccard_pairs"] = f"""
WITH {_SQL_PAIRS}
SELECT ia AS id_a, ib AS id_b, floor((j) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM jac WHERE j >= 0.5
"""

    sql["pair_metrics"] = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
freq AS (SELECT shingle, count(*) AS df FROM s GROUP BY shingle),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib,
         count(*) AS i,
         sum(1.0 / ln(f.df)) AS aa,
         sum(1.0 / f.df) AS ra
  FROM s a
  JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN freq f ON f.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT ia AS id_a, ib AS id_b,
       i::BIGINT AS intersection,
       sa.sz::BIGINT AS size_a,
       sb.sz::BIGINT AS size_b,
       floor((i * 1.0 / (sa.sz + sb.sz - i)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard,
       floor((aa) * 1000000.0 + 0.5) / 1000000.0 AS adamic_adar,
       floor((ra) * 1000000.0 + 0.5) / 1000000.0 AS resource_alloc,
       floor((i * 1.0 / (sa.sz + sb.sz)) * 1000000.0 + 0.5) / 1000000.0 AS sorensen,
       floor((i * 1.0) * 1000000.0 + 0.5) / 1000000.0 AS common_neighbors,
       floor((i / sqrt(sa.sz * 1.0 * sb.sz)) * 1000000.0 + 0.5) / 1000000.0 AS salton,
       floor((sa.sz * 1.0 * sb.sz) * 1000000.0 + 0.5) / 1000000.0 AS pref_attachment
FROM inter
JOIN sizes sa ON sa.doc_id = ia
JOIN sizes sb ON sb.doc_id = ib
WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.25
"""

    sql["lsh_near_dup_pairs"] = f"""
WITH {_SQL_PAIRS}
SELECT ia AS id_a, ib AS id_b, floor((j) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM jac WHERE j >= 0.8
"""

    sql["dedup_clusters"] = f"""
WITH RECURSIVE {_SQL_PAIRS},
p AS (SELECT ia, ib FROM jac WHERE j >= 0.8),
edges AS (SELECT ia AS s, ib AS d FROM p
          UNION SELECT ib, ia FROM p),
reach AS (
  SELECT doc_id AS id, doc_id AS peer FROM documents
  UNION
  SELECT r.id, e.d FROM reach r JOIN edges e ON r.peer = e.s
)
SELECT id AS doc_id, min(peer)::BIGINT AS cluster_id
FROM reach GROUP BY id
"""

    sql["containment_pairs"] = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS sz FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS i
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sided AS (
  SELECT CASE WHEN sa.sz <= sb.sz THEN ia ELSE ib END AS id_small,
         CASE WHEN sa.sz <= sb.sz THEN ib ELSE ia END AS id_big,
         i, least(sa.sz, sb.sz) AS s_small, greatest(sa.sz, sb.sz) AS s_big
  FROM inter
  JOIN sizes sa ON sa.doc_id = ia
  JOIN sizes sb ON sb.doc_id = ib
)
SELECT id_small, id_big,
       i::BIGINT AS intersection,
       s_small::BIGINT AS size_small,
       s_big::BIGINT AS size_big,
       floor((i * 1.0 / s_small) * 1000000.0 + 0.5) / 1000000.0 AS containment
FROM sided WHERE i * 1.0 / s_small >= 0.9
"""

    sql["cosine_topk"] = """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
sc AS (
  SELECT qid, nid,
         floor((list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv)))) * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM q, c WHERE qid <> nid
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, nid) AS rn
      FROM sc)
SELECT qid AS query_id, nid AS neighbor_id, cosine, rn::BIGINT AS rank
FROM r WHERE rn <= 5
"""

    sql["assemble_convs"] = """
SELECT user_id::BIGINT AS conv_id,
       count(*)::BIGINT AS n_turns,
       string_agg(event_type, chr(10) ORDER BY ts, event_id) AS text
FROM events GROUP BY user_id
"""

    sql["window_argmin"] = """
WITH r AS (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value, event_id) AS rn
  FROM events
)
SELECT user_id::BIGINT AS user_id, event_id::BIGINT AS event_id,
       event_type, value
FROM r WHERE rn = 1
"""

    buckets_case = "CASE WHEN df <= 1 THEN 1 " + " ".join(
        f"WHEN df <= {b} THEN {b}"
        for b in [2, 4, 8, 16, 32, 64, 128, 256, 512, 1024]
    ) + " ELSE 2048 END"
    sql["shingle_df_histogram"] = f"""
WITH {_SQL_SHINGLES},
freq AS (SELECT shingle, count(*) AS df FROM s GROUP BY shingle)
SELECT ({buckets_case})::BIGINT AS df_bucket,
       count(*)::BIGINT AS n_shingles
FROM freq GROUP BY 1
"""

    sql["binary_meta"] = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS byte_len,
       substr(md5(text), 1, 8) AS content_key
FROM documents
"""
    sql["embedding_dup_pairs"] = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
n AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v),
sc AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         floor((list_dot_product(a.e, b.e) / (a.nrm * b.nrm))
               * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine FROM sc WHERE cosine >= 0.4
"""

    sql["size_window"] = f"""
WITH {_SQL_SHINGLES}
SELECT doc_id, count(*)::BIGINT AS set_size
FROM s GROUP BY doc_id
HAVING count(*) BETWEEN 40 AND 400
"""

    # the bucketed scale twin verifies with the same exact cosine, so
    # the exact cross join is its oracle too (recall 1.0 at test scale:
    # exact path below brute_cutoff)
    sql["embedding_near_dup"] = sql["embedding_dup_pairs"]

    # all-pairs exact top-k: valid oracle because at sf0.01 (n=500 ≤
    # brute_cutoff) ann_topk/ivf_topk take the exact broadcast path
    _ALL_PAIRS_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
sc AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         floor((list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))))
               * 1000000.0 + 0.5) / 1000000.0 AS cosine
  FROM v a JOIN v b ON a.vec_id <> b.vec_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, nid) AS rn
      FROM sc)
SELECT qid AS query_id, nid AS neighbor_id, cosine, rn::BIGINT AS rank
FROM r WHERE rn <= 5
"""
    sql["ann_topk"] = _ALL_PAIRS_TOPK
    sql["ivf_topk"] = _ALL_PAIRS_TOPK

    # substring containment: the verified pair set is hash-free, so the
    # brute-force position() cross join mirrors it exactly. Orientation:
    # contained side first; identical texts keep the lower id first —
    # matching operators/suffix.substring_pairs' re-orientation rule.
    # len_small >= 39 mirrors the Spark query's contained-side floor
    # (39 chars = k_char-1 + 16 grams): below it anchor sampling has no
    # recall guarantee for short-inside-long pairs, so both sides of
    # the differential exclude that regime (see q_substring_pairs).
    sql["substring_pairs"] = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
),
p AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, a.t AS ta, b.t AS tb
  FROM n a JOIN n b ON a.doc_id < b.doc_id
),
o AS (
  SELECT CASE WHEN position(ta IN tb) > 0 THEN ia ELSE ib END AS id_small,
         CASE WHEN position(ta IN tb) > 0 THEN ib ELSE ia END AS id_big,
         CASE WHEN position(ta IN tb) > 0 THEN length(ta)
              ELSE length(tb) END AS len_small
  FROM p
  WHERE position(ta IN tb) > 0 OR position(tb IN ta) > 0
)
SELECT id_small, id_big FROM o WHERE len_small >= 39
"""

    sql["simhash32"] = f"""
WITH {_SQL_TOKS},
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM toks),
h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, UNNEST(range(0, 32)) AS u(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
         AS simhash32
FROM bits GROUP BY doc_id
"""

    # exact Hamming-ball pairs over the 32-bit twin: brute force at
    # test scale (the Spark side's pigeonhole join is exact within the
    # radius, so the pair sets must be identical)
    sql["simhash32_near_pairs"] = f"""
WITH sh AS ({sql['simhash32']})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash32, b.simhash32))::BIGINT AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash32, b.simhash32)) <= 3
"""

    # quality formula shared with quality_score (rounded to 6 dp so the
    # per-cluster argmax is engine-reproducible)
    _Q_EXPR = """floor((
         0.3 * least(len(toks) / 100.0, 1.0)
         + 0.3 * (CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks)) * 1.0 / len(toks)
                  ELSE 0.0 END)
         + 0.4 * least((CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) * 1.0
                       / len(toks) ELSE 0.0 END) / 8.0, 1.0)
       ) * 1000000.0 + 0.5) / 1000000.0"""

    sql["cluster_representatives"] = f"""
WITH RECURSIVE {_SQL_PAIRS},
p AS (SELECT ia, ib FROM jac WHERE j >= 0.8),
edges AS (SELECT ia AS s, ib AS d FROM p
          UNION SELECT ib, ia FROM p),
reach AS (
  SELECT doc_id AS id, doc_id AS peer FROM documents
  UNION
  SELECT r.id, e.d FROM reach r JOIN edges e ON r.peer = e.s
),
clus AS (SELECT id AS doc_id, min(peer) AS cluster_id
         FROM reach GROUP BY id),
q AS (SELECT doc_id, {_Q_EXPR} AS quality FROM toks),
m AS (SELECT c.doc_id, c.cluster_id, q.quality
      FROM clus c JOIN q USING (doc_id)),
r0 AS (
  SELECT cluster_id, doc_id AS rep_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id) AS rn
  FROM m
)
SELECT m.doc_id,
       m.cluster_id::BIGINT AS cluster_id,
       reps.rep_id::BIGINT AS rep_id,
       (m.doc_id = reps.rep_id)::BIGINT AS keep
FROM m JOIN (SELECT cluster_id, rep_id FROM r0 WHERE rn = 1) reps
  USING (cluster_id)
"""

    sql["decontaminate"] = f"""
WITH {_SQL_SHINGLES},
ev AS (SELECT doc_id, shingle FROM s WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, shingle FROM s WHERE doc_id % 20 <> 0),
evsz AS (SELECT doc_id, count(*) AS sz FROM ev GROUP BY doc_id),
inter AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS i
  FROM tr t JOIN ev e ON t.shingle = e.shingle
  GROUP BY 1, 2
)
SELECT train_id, eval_id,
       i::BIGINT AS intersection,
       z.sz::BIGINT AS size_eval,
       floor((i * 1.0 / z.sz) * 1000000.0 + 0.5) / 1000000.0 AS containment
FROM inter JOIN evsz z ON z.doc_id = eval_id
WHERE i * 1.0 / z.sz >= 0.5
"""

    # engine-hash-family differentials (bit-exact HUGEINT replicas of
    # the Arrow kernels — see the "engine hash family in SQL" section)
    sql["minhash_band_stats"] = _sql_minhash_band_stats()
    sql["simhash_near_pairs"] = _sql_simhash_near_pairs()
    return sql
