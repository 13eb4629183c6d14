"""Arrow-vectorized shingling: text → sorted distinct k-gram hash sets.

The pipeline's only shingle path. The Catalyst-expression path it
replaced allocated ~10-15 KB of short-lived objects per conversation
(normalized string, ~400-900 token UTF8Strings, slices) — measured as
the single-JVM scaling limiter: at local[16] the shared allocator
collapsed (94s → 226s vs local[4] on 1.9M turns). This path does the same computation per Arrow batch in
C-vectorized steps with NO per-token Python objects either — the
round-1 version built a Python ``str`` per token (~700 per row), whose
CPython obmalloc arena churn caused kernel-level mmap/munmap storms at
high worker counts (675M page faults / 65-83%% system time measured).

Per batch (all numpy, one pass over the concatenated UTF-8 bytes):

  normalize   256-byte lookup table: A-Z→a-z, a-z/0-9 identity,
              everything else → 0 (token separator). Byte-exact with
              the ``lower → [^a-z0-9]+→' ' → split`` definition for
              ASCII; rows containing non-ASCII bytes take a per-row
              fallback (same hash family) because Unicode lowercasing
              can map into [a-z0-9] (e.g. Kelvin sign → 'k').
  tokenize    token start/end indices via the separator mask — no
              string slicing, just integer arrays
  token hash  bounded-iteration polynomial over token bytes: iterate
              byte position j (≤ _MAX_TOKEN_BYTES), each step one
              vectorized multiply-add over all tokens still longer
              than j. Token length is mixed in, so only equal-prefix
              equal-length tokens ≥ 64 bytes can collide (documented).
  k-gram hash rolling polynomial over the flat uint64 token-hash
              array with per-row boundary masking — pure numpy
  distinct+sort np.unique per row slice

Hash family differs from functions/text.py (byte-polynomial vs
xxhash64); set cardinalities, equality relations, and
therefore Jaccard values are identical w.h.p. — both are content-keyed
64-bit families.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_NONALNUM = re.compile(r"[^a-z0-9]+")
_MULT = np.uint64(0x9E3779B97F4A7C15)  # odd polynomial base
_HSEED = np.uint64(0x243F6A8885A308D3)  # token-hash seed (pi bits)
_MAX_TOKEN_BYTES = 64

# byte → normalized byte (0 = separator)
_LUT = np.zeros(256, dtype=np.uint8)
for _c in range(ord("a"), ord("z") + 1):
    _LUT[_c] = _c
for _c in range(ord("0"), ord("9") + 1):
    _LUT[_c] = _c
for _c in range(ord("A"), ord("Z") + 1):
    _LUT[_c] = _c + 32


def _finalize(h: np.ndarray, length: np.ndarray) -> np.ndarray:
    """Mix token byte-length into the polynomial hash (splitmix-style)."""
    h = (h + length.astype(np.uint64) * _MULT) ^ (h >> np.uint64(31))
    return h * _MULT


def _hash_tokens_from_bytes(norm: np.ndarray,
                            starts: np.ndarray,
                            ends: np.ndarray) -> np.ndarray:
    """uint64 hash per token, bounded-iteration vectorized polynomial."""
    n_tok = len(starts)
    h = np.full(n_tok, _HSEED, dtype=np.uint64)
    lens = ends - starts
    max_len = int(lens.max()) if n_tok else 0
    for j in range(min(max_len, _MAX_TOKEN_BYTES)):
        active = lens > j
        idx = starts[active] + j
        h[active] = h[active] * _MULT + norm[idx].astype(np.uint64)
    return _finalize(h, lens)


def _hash_token_scalar(tok: str) -> np.uint64:
    """Scalar twin of _hash_tokens_from_bytes for the non-ASCII
    fallback — identical output for identical normalized tokens."""
    full = tok.encode("utf-8")
    bs = full[:_MAX_TOKEN_BYTES]
    with np.errstate(over="ignore"):
        h = _HSEED
        for b in bs:
            h = h * _MULT + np.uint64(b)
        return _finalize(np.array([h], dtype=np.uint64),
                         np.array([len(full)]))[0]


def _tokenize_hash_batch(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(flat token-hash uint64 array, per-row token counts)."""
    n_rows = len(texts)
    counts = np.zeros(n_rows, dtype=np.int64)
    bufs: list[bytes] = []
    offs = np.zeros(n_rows + 1, dtype=np.int64)
    ascii_row = np.ones(n_rows, dtype=bool)
    pos = 0
    for i, t in enumerate(texts):
        if t is None:
            b = b""
        else:
            try:
                b = t.encode("ascii")
            except UnicodeEncodeError:
                ascii_row[i] = False
                b = b""
        bufs.append(b)
        pos += len(b) + 1          # +1: separator byte between rows
        offs[i + 1] = pos

    data = b"\x00".join(bufs) + b"\x00"
    raw = np.frombuffer(data, dtype=np.uint8)
    norm = _LUT[raw]

    nz = norm != 0
    prev = np.empty_like(nz)
    prev[0] = False
    prev[1:] = nz[:-1]
    starts = np.flatnonzero(nz & ~prev)
    nxt = np.empty_like(nz)
    nxt[-1] = False
    nxt[:-1] = nz[1:]
    ends = np.flatnonzero(nz & ~nxt) + 1

    th_fast = _hash_tokens_from_bytes(norm, starts, ends)
    # row of each token: rows span [offs[i], offs[i+1]) in `data`
    row_of = np.searchsorted(offs[1:], starts, side="right")
    fast_counts = np.bincount(row_of, minlength=n_rows)
    counts[:] = fast_counts

    if ascii_row.all():
        return th_fast, counts

    # splice in per-row fallback hashes for non-ASCII rows (same
    # normalization semantics as functions/text.py, same hash family)
    pieces: list[np.ndarray] = []
    cursor = 0
    for i in range(n_rows):
        if ascii_row[i]:
            c = int(fast_counts[i])
            pieces.append(th_fast[cursor:cursor + c])
            cursor += c
        else:
            t = texts.iloc[i]
            toks = _NONALNUM.sub(" ", t.lower()).split()
            counts[i] = len(toks)
            pieces.append(np.array([_hash_token_scalar(x) for x in toks],
                                   dtype=np.uint64))
    return (np.concatenate(pieces) if pieces
            else np.empty(0, dtype=np.uint64)), counts


def _shingle_batch(texts: pd.Series, k: int) -> pd.Series:
    with np.errstate(over="ignore"):
        return _shingle_batch_inner(texts, k)


def _shingle_batch_inner(texts: pd.Series, k: int) -> pd.Series:
    th, lens = _tokenize_hash_batch(texts)
    empty = np.empty(0, dtype=np.int64)
    out: list = [empty] * len(texts)
    total = int(lens.sum())
    if total == 0:
        return pd.Series(out)

    # rolling polynomial k-gram hash over the flat array; grams that
    # would cross a row boundary are masked out afterwards
    n_grams = total - k + 1
    starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    if n_grams > 0:
        acc = th[:n_grams].copy()
        for j in range(1, k):
            acc *= _MULT
            acc += th[j:j + n_grams]
    else:
        acc = np.empty(0, dtype=np.uint64)
    acc_i64 = acc.view(np.int64) if len(acc) else acc

    for i in range(len(texts)):
        n = int(lens[i])
        if n == 0:
            continue
        s = int(starts[i])
        if n >= k:
            grams = acc_i64[s:s + n - k + 1]
        else:
            # short doc: one shingle = polynomial over all its tokens
            h = th[s]
            for j in range(1, n):
                h = h * _MULT + th[s + j]
            grams = np.array([h], dtype=np.uint64).view(np.int64)
        out[i] = np.unique(grams)
    return pd.Series(out)


def shingle_sets_udf(k: int):
    from jaccard_ml_spark.functions._trace import traced
    kernel = traced("shingle", lambda texts: _shingle_batch(texts, k))

    @pandas_udf(T.ArrayType(T.LongType()))
    def _shingles(texts: pd.Series) -> pd.Series:
        return kernel(texts)

    return _shingles


def add_shingle_hash_sets_arrow(df, text_col: str, k: int,
                                out_col: str = "items"):
    """DataFrame helper: text → sorted distinct shingle-hash sets in
    ``out_col``, one Arrow UDF pass."""
    udf = shingle_sets_udf(k)
    return df.withColumn(out_col, udf(F.col(text_col)))


def fused_shingle_minhash(df, text_col: str, k: int,
                          num_perm: int, seed: int,
                          id_col: str = "id"):
    """(id, text) → (id, items, set_size, signature) in ONE Arrow pass.

    The two-UDF formulation ships the shingle-hash arrays across the
    JVM↔Python boundary twice — once out of the shingle UDF, once back
    into the MinHash UDF. The element arrays are the pipeline's widest
    column (~600 int64 per conversation, ~5× the text bytes), and the
    box-level profile shows the stage that carries them is memory-
    bandwidth-bound (BENCH/stage_diag.py; SCALE_NOTES) — so the second
    round trip is pure bandwidth tax: the MinHash kernel consumes
    exactly what the shingle kernel just produced. Fusing them runs
    both kernels back-to-back on the in-process numpy arrays and
    crosses the boundary once: text in, (items, set_size, signature)
    out. Kernels are shared with the standalone UDFs
    (``_shingle_batch``, ``hashing.minhash_core``), so items and
    signatures are bit-identical to the unfused path — asserted by
    test_fused_equals_two_step.

    Analog of the reference folding hash generation into the same CUDA
    kernel as the bucket scatter rather than materializing
    intermediates through global memory twice (src/main.cu batching).
    """
    from jaccard_ml_spark.functions._trace import traced
    from jaccard_ml_spark.functions.hashing import (
        _perm_params,
        minhash_core,
    )

    a, b = _perm_params(num_perm, seed)
    shingle_kernel = traced("shingle",
                            lambda texts: _shingle_batch(texts, k))
    mh_kernel = traced("minhash",
                       lambda items: minhash_core(items, a, b, num_perm))

    schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType),
        T.StructField("items", T.ArrayType(T.LongType())),
        T.StructField("set_size", T.IntegerType()),
        T.StructField("signature", T.ArrayType(T.LongType())),
    ])

    def gen(batches):
        # input batches carry exactly (id, <text_col>) — id is aliased
        # before mapInPandas so the kernel is name-agnostic on the
        # caller's id column
        for pdf in batches:
            items = shingle_kernel(pdf[text_col])
            sigs = mh_kernel(items)
            yield pd.DataFrame({
                "id": pdf["id"].to_numpy(),
                "items": items.to_numpy(),
                "set_size": np.fromiter(
                    (len(x) for x in items), dtype=np.int32,
                    count=len(items)),
                "signature": sigs.to_numpy(),
            })

    return df.select(F.col(id_col).alias("id"),
                     F.col(text_col)).mapInPandas(gen, schema)
