"""Text normalization, tokenization and k-shingling — pure JVM expressions.

The reference's "sets" are sorted, deduplicated adjacency lists
(``/root/reference/src/utils.cuh:185-186``); ours are the distinct k-token
shingles of a normalized text. Everything in this module stays inside
whole-stage codegen: ``lower``/``regexp_replace``/``split`` plus
higher-order functions (``transform``/``slice``/``array_join``) for the
k-gram window, and ``xxhash64`` for 64-bit shingle hashing. No Python in
the hot path.

All shapes here are deliberately reproducible in plain ANSI SQL (the
DuckDB oracle mirrors each step) so the exact-Jaccard results can be
differentially tested the way the reference tests its kernels against the
golden ``.corr.bin`` (``/root/reference/src/utils.cuh:689-698``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse every non-alphanumeric run to one space, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def tokens(col: Column) -> Column:
    """Split normalized text into word tokens; empty text → empty array."""
    norm = normalize_text(col)
    return F.filter(F.split(norm, " "), lambda t: t != F.lit(""))


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """Distinct k-token shingles from an ALREADY-MATERIALIZED token array.

    ``toks`` must be a plain column attribute, not an expression: any
    expression referenced inside a higher-order-function lambda is
    re-evaluated once PER ELEMENT (Catalyst performs no CSE across
    lambda iterations), which turns tokenization into
    O(n_tokens · |text|) per row — a measured 26× slowdown. Callers
    materialize the tokens at a projection boundary first. That boundary
    only holds while no filter lands below it: filter pushdown, and the
    ``size(x) > 0`` filter Spark infers for an ``explode`` of an
    attribute, substitute the attribute's expression back into every
    lambda the filter's condition carries. A value bound as an outer
    lambda variable is immune (operators/suffix.anchor_sets). Texts
    shorter than ``k`` tokens produce one shingle = the whole token
    list, so no document vanishes from the index.
    """
    n = F.greatest(F.size(toks) - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    # empty token list → [""] from array_join; drop it
    return F.array_distinct(F.filter(grams, lambda g: g != F.lit("")))


def shingle_hashes_from_tokens(toks: Column, k: int) -> Column:
    """Sorted distinct 64-bit shingle hashes from a token-array column.

    The set representation used by the whole pipeline: int64 hashes, never
    strings (SURVEY §7.4.5 — 10^12-turn arithmetic needs fixed-width keys;
    the reference's own uint32-overflow caveat is /root/reference/src/main.cu:30).
    Sorted so that downstream ``array_intersect`` and signature computation
    are deterministic regardless of input row order.
    """
    return F.array_sort(
        F.transform(shingles_from_tokens(toks, k), lambda s: F.xxhash64(s)))


def shingles(col: Column, k: int) -> Column:
    """Column-level convenience (SMALL/TEST data only — see
    shingles_from_tokens for why: the token expression re-evaluates per
    shingle position when inlined into the HOF lambda)."""
    return shingles_from_tokens(tokens(col), k)


def shingle_hashes(col: Column, k: int) -> Column:
    """Column-level convenience (SMALL/TEST data only)."""
    return shingle_hashes_from_tokens(tokens(col), k)
