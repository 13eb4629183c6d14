"""Exact reference answers computed without Spark and without the engine.

The benchmark checks the engine's outputs against answers it derives on
its own from the generated parquet, so a bug in a shared engine helper
cannot make a wrong output look right. Definitions mirror the engine's
documented semantics:

- assembly: turns ordered by ``turn_idx``; a repeated (conv_id,
  turn_idx) keeps its lexicographically first text; joined by "\\n";
- shingles: lowercase, every run of characters outside [a-z0-9] is a
  token separator, distinct k-token windows; a text with fewer than k
  tokens is one shingle of all its tokens, an empty text has none;
- Jaccard, containment: exact set arithmetic over those shingles;
- substrings: ``lower`` + non-alphanumeric runs to one space + trim.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from itertools import combinations

import pyarrow.parquet as pq

_NONALNUM = re.compile(r"[^a-z0-9]+")
_TOKEN = re.compile(r"[a-z0-9]+")


def assemble(transcripts_path: str, separator: str = "\n") -> dict:
    """{conv_id: (n_turns, text)} from the transcripts parquet."""
    table = pq.read_table(transcripts_path,
                          columns=["conv_id", "turn_idx", "text"])
    turns: dict = defaultdict(dict)
    for cid, idx, text in zip(*(table.column(c).to_pylist()
                                 for c in ("conv_id", "turn_idx", "text"))):
        text = text if text is not None else ""
        have = turns[cid].get(idx)
        if have is None or text < have:
            turns[cid][idx] = text
    return {cid: (len(t), separator.join(t[i] for i in sorted(t)))
            for cid, t in turns.items()}


def shingle_sets(texts: dict, k: int) -> dict:
    """{id: frozenset of shingle hashes}; Python's 64-bit tuple hash
    stands in for the engine's (only set sizes and equality matter)."""
    out = {}
    for cid, text in texts.items():
        toks = _TOKEN.findall(text.lower())
        if len(toks) < k:
            out[cid] = frozenset([hash(tuple(toks))] if toks else [])
        else:
            out[cid] = frozenset(map(hash, zip(*(toks[i:]
                                                  for i in range(k)))))
    return out


def intersections(sets: dict) -> dict:
    """{(id_a, id_b): |A ∩ B|} for every pair sharing a shingle, id_a < id_b.

    Shingles with the same posting list are counted once with their
    multiplicity: a boilerplate block shared by many conversations is
    one posting list repeated for every shingle in it."""
    postings: dict = defaultdict(list)
    for cid in sorted(sets):
        for g in sets[cid]:
            postings[g].append(cid)
    lists = Counter(tuple(ids) for ids in postings.values() if len(ids) > 1)
    inter: dict = defaultdict(int)
    for ids, mult in lists.items():
        for pair in combinations(ids, 2):
            inter[pair] += mult
    return inter


def jaccard_pairs(sets: dict, inter: dict, threshold: float) -> dict:
    """{(id_a, id_b): jaccard} for every pair with J ≥ threshold."""
    out = {}
    for (a, b), n in inter.items():
        j = n / (len(sets[a]) + len(sets[b]) - n)
        if j >= threshold:
            out[(a, b)] = j
    return out


def containment_pairs(sets: dict, inter: dict, threshold: float) -> dict:
    """{(id_small, id_big): |A ∩ B| / |small|} at or above threshold.

    The smaller set comes first; equal sizes order by id (the engine's
    ``size_a <= size_b`` tie-break on canonical id_a < id_b pairs)."""
    out = {}
    for (a, b), n in inter.items():
        small, big = (a, b) if len(sets[a]) <= len(sets[b]) else (b, a)
        c = n / len(sets[small])
        if c >= threshold:
            out[(small, big)] = c
    return out


def normalize(text: str) -> str:
    return _NONALNUM.sub(" ", text.lower()).strip()


def substring_pairs(texts: dict) -> set:
    """Unordered pairs {a, b} where one normalized text contains the
    other, as sorted tuples."""
    norm = {cid: normalize(t) for cid, t in texts.items()}
    out = set()
    for a, b in combinations(sorted(norm), 2):
        if norm[a] in norm[b] or norm[b] in norm[a]:
            out.add((a, b))
    return out
