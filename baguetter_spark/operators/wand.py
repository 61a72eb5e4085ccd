"""Rank-safe top-k pruning (block-max MaxScore/WAND family).

The reference scores exhaustively (`baguetter/indices/sparse/models/bm25/
index.py:150-185` — no pruning); the north-star adds block-max top-k pruning
as a rank-safe acceleration: results must be IDENTICAL to exhaustive scoring.

Design for scale: posting blocks are already split by doc range
(``block_id = doc_idx // block_doc_range``), so pruning runs per
(query, doc-range) group inside ``applyInPandas`` — bounded memory per task,
parallel across ranges — followed by a global per-query top-k.  Within a
group the kernel is the MaxScore strategy (Turtle & Flood 1995 family):

1. sort query terms by upper bound U_t = w_t * max-impact desc (the max
   over the term's postings in this range);
2. term-at-a-time accumulation while the remaining suffix bound R could
   still create a NEW top-k doc;
3. once R < θ (current k-th best), remaining terms can only update EXISTING
   candidates — one vectorized ``searchsorted`` lookup per term into its
   docID-sorted posting array.

Rank safety: a doc first seen after the switch has final score <= R < θ <=
final k-th score, so it cannot enter the top-k; retained candidates receive
exact contributions from every term.  Property-tested: identical doc sets +
scores vs the exhaustive path on every fixture.
"""

from __future__ import annotations

import numpy as np


def maxscore_topk(
    weights: np.ndarray,
    doc_arrays: list[np.ndarray],
    impact_arrays: list[np.ndarray],
    k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Local top-k within one doc-range group.

    Args:
        weights: per query-token weight (duplicates appear as separate rows).
        doc_arrays: per token, docID-ascending int64 ids (this range only).
        impact_arrays: per token, impacts aligned with doc_arrays (float).
        k: top-k size.

    Returns (doc_ids, scores) of the <=k local candidates (unsorted).
    """
    n_terms = len(doc_arrays)
    if n_terms == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)

    contribs = [
        (imp.astype(np.float64) * float(w)) for imp, w in zip(impact_arrays, weights)
    ]
    upper = np.array([c.max() if len(c) else 0.0 for c in contribs])
    order = np.argsort(-upper)
    suffix = np.concatenate([np.cumsum(upper[order][::-1])[::-1][1:], [0.0]])

    cand_ids = np.empty(0, dtype=np.int64)
    cand_scores = np.empty(0, dtype=np.float64)
    switch_at = n_terms
    for rank_i, t in enumerate(order):
        ids, c = doc_arrays[t], contribs[t]
        if len(cand_ids) == 0:
            cand_ids, cand_scores = ids.copy(), c.copy()
        else:
            merged = np.concatenate([cand_ids, ids])
            merged_scores = np.concatenate([cand_scores, c])
            cand_ids, inv = np.unique(merged, return_inverse=True)
            cand_scores = np.zeros(len(cand_ids), dtype=np.float64)
            np.add.at(cand_scores, inv, merged_scores)
        if len(cand_ids) >= k and suffix[rank_i] > 0:
            theta = np.partition(cand_scores, -k)[-k]
            if suffix[rank_i] < theta:
                switch_at = rank_i + 1
                break

    # phase 2: lookups only (no new candidates) — rank-safe because any doc
    # not yet seen is bounded by suffix[switch_at-1] < theta
    if switch_at < n_terms:
        for t in order[switch_at:]:
            ids, c = doc_arrays[t], contribs[t]
            if len(ids) == 0:
                continue
            pos = np.searchsorted(ids, cand_ids)
            pos_c = np.minimum(pos, len(ids) - 1)
            match = ids[pos_c] == cand_ids
            cand_scores[match] += c[pos_c[match]]

    if len(cand_ids) > k:
        # canonical tie order (score desc, doc_id asc): with exact ties at
        # the k-th boundary, argpartition would keep an arbitrary subset and
        # the global top-k could then miss the canonically-preferred (lowest
        # doc id) docs — lexsort keeps exactly the docs the exhaustive path's
        # (score desc, doc_idx asc) window would rank first
        keep = np.lexsort((cand_ids, -cand_scores))[:k]
        return cand_ids[keep], cand_scores[keep]
    return cand_ids, cand_scores
