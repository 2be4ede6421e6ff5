"""Block-max WAND / MaxScore top-k kernel (numpy, vectorized).

The pruning layer the reference cannot have (it never scores; SURVEY.md §4
"what we must add"). Semantics are *rank-identical* to exhaustive BM25
scoring — pruning only skips work that provably cannot change the top-k
page — asserted against the brute-force oracle in tests.

Strategy (term-at-a-time MaxScore with block-max seeding):

  * Terms sorted by upper bound U_t = idf_t · (k1+1) · max_weight_t desc.
  * A doc first *encountered* at term i has no higher-U term, so its best
    possible score is suffix_sum(i) = Σ_{j ≥ i} U_j. Once suffix_sum(i) < θ
    (θ = current kth-best score), no unseen doc can enter the top-k —
    STRICT inequality keeps score-ties exact (an unseen doc tying θ could
    still win its doc_id tiebreak, so we only stop when it can't tie).
  * Within a seeding term, a whole block is skipped when
    idf_i·(k1+1)·block_max_weight + suffix_sum(i+1) < θ — the per-block
    metadata (codec.py) standing in for Lucene-style block-max skip data.
  * Newly seeded docs are scored exactly in one vectorized pass per term
    (lookup_tfs decodes only candidate-bearing blocks).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .engine import F32_BOUND_SLACK, TermPostings


@dataclass
class WandResult:
    doc_ids: np.ndarray  # ranked: score desc, doc_id asc
    scores: np.ndarray
    seeded: int  # docs actually scored (pruning diagnostic)
    blocks_skipped: int


def wand_topk(
    terms: list[tuple[float, TermPostings]],  # (idf, postings)
    k: int,
    doclens: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    candidate_filter=None,  # optional fn(np.ndarray)->np.ndarray (e.g. require/exclude mask)
) -> WandResult:
    if not terms or k <= 0:
        return WandResult(np.empty(0, np.int64), np.empty(0, np.float64), 0, 0)
    def upper(idf: float, tp: TermPostings) -> float:
        return idf * (k1 + 1) * float(tp.max_weight) * F32_BOUND_SLACK

    order = sorted(range(len(terms)), key=lambda i: -upper(*terms[i]))
    idfs = [terms[i][0] for i in order]
    tps = [terms[i][1] for i in order]
    uppers = np.array([upper(idf, tp) for idf, tp in zip(idfs, tps)], dtype=np.float64)
    suffix = np.concatenate([np.cumsum(uppers[::-1])[::-1], [0.0]])

    seen_docs = np.empty(0, np.int64)
    seen_scores = np.empty(0, np.float64)
    theta = -np.inf
    seeded_total = 0
    blocks_skipped = 0

    def score_exact(docs: np.ndarray) -> np.ndarray:
        # sum terms in CALLER order (not bound-sorted order): float addition
        # isn't associative, and bit-identical scores to the exhaustive
        # scorer keep equal-score tiebreaks identical too
        dl = doclens[docs]
        knorm = k1 * (1 - b + b * dl / avgdl)
        s = np.zeros(docs.size, dtype=np.float64)
        for idf, tp in terms:
            tf = tp.lookup_tfs(docs)
            m = tf > 0
            if m.any():
                s[m] += idf * (k1 + 1) * (tf[m] / (tf[m] + knorm[m]))
        return s

    def absorb(new_docs: np.ndarray) -> None:
        nonlocal seen_docs, seen_scores, theta, seeded_total
        if seen_docs.size:
            new_docs = new_docs[~np.isin(new_docs, seen_docs, assume_unique=False)]
        if candidate_filter is not None and new_docs.size:
            new_docs = candidate_filter(new_docs)
        if not new_docs.size:
            return
        s = score_exact(new_docs)
        seeded_total += new_docs.size
        seen_docs = np.concatenate([seen_docs, new_docs])
        seen_scores = np.concatenate([seen_scores, s])
        if seen_docs.size >= k:
            theta = np.partition(seen_scores, -k)[-k]

    # θ bootstrap: before any term seeds generally (which with θ = -inf
    # would decode the WHOLE first list — fatal on a df≈N term), score the
    # docs of the ~4k highest-max_weight blocks of the top-bound term. Those
    # docs stay in the pool, so this is pure work-reordering: any θ they set
    # only prunes blocks that provably cannot reach the page. An on-demand
    # term fetches only the few shards owning those blocks.
    #
    # ONLY when the seeding term is served on demand: a prefetched term's
    # payload is already on the driver and θ = -inf seeding is exactly one
    # full decode, so pre-decoding the top blocks is pure double work
    # (measured +40-100 ms per query at 500k docs, zero extra skips on
    # uniform corpora — the r2→r3 wand_* latency regression).
    if tps[0].lazy:
        boot_blocks = max(4 * k, 8)
        boot = np.unique(tps[0].bootstrap_docs(boot_blocks))
        if boot.size:
            absorb(boot)

    for i, (idf, tp) in enumerate(zip(idfs, tps)):
        if suffix[i] < theta:
            break  # no unseen doc can reach (or tie) the top-k page
        new_docs, skipped = tp.seed_docs(float(suffix[i + 1]), theta, idf * (k1 + 1))
        blocks_skipped += skipped
        if new_docs.size:
            absorb(new_docs)

    order2 = np.lexsort((seen_docs, -seen_scores))[:k]
    return WandResult(seen_docs[order2], seen_scores[order2], seeded_total, blocks_skipped)
