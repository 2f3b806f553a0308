"""Block-max WAND top-k pruning over the compressed posting chunks.

Operates per doc-partition inside the scoring UDF (SURVEY.md §2.6 —
the reference's tantivy 0.19 lacks WAND for spyglass's query shape; the
BASELINE north_rule requires it in this engine).

Vectorized formulation (numpy, no per-doc Python):

1. Every 128-doc block carries (last_doc, max_tf, min_norm) + byte offsets
   (index/codecs.py), so a block's score upper bound
   ``weight * max_tf / (max_tf + cache[min_norm])`` is known WITHOUT
   decoding the payload.
2. Block boundaries of all clauses are merged into disjoint doc-range
   *segments*; each segment's UB = Σ clause block UBs covering it (a
   phrase clause contributes its full weight only where ALL member terms
   have a block).
3. Segments are processed in descending-UB order in batches; exact
   float32 scores (identical math to the exhaustive path) maintain the
   running top-k threshold θ; processing stops as soon as the next
   segment's UB ≤ θ with the heap full. Blocks in skipped segments are
   never decoded — that's the saved work.

Equality with the exhaustive scorer is asserted in tests (same docs, same
float32 scores) — WAND is a pruning strategy, never a semantics change.
"""

from __future__ import annotations

import numpy as np

from ..index.codecs import decode_block, decode_block_meta
from .scoring import accumulate_scores


class _ClauseData:
    """Decoded-on-demand posting access for one clause in one partition.
    ``shared`` (optional) is a cross-query cache keyed by (field, term):
    block metas, decoded blocks and position streams decode once per
    partition even when a batch's queries repeat terms."""

    __slots__ = ("spec", "rows", "keys", "metas", "ubs", "last_docs",
                 "cache", "norms", "shared", "_pos_cache")

    def __init__(self, spec, rows, cache, norms, shared=None):
        self.spec = spec
        self.rows = rows  # list of one payload row per term (term clauses: 1)
        self.keys = [(spec["field"], t) for t in spec["terms"]]
        self.cache = cache
        self.norms = norms
        self.shared = shared if shared is not None else {}
        self._pos_cache = None
        self.metas = []
        for key, r in zip(self.keys, rows):
            mkey = ("meta", key)
            m = self.shared.get(mkey)
            if m is None:
                m = decode_block_meta(r["meta_bytes"])
                self.shared[mkey] = m
            self.metas.append(m)
        # per-term block upper bounds (weight folded in by caller)
        self.ubs = []
        self.last_docs = []
        for m in self.metas:
            tfs = m["max_tf"].astype(np.float32)
            norms_dec = cache[m["min_norm"].astype(np.int64)]
            self.ubs.append((np.float32(spec["weight"]) * tfs / (tfs + norms_dec))
                            .astype(np.float32))
            self.last_docs.append(m["last_doc"].astype(np.int64))

    def block(self, term_idx: int, block_idx: int):
        key = ("blk", self.keys[term_idx], block_idx)
        hit = self.shared.get(key)
        if hit is None:
            r = self.rows[term_idx]
            hit = decode_block(r["doc_bytes"], r["tf_bytes"], self.metas[term_idx],
                               block_idx)
            self.shared[key] = hit
        return hit

    def docs_tfs_in_range(self, term_idx: int, lo: int, hi: int):
        """All (docs, tfs) of term_idx with lo < doc <= hi (decoding only
        the covering blocks)."""
        last = self.last_docs[term_idx]
        b0 = int(np.searchsorted(last, lo, side="left"))
        b1 = int(np.searchsorted(last, hi, side="left"))
        outs_d, outs_t = [], []
        for bi in range(b0, min(b1 + 1, len(last))):
            d, t = self.block(term_idx, bi)
            d = d.astype(np.int64)
            m = (d > lo) & (d <= hi)
            if m.any():
                outs_d.append(d[m])
                outs_t.append(t[m])
        if not outs_d:
            return np.empty(0, np.int64), np.empty(0, np.uint64)
        return np.concatenate(outs_d), np.concatenate(outs_t)

    def full_arrays(self, term_idx: int):
        """Whole-posting (docs int64, tfs) for one term, decoded ONCE per
        (field, term) per partition and shared across the batch's queries
        — for segment batches it beats per-block decoding: one vectorized
        varint pass instead of per-(segment, block) Python calls."""
        key = ("full", self.keys[term_idx])
        hit = self.shared.get(key)
        if hit is None:
            from ..index.codecs import decode_postings

            r = self.rows[term_idx]
            docs, tfs = decode_postings(r["doc_bytes"], r["tf_bytes"])
            hit = self.shared[key] = (docs.astype(np.int64), tfs)
        return hit

    def docs_tfs_in_ranges(self, term_idx: int, lo_arr, hi_arr):
        """(docs, tfs) of term_idx within the UNION of (lo, hi] ranges —
        the batched form of docs_tfs_in_range over the full decoded
        posting (ranges are disjoint; output follows range order)."""
        docs, tfs = self.full_arrays(term_idx)
        starts = np.searchsorted(docs, lo_arr, side="right")
        ends = np.searchsorted(docs, hi_arr, side="right")
        n = int((ends - starts).sum())
        if n == 0:
            return np.empty(0, np.int64), np.empty(0, tfs.dtype)
        if n == docs.size and len(lo_arr) and starts[0] == 0:
            # fast path: the ranges cover the entire posting in order
            if np.all(starts[1:] == ends[:-1]):
                return docs, tfs
        outs_d = [docs[s:e] for s, e in zip(starts, ends) if e > s]
        outs_t = [tfs[s:e] for s, e in zip(starts, ends) if e > s]
        return np.concatenate(outs_d), np.concatenate(outs_t)


def wand_top_k(scoring_clauses, filter_include, filter_exclude, k,
               batch_segments: int = 16, after=None,
               combiner=("sum", 0.0)):
    """Block-max WAND top-k for one partition.

    scoring_clauses: list of (_ClauseData, spec) — the Should-group (and
      scoring Must) clauses; phrase clauses allowed.
    filter_include: sorted int64 array of ords that candidates MUST be in,
      or None (no filter).
    filter_exclude: sorted int64 array of ords to drop, or None.
    after: optional cursor (score float32, local_ord int) for deep paging
      (search_after): only docs STRICTLY after the cursor in the global
      (score desc, ord asc) order are candidates. The filter is applied
      to exactly-scored docs before they enter the running top set, so θ
      only ever reflects valid candidates — block pruning stays correct
      (a pruned block's UB < θ ≤ the k-th valid score). θ must NOT be
      seeded from the cursor score: the page's docs all score ≤ cursor.
    combiner: ('sum', _) or ('dismax', tie) — the Should-group score
      combiner (compiler.py). Pruning stays valid for dismax with
      tie ∈ [0, 1]: clause scores are ≥ 0, so the dismax score
      m + tie·(s − m) ≤ s ≤ the segment's Σ-of-block-UBs bound; θ is
      maintained from real combined scores, so UB < θ still proves no
      remaining doc can enter the top set.
    Returns (ords int64, scores float32) of the top-k by
    (score desc, ord asc) — identical to exhaustive scoring + truncation.
    """
    # ---- segment grid ----------------------------------------------------
    all_bounds = [cd.last_docs[ti] for cd in scoring_clauses
                  for ti in range(len(cd.rows))]
    if not all_bounds:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    bounds = np.unique(np.concatenate(all_bounds))
    nseg = bounds.size
    seg_lo = np.concatenate(([np.int64(-1)], bounds[:-1]))
    seg_hi = bounds

    ub = np.zeros(nseg, dtype=np.float32)
    for cd in scoring_clauses:
        if cd.spec["kind"] == "term":
            idx = np.searchsorted(cd.last_docs[0], seg_hi, side="left")
            valid = idx < cd.last_docs[0].size
            contrib = np.zeros(nseg, dtype=np.float32)
            contrib[valid] = cd.ubs[0][idx[valid]]
            # block covers segment only if its interval starts before seg
            starts = np.concatenate(([np.int64(-1)], cd.last_docs[0][:-1]))
            contrib[valid & ~(starts[np.minimum(idx, cd.last_docs[0].size - 1)]
                              <= seg_lo)] = 0.0
            ub += contrib
        else:  # phrase: full weight where ALL member terms have a block
            present = np.ones(nseg, dtype=bool)
            for ti in range(len(cd.rows)):
                idx = np.searchsorted(cd.last_docs[ti], seg_hi, side="left")
                ok = idx < cd.last_docs[ti].size
                starts = np.concatenate(([np.int64(-1)], cd.last_docs[ti][:-1]))
                ok &= starts[np.minimum(idx, cd.last_docs[ti].size - 1)] <= seg_lo
                present &= ok
            ub += np.where(present, np.float32(cd.spec["weight"]), np.float32(0.0))

    order = np.argsort(-ub.astype(np.float64), kind="stable")

    # ---- process segments best-first, maintain θ -------------------------
    top_ords = np.empty(0, np.int64)
    top_scores = np.empty(0, np.float32)
    theta = -np.inf

    i = 0
    while i < nseg:
        j = min(i + batch_segments, nseg)
        batch = order[i:j]
        # prune only STRICTLY below θ: a segment whose UB equals θ can hold
        # a score-θ doc with a smaller ordinal, which wins the tie-break
        if top_ords.size >= k and float(ub[batch[0]]) < theta:
            break  # every remaining segment is below threshold
        i = j
        batch = batch[ub[batch] >= (theta if top_ords.size >= k else -np.inf)]
        if batch.size == 0:
            continue
        lo_arr, hi_arr = seg_lo[batch], seg_hi[batch]
        ords, scores = _score_segments(scoring_clauses, lo_arr, hi_arr,
                                       filter_include, filter_exclude,
                                       combiner)
        if after is not None and ords.size:
            a_s, a_o = np.float32(after[0]), np.int64(after[1])
            keep = (scores < a_s) | ((scores == a_s) & (ords > a_o))
            ords, scores = ords[keep], scores[keep]
        if ords.size == 0:
            continue
        top_ords = np.concatenate([top_ords, ords])
        top_scores = np.concatenate([top_scores, scores])
        if top_ords.size > k:
            sel = np.lexsort((top_ords, -top_scores.astype(np.float64)))[:k]
            top_ords, top_scores = top_ords[sel], top_scores[sel]
        if top_ords.size >= k:
            theta = float(top_scores.min())

    sel = np.lexsort((top_ords, -top_scores.astype(np.float64)))
    return top_ords[sel], top_scores[sel]


def _score_segments(scoring_clauses, lo_arr, hi_arr, include, exclude,
                    combiner=("sum", 0.0)):
    """Exact float32 scores for all docs in the given segments that match
    ≥1 scoring clause (and the filters). Identical score math/order to the
    exhaustive path: scoring.accumulate_scores, the accumulator
    _score_partition uses too."""
    per_clause = []  # (ords, scores) restricted to the segments
    for cd in scoring_clauses:
        spec = cd.spec
        if spec["kind"] == "term":
            docs, tfs = cd.docs_tfs_in_ranges(0, lo_arr, hi_arr)
            if docs.size and not np.all(np.diff(docs) > 0):
                o = np.argsort(docs, kind="stable")
                docs, tfs = docs[o], tfs[o]
            if docs.size == 0:
                per_clause.append((docs, np.empty(0, np.float32)))
                continue
            nids = cd.norms[docs] if cd.norms is not None else \
                np.zeros(docs.size, np.uint8)
            tfs_f = tfs.astype(np.float32)
            norm = cd.cache[nids.astype(np.int64)]
            scores = (np.float32(spec["weight"]) * tfs_f / (tfs_f + norm)
                      ).astype(np.float32)
            per_clause.append((docs, scores))
        else:
            docs, counts = _phrase_in_segments(cd, lo_arr, hi_arr)
            if docs.size == 0:
                per_clause.append((docs, np.empty(0, np.float32)))
                continue
            nids = cd.norms[docs] if cd.norms is not None else \
                np.zeros(docs.size, np.uint8)
            cf = counts.astype(np.float32)
            norm = cd.cache[nids.astype(np.int64)]
            scores = (np.float32(cd.spec["weight"]) * cf / (cf + norm)
                      ).astype(np.float32)
            per_clause.append((docs, scores))

    if not per_clause:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    # candidates come from SHOULD clauses only — a scoring Must in the
    # list contributes score mass but cannot nominate docs (the
    # exhaustive path intersects union(should) with the must sets, so a
    # doc matching only the must is not a hit)
    nonempty = [d for (d, _), cd in zip(per_clause, scoring_clauses)
                if d.size and cd.spec["role"] == "should"]
    if not nonempty:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    cand = np.unique(np.concatenate(nonempty))
    if include is not None:
        cand = np.intersect1d(cand, include, assume_unique=True)
    if exclude is not None and exclude.size:
        cand = np.setdiff1d(cand, exclude, assume_unique=True)
    if cand.size == 0:
        return cand, np.empty(0, np.float32)
    return accumulate_scores(
        cand, [(docs, scores, cd.spec["role"])
               for (docs, scores), cd in zip(per_clause, scoring_clauses)],
        combiner[0], combiner[1])


def _phrase_in_segments(cd: _ClauseData, lo_arr, hi_arr):
    """Sloppy-phrase tf for docs inside the segments. Doc lists are decoded
    lazily once per clause; POSITIONS are sliced per matched doc only
    (shared flat streams + the doc-vectorized batch counter)."""
    from ..index.codecs import decode_postings, varint_decode

    if cd._pos_cache is None:
        cache = []
        for key, r in zip(cd.keys, cd.rows):
            skey = ("posw", key)
            ent = cd.shared.get(skey)
            if ent is None:
                docs, tfs = decode_postings(r["doc_bytes"], r["tf_bytes"])
                flat = varint_decode(r["pos_bytes"])
                rec_starts = np.concatenate(
                    ([0], np.cumsum(tfs.astype(np.int64) + 1)))
                ent = (docs.astype(np.int64), tfs, flat, rec_starts)
                cd.shared[skey] = ent
            cache.append(ent)
        cd._pos_cache = cache
    docs0 = cd._pos_cache[0][0]
    # union of (lo, hi] ranges as an interval-difference mask: two
    # searchsorteds + cumsum instead of one full-array compare per segment
    starts = np.searchsorted(docs0, lo_arr, side="right")
    ends = np.searchsorted(docs0, hi_arr, side="right")
    delta = np.zeros(docs0.size + 1, dtype=np.int32)
    np.add.at(delta, starts, 1)
    np.add.at(delta, ends, -1)
    common = docs0[np.cumsum(delta[:-1]) > 0]
    for docs_t, _, _, _ in cd._pos_cache[1:]:
        common = np.intersect1d(common, docs_t, assume_unique=True)
    if common.size == 0:
        return common, np.empty(0, np.int64)
    # positions decoded for MATCHED docs only, phrase counting vectorized
    # across all candidates at once
    from ..index.codecs import phrase_position_keys
    from .scoring import sloppy_phrase_counts_batch

    keyed = []
    for docs_t, tfs_t, flat, rec_starts in cd._pos_cache:
        sel = np.searchsorted(docs_t, common)
        keyed.append(phrase_position_keys(flat, rec_starts, tfs_t, sel))
    counts = sloppy_phrase_counts_batch(keyed, list(cd.spec["positions"]),
                                        cd.spec["slop"], common.size)
    mask = counts > 0
    return common[mask], counts[mask]
