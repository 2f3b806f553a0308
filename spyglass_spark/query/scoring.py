"""BM25 scoring math + sloppy-phrase matching — the scalar semantics shared
by the pure-Python oracle and the distributed Spark executor.

Replicates tantivy-0.19.2's BM25 as configured by the reference
(SURVEY.md §2.11; query semantics at
/root/reference/crates/spyglass-searcher/src/query.rs:58-181):

  k1 = 1.2, b = 0.75
  idf(t)     = ln(1 + (N - df + 0.5) / (df + 0.5))        [float32]
  weight(t)  = boost * idf(t) * (k1 + 1)
  score(t,d) = weight(t) * tf / (tf + k1*(1 - b + b*|d|/avgdl))

|d| is the DECODED quantized fieldnorm (see index/fieldnorm.py); avgdl is
the exact global token total / N. N counts all docs in the index (max_doc
across segments, incl. tombstoned). All float math in float32 like the
reference engine; clause scores combine by SUM (boolean Should/Must sum
combiner, no coord factor) — or, per query, by the Lucene
DisjunctionMaxQuery combiner over the Should group (compiler.py
``combiner='dismax'``: m + tie·(s − m) in float32 op order).

Phrase clauses (PhraseQuery with slop, query.rs:24-33, 80-94) score as
BM25 with idf = SUM of the member terms' idfs and tf = sloppy-match count.
"""

from __future__ import annotations

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)


def idf(df: np.ndarray | float, n_docs: float) -> np.ndarray:
    """ln(1 + (N - df + .5)/(df + .5)) in float32."""
    df = np.asarray(df, dtype=np.float32)
    n = np.float32(n_docs)
    x = (n - df + np.float32(0.5)) / (df + np.float32(0.5))
    return np.log1p(x, dtype=np.float32)


def bm25_weight(df, n_docs, boost=1.0) -> np.ndarray:
    return (np.float32(boost) * idf(df, n_docs) * (K1 + np.float32(1.0))).astype(np.float32)


def tf_factor(tf: np.ndarray, fieldnorm: np.ndarray, avgdl: float) -> np.ndarray:
    """tf / (tf + k1*(1 - b + b*|d|/avgdl)) in float32. ``fieldnorm`` is the
    decoded quantized length."""
    tf = np.asarray(tf, dtype=np.float32)
    fieldnorm = np.asarray(fieldnorm, dtype=np.float32)
    avg = np.float32(avgdl) if avgdl > 0 else np.float32(1.0)
    norm = K1 * (np.float32(1.0) - B + B * fieldnorm / avg)
    return (tf / (tf + norm)).astype(np.float32)


def norm_cache(avgdl: float) -> np.ndarray:
    """Per-fieldnorm-id norm component k1*(1-b+b*len/avgdl), precomputed for
    all 256 ids (the reference engine caches exactly this table per query)."""
    from ..index.fieldnorm import FIELD_NORMS_TABLE

    avg = np.float32(avgdl) if avgdl > 0 else np.float32(1.0)
    lens = FIELD_NORMS_TABLE.astype(np.float32)
    return (K1 * (np.float32(1.0) - B + B * lens / avg)).astype(np.float32)


def score_postings(tf: np.ndarray, norm_ids: np.ndarray, weight: float,
                   cache: np.ndarray) -> np.ndarray:
    """Vectorized per-posting score: weight * tf/(tf + cache[norm_id])."""
    tf = np.asarray(tf, dtype=np.float32)
    norms = cache[np.asarray(norm_ids, dtype=np.int64)]
    return (np.float32(weight) * tf / (tf + norms)).astype(np.float32)


def accumulate_scores(cand: np.ndarray, clauses, combiner: str = "sum",
                      tie: float = 0.0) -> tuple[np.ndarray, np.ndarray]:
    """Combine per-clause scores onto the sorted candidate ordinals
    ``cand`` — the one float32 accumulator of the exhaustive and the
    WAND scorers. ``clauses`` is [(ords, scores, role)] in CLAUSE ORDER,
    scoring clauses only (ords sorted and unique per clause).

    'sum' adds every clause's score in clause order. 'dismax' first
    folds the Should group per doc — m = max clause score, s =
    clause-order sum, m + tie·(s − m) — then adds the other clauses in
    clause order. Every op is float32, so the result is bitwise the
    oracle's. Clause scores are ≥ 0, so a max seeded at 0 only counts
    matching clauses. Returns (cand, acc) restricted to acc > 0."""
    acc = np.zeros(cand.size, dtype=np.float32)
    rest = clauses
    if combiner == "dismax":
        mx = np.zeros(cand.size, dtype=np.float32)
        for ords, scores, role in clauses:
            if role != "should" or ords.size == 0:
                continue
            pos, ok = _positions(cand, ords)
            acc[pos[ok]] = acc[pos[ok]] + scores[ok]
            mx[pos[ok]] = np.maximum(mx[pos[ok]], scores[ok])
        acc = mx + np.float32(tie) * (acc - mx)
        rest = [c for c in clauses if c[2] != "should"]
    for ords, scores, _ in rest:
        if ords.size == 0:
            continue
        pos, ok = _positions(cand, ords)
        acc[pos[ok]] = acc[pos[ok]] + scores[ok]
    keep = acc > 0.0
    return cand[keep], acc[keep]


def _positions(cand: np.ndarray, ords: np.ndarray):
    """Index of each of ``ords`` in the sorted ``cand``, and the mask of
    the ones present."""
    pos = np.searchsorted(cand, ords)
    ok = pos < cand.size
    ok[ok] = cand[pos[ok]] == ords[ok]
    return pos, ok


def phrase_slop(last_token_position: int) -> int:
    """slop = clamp(last_position - 2, 0, 3) — query.rs:24-33. Positions
    include stopword holes."""
    return int(np.clip(last_token_position - 2, 0, 3))


def sloppy_phrase_count(position_lists: list[np.ndarray], offsets: list[int], slop: int) -> int:
    """Count phrase matches of terms with query-position ``offsets`` where
    each term may be displaced by at most ``slop`` positions from its slot,
    with strictly increasing document positions across terms (greedy:
    each term takes its earliest admissible position).

    For slop=0 this is the exact positional intersection (standard phrase
    match). One shared, fully vectorized implementation keeps oracle and
    engine semantics identical.
    """
    if any(len(p) == 0 for p in position_lists):
        return 0
    first = np.asarray(position_lists[0], dtype=np.int64)
    anchors = first - int(offsets[0])  # implied position of query slot 0
    prev = first.copy()
    ok = np.ones(first.size, dtype=bool)
    for plist, off in zip(position_lists[1:], offsets[1:]):
        pl = np.asarray(plist, dtype=np.int64)
        target = anchors + int(off)
        lo = np.maximum(target - slop, prev + 1)
        hi = target + slop
        idx = np.searchsorted(pl, lo)
        valid = idx < pl.size
        cand = pl[np.minimum(idx, pl.size - 1)]
        ok &= valid & (cand <= hi)
        prev = np.where(ok, cand, prev)
        if not ok.any():
            return 0
    return int(ok.sum())


# doc-key stride for the batched phrase counter: candidate index lives in
# the high bits, token position in the low 40 (positions ≪ 2^40)
PHRASE_KEY_SHIFT = 40


def sloppy_phrase_counts_batch(keyed_positions: list[np.ndarray],
                               offsets: list[int], slop: int,
                               n_cand: int) -> np.ndarray:
    """``sloppy_phrase_count`` vectorized ACROSS candidate docs.

    keyed_positions[i] = int64 array of ``cand_idx·2^40 + position`` for
    term i, concatenated doc-major over the n_cand candidates (per-doc
    position order preserved → globally sorted). The greedy
    earliest-admissible walk runs over ALL docs' anchors at once; a
    searchsorted landing in the next doc's block fails the ``≤ target+slop``
    bound exactly like running off a single doc's list (block stride ≫
    max position + slop). Returns int64 match counts per candidate."""
    if any(k.size == 0 for k in keyed_positions):
        return np.zeros(n_cand, dtype=np.int64)
    first = keyed_positions[0]
    anchors = first - np.int64(offsets[0])
    prev = first.copy()
    ok = np.ones(first.size, dtype=bool)
    for pl, off in zip(keyed_positions[1:], offsets[1:]):
        target = anchors + np.int64(off)
        lo = np.maximum(target - slop, prev + 1)
        idx = np.searchsorted(pl, lo)
        valid = idx < pl.size
        cand = pl[np.minimum(idx, pl.size - 1)]
        ok &= valid & (cand <= target + slop)
        prev = np.where(ok, cand, prev)
        if not ok.any():
            return np.zeros(n_cand, dtype=np.int64)
    doc_of = (first >> PHRASE_KEY_SHIFT)[ok]
    return np.bincount(doc_of, minlength=n_cand).astype(np.int64)
