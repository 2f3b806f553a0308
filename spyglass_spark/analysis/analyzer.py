"""Analyzer chains replicating the reference's tokenizers.

Reference configuration (/root/reference/crates/spyglass-searcher/src/schema.rs:78-89):

``spyglass_tokenizer_en`` (used for ``content`` and ``description`` fields):
    SimpleTokenizer            — split on non-alphanumeric (Unicode); token
                                 position = running index assigned at
                                 tokenize time, BEFORE any filter
    RemoveLongFilter(40)       — drop tokens with UTF-8 byte length >= 40
    LowerCaser                 — Unicode lowercase
    AsciiFoldingFilter         — fold accented latin to ASCII
    StopWordFilter (44 words)  — stop_word_filter.rs:29-34; positions are NOT
                                 renumbered (holes remain). The list contains
                                 "I" uppercase but runs AFTER LowerCaser, so
                                 the token "i" is never removed — quirk kept.
    Stemmer(English)           — Snowball english ("Porter2")

``default`` tokenizer (used for the ``title`` field, schema.rs:172 uses plain
TEXT): SimpleTokenizer + RemoveLongFilter(40) + LowerCaser — no folding,
no stopwords, no stemming (tantivy-0.19.2 public source).

Untokenized STRING fields (id/domain/url, schema.rs:169-175) index the raw
value as a single term; u64 fields (tags) index each value as its decimal
string term here.

All functions are pure and deterministic; batch variants are used inside
Arrow/pandas UDFs (no per-row Python at the Spark plan level).
"""

from __future__ import annotations

import re
import unicodedata
from typing import Iterable

from .porter2 import stem

# tantivy SimpleTokenizer splits on `!char::is_alphanumeric()`. Python's
# closest vectorizable equivalent: runs of word chars excluding underscore
# (`\w` minus `_`). Identical on ASCII source code; exotic Unicode numeric
# classes (Nl/No) may differ — acceptable, pinned by golden tests.
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

# stop_word_filter.rs:29-34 — verbatim, including the duplicate "the" and
# uppercase "I" (which never matches post-lowercasing).
STOP_WORDS = frozenset(
    [
        "a", "about", "an", "and", "are", "as", "at", "be", "but", "by",
        "com", "for", "from", "how", "if", "I", "in", "into", "is", "it",
        "no", "not", "of", "on", "or", "such", "that", "the", "their",
        "then", "there", "these", "they", "this", "to", "was", "what",
        "when", "where", "who", "will", "with", "www",
    ]
)

MAX_TOKEN_BYTES = 40  # RemoveLongFilter::limit(40), schema.rs:80

# AsciiFoldingFilter approximation: NFKD + strip combining marks, plus the
# common latin special forms the NFKD decomposition does not cover
# (Lucene/tantivy folding table entries for lowercase latin).
_SPECIAL_FOLD = {
    "ß": "ss", "æ": "ae", "œ": "oe", "ø": "o", "đ": "d", "ð": "d",
    "þ": "th", "ł": "l", "ħ": "h", "ŋ": "n", "ı": "i", "ĸ": "k",
}


def ascii_fold(token: str) -> str:
    if token.isascii():
        return token
    out = []
    for ch in token:
        if ch.isascii():
            out.append(ch)
            continue
        repl = _SPECIAL_FOLD.get(ch)
        if repl is not None:
            out.append(repl)
            continue
        decomp = unicodedata.normalize("NFKD", ch)
        kept = "".join(c for c in decomp if not unicodedata.combining(c))
        out.append(kept if kept else ch)
    return "".join(out)


# Raw-token → final-token caches (None = dropped by a filter). Token
# streams are zipfian, so one dict probe replaces the whole filter chain
# for almost every token. Pure functions of the token → identical results
# with or without the cache (oracle and engine share this module).
_CACHE_LIMIT = 1 << 20
_en_cache: dict = {}
_default_cache: dict = {}
_MISS = object()


def _default_token(tok: str):
    if len(tok.encode("utf-8")) >= MAX_TOKEN_BYTES:
        return None
    return tok.lower()


def _en_token(tok: str):
    if len(tok.encode("utf-8")) >= MAX_TOKEN_BYTES:
        return None
    t = ascii_fold(tok.lower())
    if t in STOP_WORDS:
        return None
    return stem(t)


def tokenize_default(text: str) -> list[tuple[int, str]]:
    """tantivy ``default`` tokenizer (title field): simple split +
    RemoveLong(40) + lowercase. Returns [(position, token)]."""
    cache = _default_cache
    out = []
    for pos, tok in enumerate(_TOKEN_RE.findall(text)):
        r = cache.get(tok, _MISS)
        if r is _MISS:
            r = _default_token(tok)
            if len(cache) < _CACHE_LIMIT:
                cache[tok] = r
        if r is not None:
            out.append((pos, r))
    return out


def tokenize_en(text: str) -> list[tuple[int, str]]:
    """``spyglass_tokenizer_en`` chain (content field). Returns
    [(position, token)] with stopword holes preserved."""
    cache = _en_cache
    out = []
    for pos, tok in enumerate(_TOKEN_RE.findall(text)):
        r = cache.get(tok, _MISS)
        if r is _MISS:
            r = _en_token(tok)
            if len(cache) < _CACHE_LIMIT:
                cache[tok] = r
        if r is not None:
            out.append((pos, r))
    return out


ANALYZERS = {
    "content": tokenize_en,
    "description": tokenize_en,
    "title": tokenize_default,
}

# analyzer kind per field for the vectorized batch path
ANALYZER_KIND = {"content": "en", "description": "en", "title": "default"}


def _finalize_uniques(uniques, kind: str) -> list:
    """Run the filter chain over UNIQUE raw tokens only (token streams are
    zipfian — the unique set is tiny next to the stream). Same per-token
    functions and caches as the scalar tokenizers."""
    cache = _en_cache if kind == "en" else _default_cache
    fn = _en_token if kind == "en" else _default_token
    out = []
    for u in uniques:
        r = cache.get(u, _MISS)
        if r is _MISS:
            r = fn(u)
            if len(cache) < _CACHE_LIMIT:
                cache[u] = r
        out.append(r)
    return out


# byte-class table for the ASCII fast path: [0-9A-Za-z] — exactly what
# `[^\W_]+` matches over pure-ASCII text
import numpy as np  # noqa: E402  (used in the hot batch path)

_ALNUM_TABLE = np.zeros(256, dtype=bool)
for _c in range(256):
    _ALNUM_TABLE[_c] = chr(_c).isalnum() and chr(_c).isascii()

_PAD = MAX_TOKEN_BYTES  # fixed-width dedup key; raw tokens >= 40 B are
#                         dropped by RemoveLong anyway (position still used)


def _gather_keys(buf_padded: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray, width: int) -> np.ndarray:
    """Zero-padded fixed-width byte keys for the given runs (exact token
    identity: alnum bytes are never 0, so padding can't collide)."""
    g = buf_padded[starts[:, None] + np.arange(width, dtype=np.int64)]
    g[np.arange(width) >= lens[:, None]] = 0
    return np.ascontiguousarray(g)


def _ascii_runs(texts_ascii: list[str], doc_ids: np.ndarray):
    """Vectorized tokenizer core over pure-ASCII docs: one byte buffer,
    lookup-table classification, run boundaries by diff — zero per-token
    Python objects. Two-tier exact dedup: tokens <= 8 bytes (≈99% of real
    text) pack into one uint64 and dedup through pandas' int hash table;
    9..39-byte tokens go through fixed-width np.unique; >= 40 bytes map to
    -1 (RemoveLong drop — the position is still consumed).

    Returns (uniq_tokens list[str], inverse, doc_of, pos_of) — the three
    per-token arrays are int32: they are retained for the WHOLE batch
    while everything else here is chunk-local/cache-resident, so their
    width sets the DRAM traffic of the final sort/gather phase (the
    noise-dominated 90%+ of wall time under bus contention; see
    CLAUDE.md: host noise is memory bandwidth)."""
    import pandas as pd

    joined = "\x00".join(texts_ascii)
    buf = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
    # int32 positions/ordinals need every in-chunk index < 2^31; a chunk
    # is ≤ _CHUNK_CHARS except a single oversized doc, and Arrow/parquet
    # strings cap at 2 GiB, so this cannot trip on engine input
    if buf.size >= 2**31:
        raise ValueError("single document exceeds 2 GiB of text")
    mask = _ALNUM_TABLE[buf]
    edges = np.diff(np.concatenate(([False], mask, [False])).view(np.int8))
    starts = np.flatnonzero(edges == 1)
    ends = np.flatnonzero(edges == -1)
    nrun = starts.size
    doc_lens = np.fromiter(map(len, texts_ascii), np.int64,
                           count=len(texts_ascii))
    doc_offs = np.concatenate(([0], np.cumsum(doc_lens + 1)))
    doc_of = (np.searchsorted(doc_offs, starts, side="right") - 1).astype(
        np.int32)
    n_raw = np.bincount(doc_of, minlength=len(texts_ascii))
    first_run = np.concatenate(
        ([0], np.cumsum(n_raw)[:-1])).astype(np.int32)
    pos_of = np.arange(nrun, dtype=np.int32) - first_run[doc_of]
    run_len = ends - starts
    padded = np.concatenate((buf, np.zeros(_PAD, dtype=np.uint8)))
    inverse = np.full(nrun, -1, dtype=np.int32)
    uniq_tokens: list[str] = []

    t1 = run_len <= 8
    if t1.any():
        # one unaligned little-endian u64 per token via a zero-copy
        # sliding window, then mask off bytes beyond the token length —
        # no index matrix, no 2-D gather
        win = np.lib.stride_tricks.sliding_window_view(padded, 8)
        keys8 = win[starts[t1]].copy().view("<u8").ravel()
        lens1 = run_len[t1].astype(np.uint64)
        keep_mask = np.full(lens1.size, np.uint64(0xFFFFFFFFFFFFFFFF),
                            dtype=np.uint64)
        part = lens1 < 8  # shift by 64 is UB — mask only partial tokens
        keep_mask[part] = ((np.uint64(1) << (lens1[part] * np.uint64(8)))
                           - np.uint64(1))
        keys8 &= keep_mask
        codes, uniq8 = pd.factorize(keys8, sort=False)
        inverse[t1] = codes
        uniq_tokens.extend(
            u.tobytes().rstrip(b"\0").decode("ascii")
            for u in np.asarray(uniq8, dtype="<u8"))

    t2 = (run_len > 8) & (run_len < _PAD)
    if t2.any():
        base = len(uniq_tokens)
        keys40 = (_gather_keys(padded, starts[t2], run_len[t2], _PAD)
                  .view(f"S{_PAD}").ravel())
        uniq40, inv2 = np.unique(keys40, return_inverse=True)
        inverse[t2] = inv2 + base
        uniq_tokens.extend(u.decode("ascii") for u in uniq40)

    return uniq_tokens, inverse, doc_ids[doc_of], pos_of


# ~2 MB of text per chunk — keeps the vectorized temporaries (keys,
# factorize table, masks) cache-resident; one giant batch goes
# memory-bandwidth-bound and loses the vectorization win. Callers that
# need another size pass ``tokenize_arrays(chunk_chars=...)``.
_CHUNK_CHARS = 2 << 20
# batches whose vocab fits 16 bits use uint16 sort keys (2 radix passes,
# half the key-gather bytes); wide-vocab batches keep uint32
_NARROW_VOCAB_MAX = 1 << 16


def _chunk_rows(chunk: list[str], first_doc: int, kind: str, gdict: dict):
    """Tokenize one chunk of docs → list of (t_gid, doc, pos) triples of
    arrays. ``gdict`` (final term → gid) grows across chunks in insertion
    order. Returns (arrays, used_fallback)."""
    ascii_ids = np.fromiter((i for i, t in enumerate(chunk) if t.isascii()),
                            np.int32)
    other = [i for i, t in enumerate(chunk) if not chunk[i].isascii()]
    arrs = []
    if ascii_ids.size:
        uniq, inverse, doc_of, pos_of = _ascii_runs(
            [chunk[i] for i in ascii_ids],
            (ascii_ids + np.int32(first_doc)).astype(np.int32))
        mapped = _finalize_uniques(uniq, kind)
        map_code = np.fromiter(
            ((gdict.setdefault(m, len(gdict)) if m is not None else -1)
             for m in mapped), np.int32, count=len(mapped))
        if map_code.size:
            term_of = np.where(inverse >= 0,
                               map_code[np.maximum(inverse, 0)],
                               np.int32(-1))
        else:  # every run was >= MAX_TOKEN_BYTES → all dropped
            term_of = np.full(inverse.size, -1, dtype=np.int32)
        keep = term_of >= 0
        arrs.append((term_of[keep], doc_of[keep], pos_of[keep]))
    for i in other:  # non-ASCII docs: C regex per doc (rare)
        raws = _TOKEN_RE.findall(chunk[i])
        mapped_b = _finalize_uniques(raws, kind)  # cache-hit heavy
        rows = [(gdict.setdefault(m, len(gdict)), i + first_doc, pos)
                for pos, m in enumerate(mapped_b) if m is not None]
        if rows:
            a = np.array(rows, dtype=np.int32).T
            arrs.append((a[0], a[1], a[2]))
    return arrs, bool(other)


def tokenize_arrays(texts: list, kind: str, chunk_chars: int = _CHUNK_CHARS):
    """Whole-batch vectorized tokenize → posting-construction arrays.

    Semantically identical to running tokenize_en/tokenize_default per doc
    and grouping (term → postings), but with NO per-token Python: pure-
    ASCII docs go through a byte-level run scanner + two-tier exact dedup
    (packed-u64 hash table for tokens <= 8 B, fixed-width np.unique above);
    non-ASCII docs fall back to the C regex per doc. The filter chain runs
    over unique tokens only; input is processed in cache-sized chunks with
    a shared growing vocabulary, then one sort builds the posting arrays.

    Returns (vocab, term_starts, ords, tfs, pos_concat, counts):
      vocab       — final terms, sorted (the per-part term dictionary)
      term_starts — int64 (V+1) posting boundaries per term
      ords        — uint64 doc ordinals, term-major, ascending per term
      tfs         — uint64 term frequencies per posting
      pos_concat  — uint64 token positions, posting-major (pre-filter
                    positions: stopword holes preserved)
      counts      — int64 per-doc surviving token counts (fieldnorms)
    """
    n = len(texts)
    empty = ([], np.zeros(1, dtype=np.int64), np.empty(0, np.uint64),
             np.empty(0, np.uint64), np.empty(0, np.uint64),
             np.zeros(n, dtype=np.int64))
    if n == 0:
        return empty

    clean = [(t if isinstance(t, str) else "") for t in texts]
    gdict: dict = {}
    arrs: list = []
    any_fb = False
    lo = 0
    while lo < n:
        hi, cc = lo, 0
        while hi < n and (cc == 0 or cc + len(clean[hi]) <= chunk_chars):
            cc += len(clean[hi])
            hi += 1
        sub, fb = _chunk_rows(clean[lo:hi], lo, kind, gdict)
        arrs.extend(sub)
        any_fb |= fb
        lo = hi
    if not arrs:
        return empty
    # the batch-wide triples stay int32 (12 B/token vs 24 at int64): the
    # concat + radix sort + three gathers below are the DRAM-streaming
    # phase of the kernel, and halving their width halves the bus
    # traffic that dominates under memory-bandwidth contention
    t_ = np.concatenate([a[0] for a in arrs])
    d_ = np.concatenate([a[1] for a in arrs])
    p_ = np.concatenate([a[2] for a in arrs])
    m = t_.size
    if m == 0:
        return empty
    counts = np.bincount(d_, minlength=n).astype(np.int64)
    # gid (insertion order) → sorted-vocab code. When the batch vocab
    # fits 16 bits the codes are emitted as uint16: numpy's stable
    # integer argsort then radix-sorts 2 byte-passes instead of 4 over
    # half-width keys (measured ~4.8× on the sort at 30 M rows), and the
    # key gather below moves half the bytes. Small-vocab batches are the
    # common case for untokenized fields and dense corpora; wide-vocab
    # batches keep the uint32 path.
    vocab = sorted(gdict)
    narrow = len(gdict) <= _NARROW_VOCAB_MAX
    remap = np.empty(len(gdict), dtype=np.uint16 if narrow else np.int32)
    for j, term in enumerate(vocab):
        remap[gdict[term]] = j
    t_ = remap[t_]
    if any_fb:
        order = np.lexsort((d_, t_))  # stable: pos ascending per (t,d)
    elif narrow:
        order = np.argsort(t_, kind="stable")
    else:
        # d already ascending (chunks are doc-contiguous, in order);
        # stable uint32 sort → numpy radix path (view, not astype:
        # codes are non-negative so the reinterpret is free)
        order = np.argsort(t_.view(np.uint32), kind="stable")
    t_, d_, p_ = t_[order], d_[order], p_[order]
    newp = np.empty(m, dtype=bool)
    newp[0] = True
    np.logical_or(t_[1:] != t_[:-1], d_[1:] != d_[:-1], out=newp[1:])
    post_idx = np.flatnonzero(newp)
    ords = d_[post_idx].astype(np.uint64)
    tfs = np.diff(np.append(post_idx, m)).astype(np.uint64)
    tcounts = np.bincount(t_[post_idx], minlength=len(vocab))
    term_starts = np.concatenate(([0], np.cumsum(tcounts))).astype(np.int64)
    return vocab, term_starts, ords, tfs, p_.astype(np.uint64), counts


def analyze(field: str, text: str) -> list[tuple[int, str]]:
    """Tokenize ``text`` with the analyzer of ``field``. STRING fields
    (id/domain/url) index the raw value as one term at position 0."""
    fn = ANALYZERS.get(field)
    if fn is None:
        return [(0, text)] if text else []
    return fn(text)


def analyze_batch(field: str, texts: Iterable[str]) -> list[list[tuple[int, str]]]:
    fn = ANALYZERS.get(field)
    if fn is None:
        return [[(0, t)] if t else [] for t in texts]
    return [fn(t or "") for t in texts]
