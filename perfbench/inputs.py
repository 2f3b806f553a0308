"""Inputs: the base documents table, its Python mirror, the seeded op mix.

The base table is ``data/documents.parquet``, a byte-for-byte copy of the
test data's sf0.1 ``documents.parquet`` (5,000 rows: doc_id, text, lang,
source, n_chars), kept here so a run reads nothing outside the checkout.
It is the same for every seed; the seed draws only the queries and the
edits. The engine sees the table through ``bench.py``'s corpus derivation
(``load_corpus`` with one replica, content repeated, then
``to_documents``);
``oracle_documents`` replays that derivation in plain Python for the
oracle.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
LANG_EXT = {"de": "c", "en": "rs", "es": "js", "fr": "ts", "zh": "cpp"}

# corpus sizing: one document per base row, content repeated
# CONTENT_REPEAT times, hash-partitioned into PARTS parts
CONTENT_REPEAT = 8
PARTS = 4

K_INTERACTIVE = 10
K_BULK = 20
BATCH = 64
AGG_KINDS = ("count_matches", "facet_counts", "terms_agg", "date_histogram")

# One interactive block: the shape of each of its 20 searches, in a seeded
# order. Fixed shares keep the latency mix the same from seed to seed.
INTERACTIVE_BLOCK = (["t1"] * 6 + ["t2"] * 5 + ["t3"] * 3 + ["t5"] * 2
                     + ["title"] * 2 + ["prefix", "fuzzy"])
# Untimed interactive blocks in set-up. Each search pays a ~80 ms fixed
# cost in Catalyst (local relation + collect) that keeps getting faster
# as the JVM compiles it: after one block, the timed loop's median fell
# by up to 28 % from the first to the last third of a run; after five,
# three runs of four stayed within 10 %.
WARM_BLOCKS = 4


def base_table():
    """The base documents table as a pandas frame."""
    import pandas as pd

    return pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"))


def hot_words(base) -> list[str]:
    """The content terms in at least half the base rows, longer than two
    letters, sorted: the head a query draws from (each is in 76-78 % of
    the rows of the sf0.1 table)."""
    df: dict[str, int] = {}
    for text in base["text"]:
        for w in set(text.split()):
            df[w] = df.get(w, 0) + 1
    return sorted(w for w, n in df.items()
                  if 2 * n >= len(base) and len(w) > 2)


def corpus_rows(base) -> list[dict]:
    """``corpus.corpus_sql`` with one replica (r = 0), then ``bench.py``'s
    content repeat."""
    rows = []
    for doc_id, text, lang, source in zip(base["doc_id"], base["text"],
                                          base["lang"], base["source"]):
        ext = LANG_EXT.get(lang, "txt")
        rows.append({
            "repo": source,
            "path": f"src/{source}/file_{doc_id}_0.{ext}",
            "commit": hashlib.sha256(f"{doc_id}:0".encode()).hexdigest()[:40],
            "lang": ext,
            "content": (text + " ") * CONTENT_REPEAT,
        })
    return rows


def oracle_documents(base) -> list[dict]:
    """The documents the engine indexes, derived without Spark."""
    from spyglass_spark.testing import corpus_to_documents

    return corpus_to_documents(corpus_rows(base))[0]


def _zipf_pick(rng, n: int, s: float = 1.1) -> int:
    w = 1.0 / np.arange(1, n + 1) ** s
    return int(rng.choice(n, p=w / w.sum()))


def _terms(rng, ranked: list[str], n: int) -> str:
    picked: list[str] = []
    while len(picked) < n:
        t = ranked[_zipf_pick(rng, len(ranked))]
        if t not in picked:
            picked.append(t)
    return " ".join(picked)


def _fuzzy_variant(rng, word: str) -> str:
    i = int(rng.integers(0, len(word)))
    sub = "qxz"[int(rng.integers(0, 3))]
    return word[:i] + sub + word[i + 1:]


def interactive_ops(seed: int, words: list[str], n_base: int,
                    blocks: int = 40, stream: int = 1) -> list[dict]:
    """Searches for one closed-loop user: Zipf-skewed hot content terms,
    rare title tokens (a document number), and a pattern slice."""
    rng = np.random.default_rng([seed, stream])
    ranked = list(rng.permutation(words))
    ops = []
    for _ in range(blocks):
        for shape in rng.permutation(INTERACTIVE_BLOCK):
            if shape == "title":
                q = f"file {int(rng.integers(0, n_base))}"
                ops.append({"kind": "search", "query": q})
            elif shape == "prefix":
                w = ranked[_zipf_pick(rng, len(ranked))]
                ops.append({"kind": "search_prefix", "query": w[:2]})
            elif shape == "fuzzy":
                w = ranked[_zipf_pick(rng, len(ranked))]
                ops.append({"kind": "search_fuzzy",
                            "query": _fuzzy_variant(rng, w)})
            else:
                ops.append({"kind": "search",
                            "query": _terms(rng, ranked, int(shape[1:]))})
    return ops


def bulk_ops(seed: int, words: list[str], rotations: int = 20,
             stream: int = 2) -> list[dict]:
    """Rotations of two 64-query ``search_many`` batches and one call of
    each aggregation kind: narrow batch, two aggregations, wide batch, two
    aggregations.

    The narrow batch draws single terms from a 3-word head, so its top-k
    hits share few documents (< 512 distinct: pyarrow doc-meta read); the
    wide batch draws 2-3 terms from the whole vocabulary (> 512 distinct:
    distributed doc-meta join).

    Query lengths are fixed, not drawn, so the seed changes only which
    terms a run uses: wide-batch queries alternate 2 and 3 terms, and an
    aggregation has 1 term in one rotation and 2 in the next, two kinds of
    each per rotation."""
    rng = np.random.default_rng([seed, stream])
    ranked = list(rng.permutation(words))
    head = ranked[:3]
    ops = []
    for r in range(rotations):
        narrow = [head[int(rng.integers(0, len(head)))] for _ in range(BATCH)]
        wide = [" ".join(rng.choice(ranked, 2 + q % 2, replace=False))
                for q in range(BATCH)]
        aggs = [{"kind": kind, "query": _terms(rng, ranked, 1 + (r + j) % 2)}
                for j, kind in enumerate(AGG_KINDS)]
        ops += [{"kind": "search_many", "queries": narrow}, *aggs[:2],
                {"kind": "search_many", "queries": wide}, *aggs[2:]]
    return ops


BULK_ROTATION = 2 + len(AGG_KINDS)


def warm_ops(workload: str, seed: int, words: list[str],
             n_base: int) -> list[tuple[str, dict]]:
    """Set-up warm-up, on queries the timed loop does not use verbatim.
    Named ops are the first of their type, and their latency is reported
    as that type's first-op cost. The interactive user makes one search of
    each type, then ``WARM_BLOCKS`` untimed blocks of its own mix, so the
    engine's per-term caches hold the hot terms and the JVM has compiled
    the per-search path, as on a running server. The bulk consumer runs
    one untimed rotation, whose ops are each the first of their type."""
    if workload == "interactive":
        ops = [("search", {"kind": "search", "query": "vector join"}),
               ("search_prefix", {"kind": "search_prefix", "query": "wi"}),
               ("search_fuzzy", {"kind": "search_fuzzy", "query": "scqn"})]
        warm = interactive_ops(seed, words, n_base, blocks=WARM_BLOCKS,
                               stream=4)
        return ops + [("", op) for op in warm]
    names = ("search_many", AGG_KINDS[0], AGG_KINDS[1], "search_many_wide",
             AGG_KINDS[2], AGG_KINDS[3])
    return list(zip(names, bulk_ops(seed, words, rotations=1, stream=5)))


def write_cycles(seed: int, cycles: int, n_docs: int, slice_docs: int = 250,
                 deletes: int = 3) -> list[dict]:
    """Edits for the traced write cycles: per cycle, a disjoint slice of
    documents (by index into the derived documents) whose content gains the
    cycle's marker token, and a few of those documents to delete."""
    rng = np.random.default_rng([seed, 3])
    order = rng.permutation(n_docs)
    out = []
    for c in range(cycles):
        sl = [int(i) for i in order[c * slice_docs:(c + 1) * slice_docs]]
        out.append({"marker": f"zqedit{seed % 1000}x{c}", "docs": sl,
                    "delete": sl[:deletes]})
    return out
