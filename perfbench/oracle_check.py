"""Checks a seeded sample of the measured ops against the oracle.

The oracle (``spyglass_spark/oracle/engine.py``) is built here, in the
benchmark's own process, over the same documents the engine indexed, so
its cost never lands in a measured number. Searches must match rank for
rank on doc_id and on the float32 score; aggregations must match the
counts derived from the oracle's full match set. In a traced run, where
each op ran twice, both outputs are checked.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

import inputs

DAY_US = 86_400_000_000


def _same_hits(got: list, exp: list[dict]) -> str | None:
    if len(got) != len(exp):
        return f"{len(got)} hits, oracle has {len(exp)}"
    for rank, ((doc_id, score), e) in enumerate(zip(got, exp), start=1):
        if doc_id != e["doc_id"]:
            return f"rank {rank}: doc {doc_id}, oracle {e['doc_id']}"
        if np.float32(score) != np.float32(e["score"]):
            return f"rank {rank}: score {score!r}, oracle {e['score']!r}"
    return None


def _matched_docs(oracle, query: str) -> list[dict]:
    from spyglass_spark.query.compiler import compile_query

    hits = oracle.execute(compile_query(query), k=oracle.n_docs)
    return [oracle.docs[h["doc_ord"]] for h in hits]


def _check_agg(oracle, kind: str, query: str, out: dict) -> str | None:
    docs = _matched_docs(oracle, query)
    if kind == "count_matches":
        exp = len(docs)
        return None if out["n"] == exp else f"n={out['n']}, oracle {exp}"
    if kind == "facet_counts":
        exp = Counter(str(t) for d in docs for t in d["tags"])
        return None if out["counts"] == dict(exp) else "tag counts differ"
    if kind == "terms_agg":
        counts = Counter(d["domain"] for d in docs)
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        exp = [[key, n] for key, n in top]
        other = sum(counts.values()) - sum(n for _, n in top)
        if out["buckets"] != exp or out["other"] != other:
            return "terms buckets differ"
        return None
    if kind == "date_histogram":
        exp = Counter(str(d["lastmodified"] // DAY_US * DAY_US) for d in docs)
        return None if out["counts"] == dict(exp) else "date buckets differ"
    return f"no oracle check for {kind}"


def _outputs(r: dict) -> list[tuple[str, dict]]:
    """The op's outputs by mode: untraced, and traced in a traced run."""
    return [(mode, r[key]) for key, mode in (("out", "untraced"),
                                             ("traced_out", "traced"))
            if r.get(key) is not None]


def check(workload: str, seed: int, docs: list[dict], records: list[dict],
          k: int, sample: int) -> dict:
    """Returns {checked, mismatched: [op index], causes: [text]}."""
    from spyglass_spark.oracle.engine import OracleIndex

    oracle = OracleIndex.build(docs, num_partitions=inputs.PARTS)
    rng = np.random.default_rng([seed, 9])
    done = [r for r in records if _outputs(r)]
    mismatched, causes, checked = [], [], 0

    def verdict(r, why, label):
        if why is not None:
            mismatched.append(r["i"])
            causes.append(f"op {r['i']} {label}: {why}")

    if workload == "interactive":
        pick = rng.choice(len(done), min(sample, len(done)), replace=False) \
            if done else []
        for j in sorted(int(x) for x in pick):
            r = done[j]
            kind, q = r["kind"], r["op"]["query"]
            if kind == "search":
                exp = oracle.search(q, k=k)
            elif kind == "search_prefix":
                exp = oracle.search_prefix(q, k=k)
            else:
                exp = oracle.search_fuzzy(q, distance=1, k=k)
            for mode, out in _outputs(r):
                verdict(r, _same_hits(out["hits"], exp),
                        f"{kind} {q!r} ({mode})")
            checked += 1
        return {"checked": checked, "mismatched": mismatched,
                "causes": causes}

    batches = [r for r in done if r["kind"] == "search_many"]
    pairs = [(r, qi) for r in batches for qi in range(inputs.BATCH)]
    pick = rng.choice(len(pairs), min(sample, len(pairs)), replace=False) \
        if pairs else []
    for j in sorted(int(x) for x in pick):
        r, qi = pairs[j]
        q = r["op"]["queries"][qi]
        exp = oracle.search(q, k=k)
        for mode, out in _outputs(r):
            verdict(r, _same_hits(out["hits"].get(str(qi), []), exp),
                    f"search_many query {qi} {q!r} ({mode})")
        checked += 1
    for r in done:
        if r["kind"] != "search_many":
            q = r["op"]["query"]
            for mode, out in _outputs(r):
                verdict(r, _check_agg(oracle, r["kind"], q, out),
                        f"{r['kind']} {q!r} ({mode})")
            checked += 1
    return {"checked": checked, "mismatched": sorted(set(mismatched)),
            "causes": causes}
