"""Percolator — reverse search: which STORED QUERIES match each document.

The ES percolator contract (public ES surface; the reference's searcher
evaluates one query against the index — the percolator inverts it:
index the QUERIES, feed DOCUMENTS, get (query, doc) matches). The
alerting/routing primitive of a streaming corpus: "which of the million
saved alerts does this new page trigger" — run as ONE Spark job over a
micro-batch instead of a per-doc query loop.

Spark-first design (no per-doc loop, no per-query scan):
- the documents frame is tokenized ONCE by the same vectorized byte-path
  kernel the index build uses (``tokenize_arrays`` inside mapInPandas,
  Arrow batches) into DISTINCT (url, field, term) triples — O(unique
  terms per doc) tiny rows; tags/id/url echo fields ride along so tag
  and document filters percolate too;
- every stored query compiles through the SAME ``compile_query`` grammar
  as search, then flattens into four small relations keyed by query_key:
  should (clause_id, field, term), must (field, term), must_not
  (field, term) and date-range rows — kilobytes for thousands of
  alerts, always broadcast;
- matching is pure equi-joins + counting: a Should hit is a broadcast
  join on (field, term) (``minimum_should_match`` ≥ 2 becomes
  countDistinct matched clause_ids ≥ msm); Musts demand every (field,
  term) pair matched (count == the query's pair total); must_nots are a
  LEFT-ANTI join; date ranges evaluate as a broadcast
  range-rows × docs predicate (docs with a NULL date never match, the
  fast-field convention). Everything is partial→final counting over
  doc-local keys — skew-free, and the documents side shuffles nothing
  larger than its own term triples.

Exactness rules are ``compiler.term_match_pairs``, shared with the
unscored match-set machinery (``SearchEngine._match_doc_meta``): term
clauses only — a phrase Should is absorbed by its paired term clauses
(compile_query always emits them; positions cannot flip a Should-UNION
match), and a standalone phrase / any phrase under msm ≥ 2 / a phrase
Must raises rather than over-matching. Extra OR-groups are rejected
here only.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..analysis.analyzer import tokenize_arrays
from ..query.compiler import (compile_query, resolve_min_should_match,
                              term_match_pairs)

# field → analyzer kind, the index build's own mapping
_TOKENIZED = (("content", "en"), ("title", "default"))


def doc_term_pairs(documents: DataFrame) -> DataFrame:
    """DISTINCT (url, field, term) triples of a documents frame — the
    percolator's document side, produced by the SAME vectorized
    tokenizer as the index build (one mapInPandas pass, no per-token
    Python: per-term doc ordinals come straight out of the posting
    arrays, already unique per (doc, field, term)). Echo fields: every
    tag as ``tags``/str, plus ``id`` (doc_id) and ``url`` so document
    queries and tag filters percolate."""
    cols = [c for c in ("url", "doc_id", "title", "content", "tags")
            if c in documents.columns]

    def gen(batches):
        for pdf in batches:
            frames = []
            urls = pdf["url"].to_numpy()
            for field, kind in _TOKENIZED:
                if field not in pdf.columns:
                    continue
                vocab, starts, ords, _tf, _pos, _cnt = tokenize_arrays(
                    pdf[field].tolist(), kind)
                if len(vocab):
                    reps = np.diff(starts)
                    t_of = np.repeat(np.arange(len(vocab)), reps)
                    d_of = ords.astype(np.int64)
                    frames.append(pd.DataFrame({
                        "url": urls[d_of], "field": field,
                        "term": np.asarray(vocab, dtype=object)[t_of]}))
            if "tags" in pdf.columns:
                tag_u, tag_t = [], []
                for u, ts in zip(pdf["url"], pdf["tags"]):
                    # per-doc tag SET: a duplicated stored tag must not
                    # double-count a tags Must pair (the _nm ==
                    # n_must_pairs equality would silently false-negate)
                    for t in sorted({str(t) for t in ts}
                                    if ts is not None else ()):
                        tag_u.append(u)
                        tag_t.append(t)
                if tag_u:
                    frames.append(pd.DataFrame(
                        {"url": tag_u, "field": "tags", "term": tag_t}))
            if "doc_id" in pdf.columns:
                frames.append(pd.DataFrame(
                    {"url": urls, "field": "id",
                     "term": pdf["doc_id"].astype(str).to_numpy()}))
            frames.append(pd.DataFrame(
                {"url": urls, "field": "url", "term": urls}))
            yield pd.concat(frames, ignore_index=True)

    return documents.select(*cols).mapInPandas(
        gen, "url string, field string, term string")


def _flatten_queries(queries) -> dict:
    """Compile + flatten stored queries into the four little relations.
    Each query: a string or {"query": ..., "filters": [...],
    "min_should_match": ..., "key": <output label>}."""
    shoulds, musts, must_nots, ranges = [], [], [], []
    reqs = []   # (key, msm, n_must_pairs, n_ranges)
    seen_keys = set()
    for qi, spec in enumerate(queries):
        spec = dict(spec) if isinstance(spec, dict) else {"query": spec}
        key = str(spec.get("key", f"q{qi}"))
        if key in seen_keys:
            raise ValueError(f"duplicate percolator query key {key!r}")
        seen_keys.add(key)
        cq = compile_query(spec.get("query", ""), spec.get("filters", ()),
                           spec.get("boosts", ()))
        msm = resolve_min_should_match(spec.get("min_should_match", 0),
                                       len(cq.should_group))
        if not cq.should_group:
            raise ValueError(f"percolator query {key!r} needs at least "
                             "one Should clause")
        term_match_pairs(cq, msm, f"percolator query {key!r}")
        term_clauses = [c for c in cq.should_group if c.kind == "term"]
        for ci, c in enumerate(term_clauses):
            for t in c.terms:
                shoulds.append((key, ci, c.field, t))
        if cq.extra_groups:
            raise ValueError(f"percolator query {key!r}: extra OR-groups "
                             "are not supported")
        n_must_pairs = 0
        for c in cq.musts:
            for t in set(c.terms):
                musts.append((key, c.field, t))
                n_must_pairs += 1
        for c in cq.must_nots:
            for t in set(c.terms):
                must_nots.append((key, c.field, t))
        for t in spec.get("exclude_tags", ()):
            # the document_query MustNot(tag) shape (query.rs:229-231)
            must_nots.append((key, "tags", str(t)))
        for field, ge, le in getattr(cq, "range_musts", ()):
            ranges.append((key, field,
                           None if ge is None else int(ge),
                           None if le is None else int(le)))
        reqs.append((key, msm, n_must_pairs,
                     len(getattr(cq, "range_musts", ()))))
    return {"shoulds": shoulds, "musts": musts, "must_nots": must_nots,
            "ranges": ranges, "reqs": reqs}


def _lit_frame(spark: SparkSession, rows, header: str) -> DataFrame:
    """Literal VALUES LocalRelation (job-free — createDataFrame+collect
    launches a defaultParallelism job even for 10 rows)."""

    def lit(v):
        if v is None:
            return "CAST(NULL AS BIGINT)"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return f"{int(v)}L"

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")"
                     for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({header})")


def percolate(spark: SparkSession, documents: DataFrame,
              queries) -> DataFrame:
    """(query_key, url) matches of every stored query against every
    document — see the module docstring for the join plan. Output
    ordered (query_key asc, url asc); a query with no matching doc
    emits nothing (the ES percolator contract)."""
    q = _flatten_queries(list(queries))
    if not q["reqs"]:
        raise ValueError("queries must be non-empty")
    pairs = doc_term_pairs(documents)
    # the same micro-batch percolates against every relation — never
    # re-tokenize per relation. localCheckpoint, not persist: the
    # checkpoint RDD is released by GC when the result frame dies, so
    # streaming micro-batches don't leak one cached frame each (the old
    # persist had no unpersist), and a repeated identical call can never
    # be served from the CacheManager instead of recomputing.
    pairs = pairs.localCheckpoint()

    sh = _lit_frame(spark, q["shoulds"], "query_key, clause_id, field, term")
    hit = pairs.join(F.broadcast(sh), ["field", "term"])
    should_ok = (hit.groupBy("query_key", "url")
                    .agg(F.count_distinct("clause_id").alias("_nc")))
    # msm requirement joins in below; msm <= 1 needs just one clause

    ok = should_ok
    if q["musts"]:
        mu = _lit_frame(spark, q["musts"], "query_key, field, term")
        must_cnt = (pairs.join(F.broadcast(mu), ["field", "term"])
                         .groupBy("query_key", "url")
                         .agg(F.count("*").alias("_nm")))
        ok = ok.join(must_cnt, ["query_key", "url"], "left") \
               .fillna({"_nm": 0})
    else:
        ok = ok.withColumn("_nm", F.lit(0))
    if q["ranges"]:
        rg = _lit_frame(spark, q["ranges"], "query_key, field, lo, hi")
        date_cols = sorted({r[1] for r in q["ranges"]})
        docs_d = documents.select("url", *date_cols)
        rng_hits = None
        for fld in date_cols:
            c = F.col(fld)
            h = (docs_d.crossJoin(
                    F.broadcast(rg.filter(F.col("field") == fld)))
                 .filter(c.isNotNull()
                         & (F.col("lo").isNull() | (c >= F.col("lo")))
                         & (F.col("hi").isNull() | (c <= F.col("hi"))))
                 .select("query_key", "url"))
            rng_hits = h if rng_hits is None else rng_hits.unionByName(h)
        rng_cnt = (rng_hits.groupBy("query_key", "url")
                           .agg(F.count("*").alias("_nr")))
        ok = ok.join(rng_cnt, ["query_key", "url"], "left") \
               .fillna({"_nr": 0})
    else:
        ok = ok.withColumn("_nr", F.lit(0))

    req = _lit_frame(spark, q["reqs"],
                     "query_key, msm, n_must_pairs, n_ranges")
    ok = (ok.join(F.broadcast(req), "query_key")
            .filter((F.col("_nc") >= F.greatest(F.col("msm"), F.lit(1)))
                    & (F.col("_nm") == F.col("n_must_pairs"))
                    & (F.col("_nr") == F.col("n_ranges"))))
    if q["must_nots"]:
        mn = _lit_frame(spark, q["must_nots"], "query_key, field, term")
        bad = (pairs.join(F.broadcast(mn), ["field", "term"])
                    .select("query_key", "url").distinct())
        ok = ok.join(bad, ["query_key", "url"], "left_anti")
    return (ok.select("query_key", "url")
              .orderBy("query_key", "url"))
