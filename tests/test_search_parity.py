"""THE rank-identity gate (BASELINE.json metric): the distributed engine's
top-k docIDs AND float32 scores must match the pure-Python oracle
rank-identically on the reference query set."""

import numpy as np
import pytest

pyspark = pytest.importorskip("pyspark")

# Reference query set (FIXTURES.md §4): single/multi-term, stopwords,
# stems, hot terms, zero-hit, accented, title terms, filters, boosts,
# pagination.
QUERY_SET = [
    {"query": "salinas"},
    {"query": "fn"},                       # hot term
    {"query": "import sys"},               # hot phrase
    {"query": "parse token stream"},       # multi-term phrase boost
    {"query": "the parsing of tokens"},    # stopword holes + stems
    {"query": "I index"},                  # uppercase-I quirk
    {"query": "naïve café"},               # accent folding
    {"query": "cafe"},                     # folded form matches accented docs
    {"query": "file_3.rs"},                # title/path tokens
    {"query": "zzzznohit"},                # zero hits
    {"query": "merged scoring"},           # stemming across forms
    {"query": "snake_case camelCase"},
    {"query": "vector compress delta"},
    {"query": "foo_bar"},
]


@pytest.fixture(scope="module")
def engine(spark, built_index):
    from spyglass_spark.query.executor import SearchEngine

    return SearchEngine(spark, built_index["index_dir"])


def _assert_matches(spark_rows, oracle_hits, qlabel, check_scores=True):
    assert len(spark_rows) == len(oracle_hits), (
        f"{qlabel}: hit count {len(spark_rows)} != oracle {len(oracle_hits)}")
    for sr, oh in zip(spark_rows, oracle_hits):
        assert sr["doc_id"] == oh["doc_id"], (
            f"{qlabel}: rank {oh['rank']} doc {sr['doc_id']} != {oh['doc_id']} "
            f"(spark score {sr['score']}, oracle {oh['score']})")
        assert (sr["description"] or None) == (oh.get("description") or None)
        if check_scores:
            assert np.isclose(np.float32(sr["score"]), np.float32(oh["score"]),
                              rtol=1e-5), (
                f"{qlabel}: score {sr['score']} != oracle {oh['score']}")


def test_rank_identity_query_set(engine, built_index):
    oracle = built_index["oracle"]
    k = 5
    results = engine.search_many([dict(q) for q in QUERY_SET], k=k).collect()
    by_q = {}
    for r in results:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi, q in enumerate(QUERY_SET):
        spark_rows = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
        oracle_hits = oracle.search(q["query"], q.get("filters", ()),
                                    q.get("boosts", ()), k=k)
        _assert_matches(spark_rows, oracle_hits, f"q{qi}:{q['query']}")


def test_rank_identity_with_filters_and_boosts(engine, built_index):
    oracle = built_index["oracle"]
    tags_dim = built_index["tags_dim"]
    rs_tag = next(t["id"] for t in tags_dim if t["label"] == "lens" and t["value"] == "rs")
    cases = [
        {"query": "fn main", "filters": [("tag", rs_tag)]},
        {"query": "index", "boosts": [("tag", rs_tag)]},
        {"query": "search query", "filters": [("tag", rs_tag)],
         "boosts": [("tag", rs_tag)]},
    ]
    res = engine.search_many(cases, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi, c in enumerate(cases):
        spark_rows = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
        oracle_hits = oracle.search(c["query"], c.get("filters", ()),
                                    c.get("boosts", ()), k=10)
        _assert_matches(spark_rows, oracle_hits, f"f{qi}:{c['query']}")


def test_rank_identity_date_range_filters(engine, built_index):
    """Date-range Must filters over the published/lastmodified fast fields
    (schema.rs:179-195): engine ≡ oracle, and the filter is selective."""
    oracle = built_index["oracle"]
    docs = built_index["docs"]
    mids = sorted(d["lastmodified"] for d in docs)
    mid_lm = mids[len(mids) // 2]
    pubs = sorted(d["published"] for d in docs)
    mid_pub = pubs[len(pubs) // 2]
    cases = [
        {"query": "index search", "filters": [("lastmodified_ge", mid_lm)]},
        {"query": "parse token", "filters": [("published_le", mid_pub)]},
        {"query": "fn", "filters": [("published_ge", pubs[10]),
                                    ("lastmodified_le", mids[-10])]},
    ]
    res = engine.search_many(cases, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    any_nonempty = False
    for qi, c in enumerate(cases):
        spark_rows = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
        oracle_hits = oracle.search(c["query"], c["filters"], k=10)
        _assert_matches(spark_rows, oracle_hits, f"d{qi}:{c['query']}")
        any_nonempty = any_nonempty or len(spark_rows) > 0
        # selectivity: the date filter must actually remove hits
        unfiltered = oracle.search(c["query"], k=10)
        assert len(oracle_hits) <= len(unfiltered)
    assert any_nonempty  # the case set must not be vacuous


def test_search_with_lenses_parity_nonempty(spark, engine, built_index):
    """The full lens-search prep path (search.rs:23-129): lens names →
    tag filters, query-token∩tag-value → 1.5-boosted tags — non-empty
    results, rank/score-identical to the oracle given the same compiled
    filter/boost lists."""
    from spyglass_spark.ops.tags import (check_query_for_tags, resolve_lenses,
                                         search_with_lenses)

    oracle = built_index["oracle"]
    tags_dim_df = spark.createDataFrame(built_index["tags_dim"]) \
        .select("id", "label", "value")
    # "rs" is both a lens value and a query token → exercises the boost path
    query, lenses = "rs parse index", ["rs"]
    got = search_with_lenses(engine, query, lenses, tags_dim_df, k=10).collect()

    filt = [("tag", t) for t in resolve_lenses(lenses, tags_dim_df)]
    boost_ids = sorted(int(r["id"])
                       for r in check_query_for_tags(query, tags_dim_df).collect())
    exp = oracle.search(query, filters=filt,
                        boosts=[("tag", t) for t in boost_ids], k=10)
    assert len(got) > 0, "lens search must not be vacuous"
    _assert_matches(got, exp, "lens:rs")
    rs_tag = next(t["id"] for t in built_index["tags_dim"]
                  if t["label"] == "lens" and t["value"] == "rs")
    for r in got:
        assert rs_tag in (r["tags"] or []), "hits must carry their tags"


def test_pagination_offset(engine, built_index):
    oracle = built_index["oracle"]
    full = oracle.search("index search", k=10)
    page = engine.search("index search", k=3, offset=2).collect()
    assert [r["doc_id"] for r in page] == [h["doc_id"] for h in full[2:5]]
    assert [r["rank"] for r in page] == [3, 4, 5]


def test_sha256_per_row_invariant(spark, built_index):
    """input_hint per-row invariant: sha2(content,256) equality vs source."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(built_index["docs"])
    bad = docs.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).count()
    assert bad == 0


def test_manifest_metrics(built_index):
    m = built_index["manifest"]
    assert m.num_docs == 200
    assert m.metrics["docs_per_sec"] > 0
    assert m.metrics["n_parts_built"] >= 1
    assert m.field_totals["content"] > 0
    assert m.committed


def test_description_and_custom_field_parity(spark, corpus_rows, tmp_path):
    """Optional description field (schema.rs:174) + Boost::CustomField
    (lib.rs:68, query.rs:124-130) — rank-identity incl. custom boosts."""
    from spyglass_spark.index.builder import build_index
    from spyglass_spark.oracle.engine import OracleIndex
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:80])
    for i, d in enumerate(docs):
        d["description"] = f"module summary number {i % 7} parsing tokens"
        d["cf_stars"] = (i % 5) * 100  # custom u64 field
    idx_dir = str(tmp_path / "cfidx")
    build_index(spark, spark.createDataFrame(docs), idx_dir,
                num_partitions=4, waves=1)
    oracle = OracleIndex.build(docs, num_partitions=4)
    eng = SearchEngine(spark, idx_dir)

    cases = [
        {"query": "index search"},
        {"query": "parse", "boosts": [("custom:stars", 200, 2.0)]},
        {"query": "token", "filters": [("custom:stars", 0)]},
    ]
    got = eng.search_many(cases, k=8).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qi, c in enumerate(cases):
        srows = sorted(by_q.get(qi, []), key=lambda r: r["rank"])
        orows = oracle.search(c["query"], c.get("filters", ()),
                              c.get("boosts", ()), k=8)
        assert [r["doc_id"] for r in srows] == [h["doc_id"] for h in orows], c
        for r, h in zip(srows, orows):
            assert np.isclose(np.float32(r["score"]), np.float32(h["score"]),
                              rtol=1e-5), (c, r["score"], h["score"])


def test_materialize_preview(spark, built_index):
    from spyglass_spark.query.executor import SearchEngine

    eng = SearchEngine(spark, built_index["index_dir"])
    docs_df = spark.createDataFrame(built_index["docs"])
    hits = eng.search("salinas", k=5)
    out = eng.materialize(hits, docs_df, "salinas").collect()
    assert len(out) == hits.count()
    for r in out:
        assert r["preview"].startswith("<span>")
        assert "<mark>" in r["preview"]
        assert len(r["description"].split()) <= 20


def test_edge_cases_parity(spark, tmp_path):
    """Empty query, stopword-only query (title tokenizer keeps stopwords),
    unicode/CJK content, empty docs, k > corpus size — all rank-identical."""
    import hashlib
    import uuid

    from spyglass_spark.corpus import SPYGLASS_NS
    from spyglass_spark.index.builder import build_index
    from spyglass_spark.oracle.engine import OracleIndex
    from spyglass_spark.query.executor import SearchEngine

    contents = [
        "",                                   # empty doc
        "   \t\n ",                           # whitespace-only
        "the and of to is",                   # stopwords only
        "搜索 引擎 测试 中文 内容",               # CJK
        "emoji 🎉 mixed tokens",               # emoji (non-alnum, splits)
        "The Quick brown the fox",
        "ÅNGSTRÖM überschrift façade",         # folding + upper unicode
        "x" * 45 + " visible",                # long-token drop
    ]
    docs = []
    for i, c in enumerate(contents):
        url = f"repo://edge/the-file_{i}.rs@{'0' * 40}"
        docs.append(dict(doc_id=str(uuid.uuid5(SPYGLASS_NS, url)), url=url,
                         domain="edge", title=f"the-file_{i}.rs", content=c,
                         tags=[1],
                         content_sha256=hashlib.sha256(c.encode()).hexdigest()))
    idx = str(tmp_path / "edge")
    build_index(spark, spark.createDataFrame(docs), idx, num_partitions=4, waves=1)
    oracle = OracleIndex.build(docs, num_partitions=4)
    eng = SearchEngine(spark, idx)

    for q in ["", "the of and", "quick fox", "测试", "überschrift", "angstrom",
              "visible", "🎉", "the"]:
        got = eng.search(q, k=50).collect()
        exp = oracle.search(q, k=50)
        assert [r["doc_id"] for r in got] == [h["doc_id"] for h in exp], repr(q)
        for r, h in zip(got, exp):
            assert np.isclose(np.float32(r["score"]), np.float32(h["score"]),
                              rtol=1e-5), (q, r["score"], h["score"])


def _hit_columns(rows):
    from spyglass_spark.query.executor import HIT_COLUMNS

    return dict(zip(HIT_COLUMNS, map(list, zip(*rows))))


def test_local_hits_values_roundtrip(engine):
    """The Arrow LocalRelation result path must round-trip every string
    bitwise (quotes, backslashes, control chars, unicode, NUL) and
    launch ZERO Spark jobs on collect."""
    nasty = [
        (0, 1, "d'x", 'u"\\z', "dom\nnl", "ti\tq", None, [1, 2],
         1.5, 42),
        (0, 2, "π—émoji🎉", "u%s$", "d", "t", "desc with 'quotes'",
         [], 0.25, 7),
        (1, 1, "\\\\double", "-- not a comment", "d;e", "t/*x*/",
         "a\rb", [3], 0.125, 9),
    ]
    sc = engine.spark.sparkContext
    sc.setJobGroup("values-rt", "test")
    try:
        got = [tuple(r) for r in
               engine._local_hits_df(_hit_columns(nasty)).collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == nasty
    assert sc.statusTracker().getJobIdsForGroup("values-rt") == []

    nul = [(0, 1, "a\x00b", "u", "d", "t", None, [1], 1.0, 9)]
    assert [tuple(r) for r in
            engine._local_hits_df(_hit_columns(nul)).collect()] == nul

    # empty result is a LocalRelation too — schema intact, no job
    empty = engine._empty_result()
    assert empty.collect() == []
    assert [f.name for f in empty.schema.fields] == [
        "query_id", "rank", "doc_id", "url", "domain", "title",
        "description", "tags", "score", "doc_ord"]


def test_driver_merge_doc_meta_matches_window(engine, built_index,
                                              monkeypatch):
    """A 64-query batch whose hits cover most of the fixture takes the
    driver merge: its doc-meta comes from the driver-side pyarrow read
    at any hit count, returns every HIT_COLUMNS field row-for-row equal
    to the distributed window merge (first page and an offset page), and
    its collect() runs no Spark job. ``last_meta["path"]`` names the
    branch each call took."""
    from spyglass_spark.query import executor as X

    words = sorted({w for d in built_index["docs"]
                    for w in d["content"].split()})
    batch = [{"query": f"{words[i % len(words)]} "
                       f"{words[(i * 7 + 3) % len(words)]}"}
             for i in range(64)]
    pages = ((20, 0), (7, 3))
    merged = [engine.search_many(batch, k=k, offset=o) for k, o in pages]
    assert engine.last_meta["path"] == "driver_merge"
    sc = engine.spark.sparkContext
    sc.setJobGroup("driver-merge-collect", "test")
    try:
        got = [df.collect() for df in merged]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("driver-merge-collect") == []
    assert len({r["doc_ord"] for r in got[0]}) > 100
    engine.search_many(batch[:2], k=20)
    assert engine.last_meta["path"] == "local"

    monkeypatch.setattr(X, "MERGE_COLLECT_MAX", 0)
    for rows, (k, o) in zip(got, pages):
        window = engine.search_many(batch, k=k, offset=o).collect()
        assert engine.last_meta["path"] == "window"
        assert rows[0].__fields__ == window[0].__fields__ == X.HIT_COLUMNS
        assert [tuple(r) for r in rows] == [tuple(r) for r in window]
    assert {r["rank"] for r in got[1]} == set(range(4, 11))
    assert any(r["tags"] for r in got[0])


def _tombstoned_copy(spark, built_index, tmp_path):
    """A copy of the fixture index carrying a second generation (an
    upsert of 10 docs) and both tombstone sources (upsert /
    delete_by_urls side tables, delete_by_ids manifest doc_ids)."""
    import shutil

    from spyglass_spark.index.builder import (delete_by_ids, delete_by_urls,
                                              upsert_documents)

    docs = built_index["docs"]
    idx = str(tmp_path / "tombstoned")
    shutil.copytree(built_index["index_dir"], idx)
    upsert_documents(spark, spark.createDataFrame(docs[:10]), idx,
                     num_partitions=2)
    delete_by_urls(spark, idx, [docs[1]["url"], docs[20]["url"]])
    delete_by_ids(idx, [docs[2]["doc_id"], docs[30]["doc_id"]])
    return idx


def test_local_exec_ab_parity(spark, built_index, tmp_path, monkeypatch):
    """Driver-local execution (zero Spark jobs) vs the distributed path
    must be bitwise identical — the gate is a scale/latency choice
    only, never a semantics change. Covers single, multi-term,
    phrase-bearing and batch-of-2 shapes plus a search_after page, on
    the fixture index and on a two-generation copy with both tombstone
    sources (part ids spanning two part offsets). The distributed side
    is ONE Spark job whose scoring plan has no exchange and no parquet
    scan (the tasks read postings with pyarrow)."""
    from spyglass_spark.query import executor as X

    frames = []
    partial_frame = X.SearchEngine._partial_frame

    def spy(self, *args):
        frames.append(partial_frame(self, *args))
        return frames[-1]

    monkeypatch.setattr(X.SearchEngine, "_partial_frame", spy)
    max_parts = X.LOCAL_EXEC_MAX_PARTS
    queries = [{"query": "salinas"}, {"query": "parse token stream"}]
    single = [{"query": "the parsing of tokens"}]
    for index_dir in (built_index["index_dir"],
                      _tombstoned_copy(spark, built_index, tmp_path)):
        eng = X.SearchEngine(spark, index_dir)
        monkeypatch.setattr(X, "LOCAL_EXEC_MAX_PARTS", max_parts)
        a_batch = eng.search_many(queries, k=8).collect()
        a_single = eng.search_many(single, k=8).collect()
        a_jobs = eng.last_meta["spark_jobs"]
        cursor = (a_single[2]["score"], a_single[2]["doc_ord"]) \
            if len(a_single) > 2 else None
        a_page = (eng.search_many(single, k=3).collect()
                  if cursor is None else
                  eng.search_many([dict(single[0], after=cursor)],
                                  k=3).collect())
        assert frames == []

        monkeypatch.setattr(X, "LOCAL_EXEC_MAX_PARTS", 0)
        b_batch = eng.search_many(queries, k=8).collect()
        b_single = eng.search_many(single, k=8).collect()
        b_jobs = eng.last_meta["spark_jobs"]
        b_page = (eng.search_many(single, k=3).collect()
                  if cursor is None else
                  eng.search_many([dict(single[0], after=cursor)],
                                  k=3).collect())

        assert a_jobs == 0  # driver-local = zero Spark jobs
        assert b_jobs == 1  # distributed = one scoring job
        assert len(frames) == 3
        for df in frames:
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan and "Scan parquet" not in plan, plan
        frames.clear()
        for a, b in ((a_batch, b_batch), (a_single, b_single),
                     (a_page, b_page)):
            assert len(a) == len(b) and len(a) > 0
            for ra, rb in zip(a, b):
                assert (ra["query_id"], ra["rank"], ra["doc_id"],
                        ra["score"], ra["doc_ord"]) == \
                       (rb["query_id"], rb["rank"], rb["doc_id"],
                        rb["score"], rb["doc_ord"])


def _agg_ab_queries(docs):
    """Match-set shapes of the aggregation A/B: plain and phrase-bearing
    Should groups, msm=2 over two term clauses, a Must, a MustNot, a
    date-range filter and an empty match set."""
    dates = sorted(d["lastmodified"] for d in docs
                   if d.get("lastmodified") is not None)
    return ["fn", "parse token stream",
            {"term_set": ["fn", "index"], "min_should_match": 2},
            {"parsed": "fn +main"}, {"parsed": "fn -main"},
            {"query": "index", "filters": [
                ("lastmodified_ge", dates[len(dates) // 2])]},
            "zzzznohit"]


def _agg_ab_tree(docs):
    """One ``aggregate()`` request holding every ``aggs.AGGS`` kind,
    each with the parameters its own tests use."""
    dates = sorted(d["lastmodified"] for d in docs
                   if d.get("lastmodified") is not None)
    lo, hi = dates[0], dates[-1]
    mid = (lo + hi) // 2
    dom = docs[0]["domain"]
    cut = 1672531200000000
    week = 7 * 86_400_000_000
    return {
        "facets": {}, "date_histogram": {},
        "histogram": {"interval": week, "offset": 3 * 86_400_000_000},
        "histogram_stats": {"interval": week},
        "stats": {}, "percentiles": {"percents": (25.0, 50.0, 95.0)},
        "percentile_ranks": {"values": (float(lo), float(mid),
                                        hi + 10)},
        "facet_stats": {},
        "range": {"ranges": (("below_mid", None, mid),
                             ("overlap_all", lo, hi + 1),
                             ("upper", mid, None))},
        "cardinality": {"col": "domain"},
        "extended_stats": {"shift": lo},
        "top_hits": {"k_hits": 2},
        "terms": {"facet_col": "domain"}, "count": {},
        "significant_terms": {"size": 5, "min_doc_count": 2},
        "filters": {"specs": {"d0": [("domain", "eq", dom)],
                              "old": [("lastmodified", "lt", cut)]},
                    "other_bucket": True},
        "rare_terms": {"facet_col": "domain", "max_doc_count": 3},
        "composite": {"sources": ({"name": "dom", "col": "domain"},
                                  {"name": "week", "col": "lastmodified",
                                   "kind": "date_histogram",
                                   "interval": week}),
                      "size": 3},
        "missing": {"col": "description"}, "value_count": {"col": "tags"},
        "weighted_avg": {}, "median_absolute_deviation": {},
        "boxplot": {},
        "multi_terms": {"facet_cols": ("domain", "tags"), "size": 4},
        "adjacency_matrix": {"specs": {"d0": [("domain", "eq", dom)],
                                       "old": [("lastmodified", "lt",
                                                cut)]}},
        "auto_date_histogram": {"target_buckets": 7},
        "string_stats": {"col": "title"},
    }


def _agg_ab_rows(X, eng, monkeypatch, max_parts, queries, agg_queries,
                 tree=None):
    """Under LOCAL_EXEC_MAX_PARTS = ``max_parts`` (0 pins the
    distributed path): the match frame of every query in
    ``queries`` (all its columns, in doc_ord order), count_matches,
    facet_counts, terms_agg(domain) and date_histogram of every query
    in ``agg_queries``, and the rows of every kind of the ``aggregate()``
    request ``tree`` over ``"fn"`` (rows order-normalized)."""
    monkeypatch.setattr(X, "LOCAL_EXEC_MAX_PARTS", max_parts)
    frames = [sorted(eng._match_frame(q, (), (), "ab").collect(),
                     key=lambda r: r["doc_ord"]) for q in queries]
    aggs = [(eng.count_matches(q).collect(),
             sorted(eng.facet_counts(q).collect(), key=repr),
             sorted(eng.terms_agg(q, facet_col="domain").collect(), key=repr),
             sorted(eng.date_histogram(q).collect(), key=repr))
            for q in agg_queries]
    if tree:
        out = eng.aggregate("fn", aggs={k: dict(spec, kind=k)
                                        for k, spec in tree.items()})
        aggs.append({k: sorted(df.collect(), key=repr)
                     for k, df in out.items()})
    return frames, aggs


def _frame_is_local(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LocalRelation" in plan and "MapInPandas" not in plan


def test_agg_local_exec_ab_parity(spark, built_index, tmp_path,
                                  monkeypatch):
    """The driver-local match frame (pyarrow posting read + numpy set
    operations + a kind=3 pyarrow read, as an Arrow LocalRelation) vs
    the distributed frame must give identical rows — the gate is a
    scale/latency choice only. Covered on the fixture index and on a
    two-generation copy carrying both tombstone sources (upsert /
    delete_by_urls side tables, delete_by_ids manifest doc_ids), for
    count_matches / facet_counts / terms_agg / date_histogram on several
    match-set shapes and for every ``aggs.AGGS`` kind on ``"fn"``. The
    local frame launches no Spark job on a fresh index, and the
    aggregations over it collect in 1 job each (terms_agg in 2); a
    match-set bound or decode volume over its cap and an unshippable
    tombstone set take the distributed path."""
    from spyglass_spark.query import aggs
    from spyglass_spark.query import executor as X

    queries = _agg_ab_queries(built_index["docs"])
    max_parts = X.LOCAL_EXEC_MAX_PARTS
    eng = X.SearchEngine(spark, built_index["index_dir"])
    sc = spark.sparkContext

    def jobs(label, fn):
        sc.setJobGroup(label, label)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(label))

    frame, n = jobs("agg-local-frame", lambda: eng._match_frame(
        "fn", (), (), "ab"))
    assert n == 0
    assert _frame_is_local(frame)
    # the one-partition local frame plans no Exchange: each kind collects
    # in one single-stage job; terms_agg adds its broadcast 1-row total
    for label, df, want in (
            ("count", eng.count_matches("fn"), 1),
            ("facets", eng.facet_counts("fn"), 1),
            ("date", eng.date_histogram("fn"), 1),
            ("terms", eng.terms_agg("fn", facet_col="domain"), 2)):
        assert jobs(f"agg-local-{label}", df.collect)[1] == want, label

    agg_queries = ["fn", {"parsed": "fn -main"}]
    tree = _agg_ab_tree(built_index["docs"])
    assert set(tree) == set(aggs.AGGS)
    local = _agg_ab_rows(X, eng, monkeypatch, max_parts, queries,
                         agg_queries, tree)
    dist = _agg_ab_rows(X, eng, monkeypatch, 0, queries, agg_queries, tree)
    assert local == dist
    frames, rows = local
    assert all(frames[:-1]) and frames[-1] == []  # last: empty match set
    assert all(a[0][0]["n"] > 0 and a[1] and a[2] and a[3]
               for a in rows[:-1])
    assert all(rows[-1].values())

    # over a cap → distributed
    monkeypatch.undo()
    monkeypatch.setattr(X, "MERGE_COLLECT_MAX", 0)
    assert not _frame_is_local(eng._match_frame("fn", (), (), "ab"))
    monkeypatch.undo()
    monkeypatch.setattr(X, "LOCAL_EXEC_MAX_ROWS", 0)
    assert not _frame_is_local(eng._match_frame("fn", (), (), "ab"))
    monkeypatch.undo()

    # a second generation plus both tombstone sources
    teng = X.SearchEngine(spark,
                          _tombstoned_copy(spark, built_index, tmp_path))
    plan = teng._tombstone_plan()
    assert plan["tombstone_ords"].size >= 14 and not plan["tombstone_dirs"]
    local = _agg_ab_rows(X, teng, monkeypatch, max_parts, queries, ["fn"])
    dist = _agg_ab_rows(X, teng, monkeypatch, 0, queries, ["fn"])
    assert local == dist
    # tombstones too many to ship → distributed even under the gates
    monkeypatch.setattr(X, "TOMBSTONE_SHIP_MAX", 0)
    monkeypatch.setattr(X, "LOCAL_EXEC_MAX_PARTS", max_parts)
    teng.refresh()
    assert teng._tombstone_plan()["tombstone_dirs"]
    assert not _frame_is_local(teng._match_frame("fn", (), (), "ab"))


def test_search_union_vs_oracle(spark, built_index, tmp_path):
    """Multi-index federated search: a deterministic even/odd url
    split indexed separately must merge to the brute (score desc,
    url asc) order of the two oracles' per-index hit lists — each
    side's BM25 uses its OWN stats (the ES default), so the oracle is
    two independent OracleIndex builds."""
    import numpy as np

    from spyglass_spark.index.builder import build_index
    from spyglass_spark.oracle.engine import OracleIndex
    from spyglass_spark.query.executor import SearchEngine, search_union

    docs = sorted(built_index["docs"], key=lambda d: d["url"])
    halves = [docs[0::2], docs[1::2]]
    engines, oracles = [], []
    for i, part in enumerate(halves):
        idx = str(tmp_path / f"u{i}")
        build_index(spark, spark.createDataFrame(part), idx,
                    num_partitions=4)
        engines.append(SearchEngine(spark, idx))
        oracles.append(OracleIndex.build(part, num_partitions=4))
    meta = {d["url"]: d for d in docs}
    for query, k in (("merge join table", 7), ("fn index", 5)):
        merged = []
        for i, o in enumerate(oracles):
            for h in o.search(query, k=k):
                merged.append((-np.float32(h["score"]), h["url"], i))
        merged.sort()
        exp = [(r + 1, i, u, meta[u]["domain"], meta[u]["title"],
                np.float32(-ns))
               for r, (ns, u, i) in enumerate(merged[:k])]
        got = [(x["rank"], x["index_id"], x["url"], x["domain"],
                x["title"], np.float32(x["score"]))
               for x in search_union(engines, query, k=k).collect()]
        assert got == exp, (query, k)
    with pytest.raises(ValueError, match="engines"):
        search_union([], "fn")


def test_session_prewarm_once_per_session(spark, engine, built_index):
    """Engine open warms the generic SQL machinery exactly once per
    Spark session (keyed on applicationId): the second open must not
    re-run the warm jobs, and the warm must never affect search
    results (covered by every parity test above running after it)."""
    import spyglass_spark.query.executor as X

    app = spark.sparkContext.applicationId
    assert app in X._WARMED_SESSIONS  # the fixture engine's open warmed
    before = len(X._WARMED_SESSIONS)
    calls = []
    orig_range = spark.range

    def counting_range(*a, **kw):
        calls.append(a)
        return orig_range(*a, **kw)

    spark.range = counting_range
    try:
        X.SearchEngine(spark, built_index["index_dir"])  # re-open
    finally:
        spark.range = orig_range
    assert calls == []  # guard short-circuited: no warm jobs re-ran
    assert len(X._WARMED_SESSIONS) == before


def test_session_prewarm_retried_after_failure(spark, built_index,
                                               monkeypatch):
    """A warm-up that fails does not mark the session warmed: the next
    engine open runs the warm again, and marks the session once it
    succeeds."""
    import spyglass_spark.query.executor as X

    monkeypatch.setattr(X, "_WARMED_SESSIONS", set())
    app = spark.sparkContext.applicationId
    calls = []
    orig_range = spark.range

    def flaky_range(*a, **kw):
        calls.append(a)
        if len(calls) == 1:
            raise RuntimeError("injected warm-up failure")
        return orig_range(*a, **kw)

    monkeypatch.setattr(spark, "range", flaky_range)
    X.SearchEngine(spark, built_index["index_dir"])
    assert len(calls) == 1 and app not in X._WARMED_SESSIONS
    X.SearchEngine(spark, built_index["index_dir"])
    assert len(calls) > 1  # the warm ran again
    assert app in X._WARMED_SESSIONS


def test_session_ships_package_to_workers(spark):
    """Python workers find the package whatever the driver's working
    directory: get_spark puts the package's parent directory on their
    PYTHONPATH."""
    import os

    from spyglass_spark.session import PACKAGE_PARENT

    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == PACKAGE_PARENT
    assert os.path.isfile(os.path.join(PACKAGE_PARENT, "spyglass_spark",
                                       "__init__.py"))
