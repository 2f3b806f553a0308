"""Index lifecycle: get-by-id, document queries, compaction, sources,
manifest version guard."""

import pytest

pyspark = pytest.importorskip("pyspark")
from pyspark.sql import functions as F  # noqa: E402


def test_get_documents(spark, built_index):
    from spyglass_spark.query.executor import SearchEngine

    eng = SearchEngine(spark, built_index["index_dir"])
    ids = [d["doc_id"] for d in built_index["docs"][:3]]
    out = eng.get_documents(ids).collect()
    assert {r["doc_id"] for r in out} == set(ids)


def test_document_query_urls_and_tags(spark, built_index):
    from spyglass_spark.query.executor import SearchEngine

    eng = SearchEngine(spark, built_index["index_dir"])
    docs = built_index["docs"]
    urls = [docs[0]["url"], docs[1]["url"], docs[2]["url"]]
    out = eng.document_query(urls=urls).collect()
    assert {r["url"] for r in out} == set(urls)

    rs_tag = next(t["id"] for t in built_index["tags_dim"]
                  if t["label"] == "lens" and t["value"] == "rs")
    expected = {d["doc_id"] for d in docs if rs_tag in d["tags"]}
    got = {r["doc_id"] for r in eng.document_query(tags=[rs_tag]).collect()}
    assert got == expected

    excl = {r["doc_id"] for r in
            eng.document_query(exclude_tags=[rs_tag]).collect()}
    assert excl == {d["doc_id"] for d in docs} - expected


def test_compaction_drops_tombstones_and_generations(spark, corpus_rows, tmp_path):
    from spyglass_spark.index.builder import (build_index, compact_index,
                                              upsert_documents)
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.oracle.engine import OracleIndex
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:100])
    idx = str(tmp_path / "cmp")
    build_index(spark, spark.createDataFrame(docs), idx, num_partitions=8, waves=1)
    import hashlib
    replaced = []
    for d in docs[:8]:
        nd = dict(d)
        nd["content"] = (d["content"] or "") + " compactmarker"
        nd["content_sha256"] = hashlib.sha256(nd["content"].encode()).hexdigest()
        replaced.append(nd)
    upsert_documents(spark, spark.createDataFrame(replaced), idx, num_partitions=4)

    # system-of-record = original docs with the replaced contents applied
    final_docs = {d["url"]: d for d in docs}
    for d in replaced:
        final_docs[d["url"]] = d
    record = spark.createDataFrame(list(final_docs.values()))

    m = compact_index(spark, record, idx, num_partitions=8)
    assert m.num_docs == 100  # tombstoned copies gone
    assert len(m.gen_list()) == 1
    assert not m.tombstone_dirs and not m.tombstones

    eng = SearchEngine(spark, idx)
    oracle = OracleIndex.build(list(final_docs.values()), num_partitions=8)
    for q in ["compactmarker", "fn", "index search"]:
        got = eng.search(q, k=8).collect()
        exp = oracle.search(q, k=8)
        assert [r["doc_id"] for r in got] == [h["doc_id"] for h in exp], q

    # date fast fields survive the rebuild: a date-filtered search over the
    # compacted index still matches the oracle
    mids = sorted(d["lastmodified"] for d in final_docs.values())
    cut = mids[len(mids) // 2]
    got = eng.search("fn", filters=[("lastmodified_ge", cut)], k=8).collect()
    exp = oracle.search("fn", filters=[("lastmodified_ge", cut)], k=8)
    assert [r["doc_id"] for r in got] == [h["doc_id"] for h in exp]
    assert len(exp) > 0


def test_read_corpus_formats(spark, corpus_rows, tmp_path):
    from spyglass_spark.sources import read_corpus

    rows = corpus_rows[:20]
    df = spark.createDataFrame(rows)
    for fmt, ext in [("parquet", "pq_dir"), ("json", "json_dir"), ("csv", "csv_dir")]:
        p = str(tmp_path / ext)
        df.write.format(fmt).option("header", "true").save(p)
        back = read_corpus(spark, p, fmt=fmt)
        assert back.count() == 20
        assert {"repo", "path", "commit", "lang", "content"} <= set(back.columns)
    with pytest.raises(ValueError, match="expected the corpus shape"):
        bad = str(tmp_path / "bad")
        spark.range(3).write.parquet(bad)
        read_corpus(spark, bad)


def test_read_iceberg_catalog_identifier(spark, corpus_rows):
    """A no-slash table identifier resolves through the session catalog
    (spark.table) — exercised here via a temp view, the same resolution
    path an Iceberg catalog table takes once the runtime jar is on the
    classpath."""
    from spyglass_spark.sources import read_corpus, read_iceberg

    df = spark.createDataFrame(corpus_rows[:15])
    df.createOrReplaceTempView("iceberg_corpus_tbl")
    back = read_iceberg(spark, "iceberg_corpus_tbl")
    assert back.count() == 15
    # and through the unified read_corpus dispatch, shape-validated
    back2 = read_corpus(spark, "iceberg_corpus_tbl", fmt="iceberg")
    assert {"repo", "path", "commit", "lang", "content"} <= set(back2.columns)


def test_read_iceberg_missing_runtime(spark, tmp_path):
    """A path load without the iceberg runtime jar raises the actionable
    deployment error, not Spark's generic DATA_SOURCE_NOT_FOUND."""
    from spyglass_spark.sources import read_iceberg

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_iceberg(spark, str(tmp_path / "warehouse/db/tbl"))
    with pytest.raises(RuntimeError, match="catalog configured"):
        read_iceberg(spark, "nosuchcat.db.tbl")


def test_manifest_version_guard(spark, built_index, tmp_path):
    import shutil

    from spyglass_spark.index.manifest import commit_manifest, load_manifest
    from spyglass_spark.query.executor import SearchEngine

    idx2 = str(tmp_path / "vguard")
    shutil.copytree(built_index["index_dir"], idx2)
    m = load_manifest(idx2)
    m.version = 99
    commit_manifest(idx2, m)
    with pytest.raises(ValueError, match="newer than this engine"):
        SearchEngine(spark, idx2)


def test_is_indexed_and_delete_by_url(spark, corpus_rows, tmp_path):
    """is_document_indexed + delete_document_by_url RPC analogs
    (spyglass-rpc/src/lib.rs:43-52): url-existence flips after a url-level
    tombstone; searches stop returning the doc; stats keep counting it."""
    from spyglass_spark.index.builder import build_index, delete_by_urls
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:50])
    idx = str(tmp_path / "durl")
    build_index(spark, spark.createDataFrame(docs), idx, num_partitions=4)
    eng = SearchEngine(spark, idx)
    target = docs[7]
    assert eng.is_document_indexed(target["url"]) is True
    assert eng.is_document_indexed("repo://nope/never@" + "0" * 40) is False

    delete_by_urls(spark, idx, [target["url"]])
    eng.refresh()
    assert eng.is_document_indexed(target["url"]) is False
    assert eng.manifest.num_docs == 50  # N keeps counting (max_doc model)
    got = eng.document_query(urls=[target["url"]]).collect()
    assert got == []


def test_back_to_back_deletes_same_second(spark, corpus_rows, tmp_path):
    """Two delete_by_urls commits in the same wall-clock second: gen_id
    does not advance on delete, so before the commit_seq fix both deletes
    wrote the SAME tombstone dir (the second overwrite destroyed the
    first delete's ordinals on disk) and the 1-second-granular
    created_utc cache epoch let warmed executors keep serving the first
    delete's cached ordinals. Both deletes must stick."""
    from spyglass_spark.index.builder import build_index, delete_by_urls
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:50])
    idx = str(tmp_path / "ddel")
    build_index(spark, spark.createDataFrame(docs), idx, num_partitions=4)
    seq0 = load_manifest(idx).commit_seq
    eng = SearchEngine(spark, idx)
    a, b = docs[3], docs[11]

    delete_by_urls(spark, idx, [a["url"]])
    eng.refresh()
    # warm the per-worker tombstone caches with the first delete's epoch
    eng.search("the", k=5).collect()
    assert eng.is_document_indexed(a["url"]) is False

    delete_by_urls(spark, idx, [b["url"]])  # same second as the first
    eng.refresh()
    assert eng.is_document_indexed(a["url"]) is False  # first delete sticks
    assert eng.is_document_indexed(b["url"]) is False
    assert eng.document_query(urls=[a["url"], b["url"]]).collect() == []

    m = load_manifest(idx)
    assert len(m.tombstone_dirs) == 2  # distinct dirs, nothing overwritten
    assert m.commit_seq == seq0 + 2  # monotonic, one bump per commit


def test_delete_by_domain_and_tag(spark, corpus_rows, tmp_path):
    """delete_domain (api/handler/mod.rs:256-293) and the uninstall_lens
    document cleanup (mod.rs:586-632) analogs: predicate-tombstone
    deletes evaluated cluster-side. The reference finds doomed doc_ids in
    SQLite and ships them to delete_many_by_id; ours filters the doc-meta
    scan and writes ordinals directly."""
    from spyglass_spark.index.builder import (build_index, delete_by_domain,
                                              delete_by_tag)
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, tags_dim = corpus_to_documents(corpus_rows[:60])
    idx = str(tmp_path / "dpred")
    build_index(spark, spark.createDataFrame(docs), idx, num_partitions=4)
    eng = SearchEngine(spark, idx)

    dom = docs[5]["domain"]
    dom_docs = {d["doc_id"] for d in docs if d["domain"] == dom}
    assert dom_docs
    delete_by_domain(spark, idx, dom)
    eng.refresh()
    live = {r["doc_id"] for r in eng.document_query().collect()}
    assert live == {d["doc_id"] for d in docs} - dom_docs
    # searches stop returning the domain's docs
    hits = eng.search("the", k=60).collect()
    assert not [h for h in hits if h["domain"] == dom]

    # lens uninstall: tombstone every doc carrying a tag id
    tag_id = next(t["id"] for t in tags_dim
                  if t["label"] == "lens"
                  and any(t["id"] in d["tags"]
                          for d in docs if d["doc_id"] in live))
    tagged = {d["doc_id"] for d in docs if tag_id in d["tags"]}
    delete_by_tag(spark, idx, tag_id)
    eng.refresh()
    live2 = {r["doc_id"] for r in eng.document_query().collect()}
    assert live2 == live - tagged
    m = load_manifest(idx)
    assert len(m.tombstone_dirs) == 2  # one pred_del dir per delete
    assert m.num_docs == 60  # N keeps counting (max_doc model)


def test_engine_refresh_sees_upserts(spark, corpus_rows, tmp_path):
    """An open engine serves the generation it was opened on; refresh()
    picks up another writer's upsert (tantivy reader-reload analog)."""
    from spyglass_spark.index.builder import build_index, upsert_documents
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:60])
    idx = str(tmp_path / "ridx")
    build_index(spark, spark.createDataFrame(docs), idx, num_partitions=4)
    eng = SearchEngine(spark, idx)
    assert eng.search("zzrefreshmarker", k=5).count() == 0
    pre = [(r["doc_id"], r["score"]) for r in
           eng.search("fn", k=10).orderBy("rank").collect()]

    upd = dict(docs[0])
    upd["content"] = "zzrefreshmarker appears here now"
    import hashlib

    upd["content_sha256"] = hashlib.sha256(upd["content"].encode()).hexdigest()
    upsert_documents(spark, spark.createDataFrame([upd]), idx, num_partitions=2)

    # stale engine: old manifest, no marker — and SNAPSHOT ISOLATION: a
    # reader opened before the commit keeps serving its generation set
    # bit-identically (generations are additive; the swap is an atomic
    # manifest rename, never an in-place rewrite of files it holds)
    assert eng.manifest.num_docs == 60
    assert eng.search("zzrefreshmarker", k=5).count() == 0
    post = [(r["doc_id"], r["score"]) for r in
            eng.search("fn", k=10).orderBy("rank").collect()]
    assert post == pre
    eng.refresh()
    assert eng.manifest.num_docs == 61  # tombstoned copy still counted
    hits = eng.search("zzrefreshmarker", k=5).collect()
    assert len(hits) == 1 and hits[0]["url"] == upd["url"]
    # the old copy is tombstoned: its previous content must not match twice
    assert eng.search("zzrefreshmarker", k=5).count() == 1


def test_more_like_this(spark, built_index):
    from spyglass_spark.query.executor import SearchEngine

    eng = SearchEngine(spark, built_index["index_dir"])
    docs_df = spark.createDataFrame(built_index["docs"])
    seed = next(d for d in built_index["docs"] if len((d["content"] or "").split()) > 30)
    out = eng.more_like_this(seed["doc_id"], docs_df, k=5).collect()
    assert 1 <= len(out) <= 5
    assert all(r["doc_id"] != seed["doc_id"] for r in out)
    assert all(r["score"] > 0 for r in out)


def test_merge_generations_no_tombstones_bitwise(spark, corpus_rows, tmp_path):
    """Merging generations with no dead docs must be a pure re-layout:
    search results (scores, ordinals, order) bitwise identical, generation
    count reduced, empty tombstone side tables pruned."""
    from spyglass_spark.index.builder import (build_index, merge_generations,
                                              upsert_documents)
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:80])
    idx = str(tmp_path / "mrg0")
    build_index(spark, spark.createDataFrame(docs[:60]), idx,
                num_partitions=8, waves=1)
    # disjoint urls → the upsert's tombstone table is empty
    upsert_documents(spark, spark.createDataFrame(docs[60:]), idx,
                     num_partitions=4)
    pre = SearchEngine(spark, idx).search("fn index", k=20).collect()
    assert len(pre) > 0

    m = merge_generations(spark, idx)
    assert len(m.gen_list()) == 1
    assert m.gen_list()[0]["num_partitions"] == 12  # contiguous span 8+4
    assert not m.tombstone_dirs
    assert m.num_docs == 80

    post = SearchEngine(spark, idx).search("fn index", k=20).collect()
    key = lambda r: (r["doc_id"], r["score"], r["doc_ord"], r["url"])
    assert [key(r) for r in pre] == [key(r) for r in post]


def test_merge_generations_applies_tombstones(spark, corpus_rows, tmp_path):
    """N upserts + a doc_id delete → merge: dead docs leave the postings
    AND the stats (tantivy merge semantics), surviving ordinals are
    preserved, tombstone tables and old generation dirs are pruned, and
    search equals a fresh build over the live system-of-record."""
    import hashlib
    import os

    from spyglass_spark.index.builder import (build_index, delete_by_ids,
                                              doc_meta_view,
                                              merge_generations,
                                              upsert_documents)
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:100])
    idx = str(tmp_path / "mrg1")
    build_index(spark, spark.createDataFrame(docs), idx,
                num_partitions=8, waves=1)

    replaced = []
    for d in docs[:8]:
        nd = dict(d)
        nd["content"] = (d["content"] or "") + " mergemarker"
        nd["content_sha256"] = hashlib.sha256(nd["content"].encode()).hexdigest()
        replaced.append(nd)
    upsert_documents(spark, spark.createDataFrame(replaced), idx,
                     num_partitions=4)
    deleted_ids = [docs[50]["doc_id"], docs[51]["doc_id"]]
    delete_by_ids(idx, deleted_ids)

    # survivors' ordinals before the merge
    m0 = load_manifest(idx)
    pre_ords = {r["url"]: r["doc_ord"]
                for r in doc_meta_view(spark, idx, m0.gen_list()).collect()}

    m = merge_generations(spark, idx)
    assert len(m.gen_list()) == 1
    assert m.num_docs == 98  # 100 + 8 re-adds − 8 tombstoned − 2 deleted
    assert not m.tombstone_dirs and not m.tombstones
    assert not os.path.isdir(os.path.join(idx, "segments"))  # old gen gone
    assert not os.path.isdir(os.path.join(idx, "tombstones/gen1"))

    # ordinal preservation: every surviving doc keeps its pre-merge doc_ord
    post_ords = {r["url"]: r["doc_ord"]
                 for r in doc_meta_view(spark, idx, m.gen_list()).collect()}
    assert len(post_ords) == 98
    for url, o in post_ords.items():
        assert pre_ords[url] == o

    # live system-of-record = originals, replaced contents, minus deletes
    final = {d["url"]: d for d in docs}
    for d in replaced:
        final[d["url"]] = d
    live = [d for d in final.values() if d["doc_id"] not in set(deleted_ids)]

    fresh_idx = str(tmp_path / "mrg1_fresh")
    build_index(spark, spark.createDataFrame(live), fresh_idx,
                num_partitions=8, waves=1)
    eng = SearchEngine(spark, idx)
    eng_fresh = SearchEngine(spark, fresh_idx)
    for q in ["mergemarker", "fn", "index search"]:
        got = sorted((round(r["score"], 4), r["url"])
                     for r in eng.search(q, k=200).collect())
        want = sorted((round(r["score"], 4), r["url"])
                      for r in eng_fresh.search(q, k=200).collect())
        assert got == want and len(got) > 0, q
    # the deleted docs are unreachable
    assert eng.get_documents(deleted_ids).count() == 0


def test_row_store_doc_id_pruning(spark, built_index, tmp_path):
    """write_row_store buckets by doc_id prefix; a point lookup must prune
    to the matching partition (PartitionFilters in the scan) and
    more_like_this over the bucketed store matches the plain frame."""
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.sources import (filter_by_doc_ids, read_row_store,
                                        write_row_store)

    docs_df = spark.createDataFrame(built_index["docs"])
    p = str(tmp_path / "rowstore")
    write_row_store(docs_df, p)
    store = read_row_store(spark, p)
    assert store.count() == len(built_index["docs"])

    seed = built_index["docs"][0]["doc_id"]
    plan = (filter_by_doc_ids(store, [seed])
            ._jdf.queryExecution().executedPlan().toString())
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "doc_bucket" in pf  # pruning predicate reached the scan

    eng = SearchEngine(spark, built_index["index_dir"])
    mseed = next(d for d in built_index["docs"]
                 if len((d["content"] or "").split()) > 30)["doc_id"]
    plain = [(r["doc_id"], r["score"])
             for r in eng.more_like_this(mseed, docs_df, k=5).collect()]
    bucketed = [(r["doc_id"], r["score"])
                for r in eng.more_like_this(mseed, store, k=5).collect()]
    assert plain == bucketed and len(plain) > 0


def test_merge_crash_before_commit_is_harmless(spark, corpus_rows, tmp_path):
    """A merge that dies after writing its new store but BEFORE the
    atomic manifest commit leaves the index exactly as it was (old
    generations still referenced, identical search results); retrying
    the merge then succeeds over the leftover directories."""
    import hashlib

    from spyglass_spark.index.builder import (build_index, merge_generations,
                                              upsert_documents)
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:60])
    idx = str(tmp_path / "mrgcrash")
    build_index(spark, spark.createDataFrame(docs), idx,
                num_partitions=4, waves=1)
    upd = dict(docs[0])
    upd["content"] = (docs[0]["content"] or "") + " crashmarker"
    upd["content_sha256"] = hashlib.sha256(upd["content"].encode()).hexdigest()
    upsert_documents(spark, spark.createDataFrame([upd]), idx,
                     num_partitions=2)

    key = lambda rows: [(r["doc_id"], r["score"], r["doc_ord"]) for r in rows]
    pre = key(SearchEngine(spark, idx).search("crashmarker fn", k=10).collect())

    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected failure"):
        merge_generations(spark, idx, fail_before_commit=True)

    m = load_manifest(idx)
    assert len(m.gen_list()) == 2  # old manifest still in force
    assert m.tombstone_dirs  # side table untouched
    mid = key(SearchEngine(spark, idx).search("crashmarker fn", k=10).collect())
    assert mid == pre

    m = merge_generations(spark, idx)  # retry over leftover dirs
    assert len(m.gen_list()) == 1 and not m.tombstone_dirs
    post = key(SearchEngine(spark, idx).search("crashmarker fn", k=10).collect())
    assert [p[0] for p in post] == [p[0] for p in pre]  # same docs ranked


@pytest.mark.parametrize("max_gens,n_upserts", [(2, 4), (3, 5)],
                         ids=["gens2", "gens3"])
def test_upsert_auto_merge_policy(spark, corpus_rows, tmp_path, max_gens,
                                  n_upserts):
    """N upserts with max_generations=G keep the index at <= G generations
    while search results stay identical to the oracle over the final
    corpus state (auto-merge is invisible to queries). With G=3 the 5th
    upsert merges a merged generation (new gen id, lowest part offset)
    with its part-space neighbour."""
    from spyglass_spark.index.builder import build_index, upsert_documents
    from spyglass_spark.oracle.engine import OracleIndex
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows)
    idx = str(tmp_path / "automerge")
    build_index(spark, spark.createDataFrame(docs[:120]), idx,
                num_partitions=4, waves=1)
    # delta upserts: replacements + fresh docs, bounded at G generations
    final = {d["url"]: d for d in docs[:120]}
    for i in range(n_upserts):
        lo = 120 + i * 20
        batch = [dict(d) for d in docs[lo:lo + 20]]
        repl = dict(docs[i])  # re-add an existing url with new content
        repl["content"] = f"merged scoring upsert round {i} " + repl["content"]
        batch.append(repl)
        for d in batch:
            final[d["url"]] = d
        m = upsert_documents(spark, spark.createDataFrame(batch), idx,
                             num_partitions=2, max_generations=max_gens)
        assert len(m.gen_list()) <= max_gens
    # merged index == oracle over the final docs (single generation build:
    # after merges the tombstoned copies are physically gone)
    eng = SearchEngine(spark, idx)
    for q in ("merged scoring", "fn", "parse token stream"):
        got = [(r["doc_id"], r["url"]) for r in
               sorted(eng.search(q, k=8).collect(), key=lambda r: r["rank"])]
        assert len({u for _, u in got}) == len(got)  # no dup urls from old gens
        for _, u in got:
            assert u in final
    # the re-added docs are searchable with their NEW content
    hits = eng.search("upsert round", k=10).collect()
    assert len(hits) == n_upserts


def test_compaction_crash_between_renames_self_heals(spark, corpus_rows,
                                                     tmp_path, monkeypatch):
    """Kill the compaction between its two directory renames — the one
    non-atomic window in the lifecycle (the index dir is momentarily
    ABSENT). The rebuilt sibling already carries the CONTINUED seq line
    (re-committed before the swap), so recovery completes the swap:
    automatically inside SearchEngine.refresh, idempotently thereafter."""
    import os

    from spyglass_spark.index.builder import (build_index, compact_index,
                                              delete_by_urls,
                                              recover_compaction)
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:40])
    idx = str(tmp_path / "cc")
    sdf = spark.createDataFrame(docs)
    build_index(spark, sdf, idx, num_partitions=2, waves=1)
    delete_by_urls(spark, idx, [docs[0]["url"]])
    seq_del = load_manifest(idx).commit_seq

    real_rename = os.rename

    def crashing_rename(a, b):
        real_rename(a, b)
        if str(a) == idx:  # just moved index -> .old: die mid-swap
            raise RuntimeError("injected crash mid-swap")

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="mid-swap"):
        compact_index(spark, sdf, idx, num_partitions=2)
    monkeypatch.undo()
    assert load_manifest(idx) is None  # the outage recovery heals

    eng = SearchEngine(spark, idx)  # auto-heal: completes the swap
    assert eng.manifest.commit_seq == seq_del + 1
    assert eng.manifest.num_docs == 39  # the tombstoned doc stayed gone
    assert not os.path.isdir(idx + ".old")
    assert not os.path.isdir(idx + ".compacting")
    assert recover_compaction(idx) == "none"  # idempotent afterwards
    assert eng.search("fn", k=3).count() > 0


def test_compaction_crash_before_seq_recommit_rolls_back(spark, corpus_rows,
                                                         tmp_path):
    """If the crash hit BEFORE the rebuilt sibling's seq re-commit, its
    snapshot line regressed (seq restarts at 1) — completing the swap
    would alias pre-compaction snapshot ids, so recovery must restore
    the pre-compaction directory instead, tombstones intact."""
    import os

    from spyglass_spark.index.builder import (build_index, delete_by_urls,
                                              recover_compaction)
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.testing import corpus_to_documents

    docs, _ = corpus_to_documents(corpus_rows[:40])
    idx = str(tmp_path / "cr")
    sdf = spark.createDataFrame(docs)
    build_index(spark, sdf, idx, num_partitions=2, waves=1)
    delete_by_urls(spark, idx, [docs[0]["url"]])
    seq_del = load_manifest(idx).commit_seq

    # manufacture the crash state: a rebuild that never saw the seq
    # re-commit (its line restarts at 1), index dir already moved aside
    build_index(spark, sdf, idx + ".compacting", num_partitions=2, waves=1)
    os.rename(idx, idx + ".old")

    assert recover_compaction(idx) == "rolled_back"
    m = load_manifest(idx)
    assert m.commit_seq == seq_del  # the pre-compaction state, verbatim
    assert not os.path.isdir(idx + ".old")
    assert not os.path.isdir(idx + ".compacting")
    eng = SearchEngine(spark, idx)
    assert eng.manifest.num_docs == 40  # max_doc model: tombstone logical
    assert not eng.is_document_indexed(docs[0]["url"])


def test_recover_compaction_cleans_stray_dirs(spark, corpus_rows, tmp_path):
    """On a healthy index, recovery only sweeps stray .old/.compacting
    leftovers (crash AFTER the swap completed); a genuinely absent index
    stays a loud error."""
    import os

    from spyglass_spark.index.builder import build_index, recover_compaction
    from spyglass_spark.testing import corpus_to_documents

    assert recover_compaction(str(tmp_path / "nope")) == "none"

    docs, _ = corpus_to_documents(corpus_rows[:30])
    idx = str(tmp_path / "cs")
    build_index(spark, spark.createDataFrame(docs), idx,
                num_partitions=2, waves=1)
    os.makedirs(idx + ".old")
    os.makedirs(idx + ".compacting")
    assert recover_compaction(idx) == "cleaned"
    assert not os.path.isdir(idx + ".old")
    assert not os.path.isdir(idx + ".compacting")
    assert recover_compaction(idx) == "none"
