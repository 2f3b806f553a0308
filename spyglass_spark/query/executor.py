"""Distributed BM25 top-k query execution over the segment store.

Execution model (mirrors the reference searcher's per-segment scoring +
global heap, /root/reference/crates/spyglass-searcher/src/client/local.rs:98-154,
re-expressed Spark-first):

1. Compile queries driver-side with the SAME analyzer code as indexing
   (terms_for_field parity, query.rs:237-259).
2. Look up global term stats (df) from the term-sorted stats store via a
   driver-side pyarrow pruned read — the analog of tantivy consulting its
   term dictionary: a metadata-plane lookup, NOT a Spark job. Results are
   memoized per engine (df is an index property). N, avgdl come from the
   manifest. BM25 weights are computed once per query in float32.
3. ONE Spark job: scan ONLY the query terms' posting chunks (field/term
   predicate pushdown + row-group/page pruning inside each part file of
   the kind-partitioned store; pos_bytes dropped for term-only batches),
   ONE exchange grouping chunks by part_id, then the scoring UDF — which
   reads its partition's fieldnorm + date fast-field arrays DIRECTLY via
   part-pruned pyarrow with a per-worker resident cache (the tantivy
   segment-reader pattern: no norms scan, no semijoin, no cogroup).
   Scoring (BM25, positional phrases via the doc-vectorized batch counter,
   date-range masks, block-max WAND) runs vectorized per partition with
   cross-query decode caches and NO doc-level shuffle.
4. Each partition emits its local top-(k+offset); the global top-k merge
   runs DRIVER-SIDE over ≤ parts×(k+offset)×queries tiny rows collected
   from the single scoring job (the TopDocs heap analog). Above a size
   guard the merge falls back to a distributed window — same ordering.
5. Small hit sets materialize doc_meta display fields incl. tags
   (RetrievedDocument{..tags}, lib.rs:130-139) via a driver-side pyarrow
   pruned read; larger sets broadcast-join. score > 0 post-filter per
   client/local.rs:138; tie-break (score desc, ord asc).
"""

from __future__ import annotations

import inspect
import logging
import time
from collections import defaultdict
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.builder import (FAST_MARK, KIND_DOCMETA, KIND_FAST, KIND_NORMS,
                             KIND_POSTING, NORMS_MARK, ORD_SHIFT,
                             doc_meta_view, read_store, tombstone_view)
from ..index.codecs import (decode_positions_selected, decode_positions_stream,
                            decode_postings, phrase_keys_all,
                            phrase_keys_select, phrase_position_keys,
                            varint_decode)
from ..index.manifest import Manifest, load_manifest
from . import aggs
from .aggs import AGGS, PIPELINES
from .compiler import (CompiledQuery, compile_expanded, compile_query,
                       term_match_pairs)
from .expand import (DEFAULT_MAX_EXPANSIONS, expand_fuzzy, expand_prefix,
                     expand_regex, expand_term_range, expand_term_set,
                     expand_wildcard, normalize_pattern, normalize_wildcard)
from .scoring import (K1, accumulate_scores, idf, norm_cache,
                      score_postings, sloppy_phrase_count,
                      sloppy_phrase_counts_batch)

_log = logging.getLogger(__name__)

RESULT_SCHEMA = "query_id long, doc_ord long, score float"
HIT_COLUMNS = ["query_id", "rank", "doc_id", "url", "domain", "title",
               "description", "tags", "score", "doc_ord"]

# Above this many candidate rows (parts × limit × queries) the global top-k
# merge runs as a distributed window instead of a driver-side heap.
# Interactive shapes (single query, mid-size batches) stay on the driver
# path — it is the one-Spark-job guarantee; very large batches go
# distributed. Raised 32k → 128k in r6: the old bound was tuned against a
# Row-collect + python-loop merge whose serial tail big shapes didn't
# amortize; the merge is now an Arrow toPandas + one numpy lexsort
# (~10 ms for 80k rows), so a 64-query batch at P=128 (81,920 rows,
# ~1.4 MB) merges driver-side in one job. batch256-and-up still takes the
# window path, which scales with the cluster instead of the driver.
MERGE_COLLECT_MAX = 131_072
# Tombstone sets up to this size ship inside the plan payload; larger sets
# are read per-partition by the executors from the parquet side tables.
TOMBSTONE_SHIP_MAX = 1_000_000
# Below this many part-local posting rows across a query's Should clauses,
# algo='auto' scores exhaustively even when the query shape is
# WAND-eligible: block-max WAND's per-pivot Python loop only amortizes
# over posting lists big enough that skipping whole blocks beats the
# fully vectorized exhaustive scorer (measured cross-over ~1e5 rows/part;
# at bench-scale 2.5k-doc parts WAND costs ~20% extra, on 100 TB parts it
# prunes). Results are bitwise identical either way (WAND is a pruning
# strategy only — pinned by tests/test_wand.py auto≡exhaustive).
import os as _os

WAND_MIN_PART_ROWS = int(_os.environ.get("SPYGLASS_WAND_MIN_ROWS", "131072"))
# Driver-local execution gates (see _execute_compiled): a batch runs on
# the driver — same kernel, pyarrow posting read, zero Spark jobs — only
# when ALL of: ≤ LOCAL_EXEC_MAX_QUERIES queries, the estimated decode
# volume (Σ global df, phrase members ×4) ≤ LOCAL_EXEC_MAX_ROWS, and the
# index has ≤ LOCAL_EXEC_MAX_PARTS partitions (per-file footer metadata
# is driver-side work). Mode: auto | never | always (tests use
# never/always to pin both paths bitwise-identical).
LOCAL_EXEC_MODE = _os.environ.get("SPYGLASS_LOCAL_EXEC", "auto")
LOCAL_EXEC_MAX_ROWS = int(_os.environ.get("SPYGLASS_LOCAL_EXEC_ROWS",
                                          str(4_000_000)))
LOCAL_EXEC_MAX_QUERIES = int(_os.environ.get("SPYGLASS_LOCAL_EXEC_QUERIES",
                                             "2"))
LOCAL_EXEC_MAX_PARTS = int(_os.environ.get("SPYGLASS_LOCAL_EXEC_PARTS",
                                           "1024"))


def search_union(engines, query, filters=(), boosts=(),
                 k: int = 5) -> DataFrame:
    """Multi-index federated search — the ES comma-separated-indices
    contract: the SAME query runs against every index and the hit
    lists merge into one page by (score desc, url asc — urls are
    globally unique, total order). Scores are each index's OWN BM25
    (local N/df/avgdl, the ES default: cross-index idf is NOT
    normalized, exactly like querying two ES indices without
    dfs_query_then_fetch), so the merged order is as comparable as
    ES's. Output (rank, index_id, url, domain, title, score).

    Scale shape: each per-index search is the ordinary k-bounded
    engine path (its own WAND pruning, its own one-job plan); the
    merge is a unionByName + TakeOrderedAndProject over
    O(#indices · k) rows — adding an index adds one bounded search,
    never a cross-index shuffle."""
    engines = list(engines)
    if not engines:
        raise ValueError("engines must be non-empty")
    if k <= 0:
        raise ValueError("k must be positive")
    frames = []
    for i, eng in enumerate(engines):
        h = eng.search(query, filters=filters, boosts=boosts, k=k)
        frames.append(h.select(F.lit(i).alias("index_id"), "url",
                               "domain", "title", "score"))
    u = reduce(DataFrame.unionByName, frames)
    order = [F.desc("score"), F.asc("url")]
    w = Window.orderBy(*order)
    return (u.orderBy(*order).limit(int(k))
             .withColumn("rank", F.row_number().over(w))
             .select("rank", "index_id", "url", "domain", "title",
                     "score"))


def _wand_eligible(specs) -> bool:
    """Block-max WAND handles the standard search shape: a scoring Should
    group + single-term Must clauses (zero-boost filters AND scoring
    Musts — a scoring Must is both an include filter and a scoring clause
    appended after the Should group, preserving the float32 clause sum
    order), MustNots, and date-range Musts (the fast-field mask feeds
    wand_top_k's filter_include, so pruning still skips unscored blocks).
    Favorite should-extras are score-only clauses (the reference wraps the
    main Should group in a Must, so an extra Should can never nominate a
    doc by itself) — they join the scoring list after the musts, exactly
    the exhaustive float32 order. Only document-query extra_groups /
    phrase-or-multiterm musts fall back to the exhaustive scorer (WAND is
    a pruning strategy only — results must be bitwise identical)."""
    for s in specs:
        if s["role"] == "extra_group":
            return False
        if s["role"] in ("must", "must_not") and (
                s["kind"] != "term" or len(s["terms"]) != 1):
            return False
    return any(s["role"] == "should" for s in specs)


def _wand_worthwhile(specs, payload) -> bool:
    """Scale gate for the WAND path (see WAND_MIN_PART_ROWS): total
    part-local posting rows across the query's Should clauses, from the
    df_part column already in the scanned chunk — no decode needed."""
    total = 0
    for s in specs:
        if s["role"] != "should":
            continue
        for t in s["terms"]:
            r = payload.get((s["field"], t))
            if r is not None:
                total += int(r["df_part"])
                if total >= WAND_MIN_PART_ROWS:
                    return True
    return False


def _run_wand(q, payload, caches, norm_arrays, fast_arrays, limit,
              local_tomb, shared=None, after_local=None):
    """Execute one query via block-max WAND. Returns (local_ords, scores)
    or None to fall back (e.g. a filter term longer than this chunk).
    ``shared`` carries cross-query decode caches for batch mode.
    ``after_local`` is the search_after cursor translated to this part's
    local ordinal space (score, cursor_global_ord − part_base)."""
    from .wand import _ClauseData, wand_top_k

    wand_shared = shared["wand"] if shared is not None else {}
    scoring = []
    any_should = False
    for spec in q["specs"]:
        # scoring clauses in SPEC order (should group, scoring musts,
        # favorite should-extras) — the float32 accumulation order the
        # oracle pins. A scoring Must is also an include filter below;
        # should_extras are score-only; candidates still come from Should
        # clauses only (exhaustive-path parity).
        if not (spec["role"] == "should"
                or (spec["role"] in ("must", "should_extra")
                    and spec["scoring"])):
            continue
        rows = [payload.get((spec["field"], t)) for t in spec["terms"]]
        if any(r is None for r in rows):
            continue  # clause can't match in this part
        if spec["role"] == "should":
            any_should = True
        scoring.append(_ClauseData(spec, rows, caches[spec["field"]],
                                   norm_arrays.get(spec["field"]),
                                   wand_shared))
    if not any_should:
        return np.empty(0, np.int64), np.empty(0, np.float32)

    def filter_docs(field, term):
        key = (field, term)
        if shared is not None and key in shared["post"]:
            hit = shared["post"][key]
            return None if hit is None else hit[0].astype(np.int64)
        row = payload.get(key)
        if row is None:
            if shared is not None:
                shared["post"][key] = None
            return None
        docs, tfs = decode_postings(row["doc_bytes"], row["tf_bytes"])
        if shared is not None:
            shared["post"][key] = (docs, tfs, row)
        return docs.astype(np.int64)

    include = None
    exclude = local_tomb
    for spec in q["specs"]:
        if spec["role"] == "must":
            m = filter_docs(spec["field"], spec["terms"][0])
            m = np.empty(0, np.int64) if m is None else m
            include = m if include is None else np.intersect1d(
                include, m, assume_unique=True)
        elif spec["role"] == "must_range":
            # date fast-field mask as a WAND include filter — identical
            # semantics to the exhaustive path's range clause (missing
            # fast field or -1 sentinel never matches)
            arr = fast_arrays.get(spec["field"])
            if arr is None:
                m = np.empty(0, np.int64)
            else:
                mask = arr >= 0
                if spec["ge"] is not None:
                    mask &= arr >= spec["ge"]
                if spec["le"] is not None:
                    mask &= arr <= spec["le"]
                m = np.nonzero(mask)[0].astype(np.int64)
            include = m if include is None else np.intersect1d(
                include, m, assume_unique=True)
        elif spec["role"] == "must_not":
            m = filter_docs(spec["field"], spec["terms"][0])
            if m is not None:
                exclude = m if exclude is None else np.union1d(exclude, m)
    if include is not None and include.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.float32)
    return wand_top_k(scoring, include, exclude, limit, after=after_local,
                      combiner=(q.get("combiner", "sum"),
                                q.get("tie", 0.0)))


def _clause_specs(cq: CompiledQuery, dfs: dict, n_docs: int) -> list[dict]:
    """Flatten a compiled query into serializable clause specs with
    precomputed float32 weights. Clause order defines float32 sum order —
    keep identical to the oracle (should_group, musts, should_extra)."""
    specs = []

    def weight_for(clause) -> float:
        if clause.kind == "term":
            d = dfs.get((clause.field, clause.terms[0]), 0)
            return float(np.float32(clause.boost) * idf(d, n_docs) * (K1 + np.float32(1.0)))
        idf_sum = np.float32(0.0)
        for t in clause.terms:
            idf_sum += idf(dfs.get((clause.field, t), 0), n_docs)
        return float(np.float32(clause.boost) * idf_sum * (K1 + np.float32(1.0)))

    def add(clause, role, group=0):
        specs.append({
            "kind": clause.kind, "field": clause.field, "terms": list(clause.terms),
            "positions": list(clause.positions), "slop": clause.slop,
            "boost": clause.boost, "weight": weight_for(clause),
            "scoring": clause.scoring, "role": role, "group": group,
        })

    for c in cq.should_group:
        add(c, "should")
    for gi, grp in enumerate(cq.extra_groups):
        for c in grp:
            add(c, "extra_group", gi)
    for c in cq.musts:
        add(c, "must")
    for c in cq.should_extra:
        add(c, "should_extra")
    for c in cq.must_nots:
        add(c, "must_not")
    for field, ge, le in getattr(cq, "range_musts", ()):
        specs.append({"kind": "range", "field": field, "terms": [],
                      "positions": [], "slop": 0, "boost": 0.0, "weight": 0.0,
                      "scoring": False, "role": "must_range",
                      "ge": ge, "le": le})
    return specs


def _open_parquet_dirs(dirs):
    """pyarrow dataset over one or more parquet DIRECTORIES (a plain list
    would be treated as file paths)."""
    import pyarrow.dataset as pads

    children = [pads.dataset(d, format="parquet") for d in dirs]
    return children[0] if len(children) == 1 else pads.dataset(children)


def _part_fragment_map(ds_list, cache: dict, cache_key, frag_filter=None) -> dict:
    """part_id -> owning parquet fragments, from row-group statistics —
    ONE bounded metadata pass per worker per (dirs, epoch), after which a
    per-part read touches only the file(s) that contain the part. Files
    without part_id stats land under the None key (always read).
    ``frag_filter`` prunes fragments by partition expression (e.g. the
    kind hive directory) before footers are touched."""
    pmap = cache.get(cache_key)
    if pmap is not None:
        return pmap
    pmap = {}
    for ds in ds_list:
        for frag in ds.get_fragments(frag_filter):
            for rg in frag.row_groups:
                st = (rg.statistics or {}).get("part_id")
                if not st:
                    lst = pmap.setdefault(None, [])
                    if not lst or lst[-1] is not frag:
                        lst.append(frag)
                    continue
                for p in range(int(st["min"]), int(st["max"]) + 1):
                    lst = pmap.setdefault(p, [])
                    if not lst or lst[-1] is not frag:
                        lst.append(frag)
    cache[cache_key] = pmap
    return pmap


def _local_tombstones(plan: dict, part_id: int):
    """This partition's tombstoned local ordinals (int64) or None.
    Small sets arrive in the plan payload; large sets are read from the
    parquet side tables pruned to this part (executor-side, no driver
    materialization; part->fragment map + per-part result cached
    per-worker, epoch-versioned like the norm cache)."""
    out = []
    tomb = plan.get("tombstone_ords")
    if tomb is not None and tomb.size:
        lt = tomb[(tomb >> ORD_SHIFT) == part_id] & ((1 << ORD_SHIFT) - 1)
        if lt.size:
            out.append(lt.astype(np.int64))
    dirs = tuple(plan.get("tombstone_dirs") or ())
    if dirs:
        epoch = plan.get("store_epoch", "")
        pkey = ("tombp", dirs, epoch, part_id)
        arr = _NORM_CACHE.get(pkey)
        if arr is None:
            import pyarrow.dataset as pads

            dskey = ("tombds", dirs, epoch)
            ds_list = _NORM_CACHE.get(dskey)
            if ds_list is None:
                ds_list = _NORM_CACHE[dskey] = [
                    pads.dataset(d, format="parquet") for d in dirs]
            pmap = _part_fragment_map(ds_list, _NORM_CACHE,
                                      ("tombmap", dirs, epoch))
            chunks = []
            for frag in pmap.get(part_id, []) + pmap.get(None, []):
                tbl = frag.to_table(columns=["doc_ord"],
                                    filter=pads.field("part_id") == part_id)
                a = tbl.column("doc_ord").to_numpy()
                if a.size:
                    chunks.append(a)
            arr = (np.concatenate(chunks) if chunks
                   else np.empty(0, np.int64))
            if len(_NORM_CACHE) >= _NORM_CACHE_MAX:
                _NORM_CACHE.clear()
            _NORM_CACHE[pkey] = arr
        if arr.size:
            out.append((arr & ((1 << ORD_SHIFT) - 1)).astype(np.int64))
    if not out:
        return None
    return np.unique(np.concatenate(out)) if len(out) > 1 else np.sort(out[0])


# per-python-worker resident cache of norm/fast-field arrays: workers
# persist across tasks and queries, so hot partitions keep their fieldnorms
# in memory like tantivy's resident per-segment norms. Bounded crudely.
_NORM_CACHE: dict = {}
_NORM_CACHE_MAX = 8192

# Spark sessions whose generic execution machinery has been warmed by
# SearchEngine open (see _prewarm_session) — keyed on applicationId so
# the warm runs exactly once per JVM no matter how many engines open.
_WARMED_SESSIONS: set = set()


def _store_dataset(store_dir: str, epoch: str):
    """pyarrow dataset over one generation's kind-partitioned store
    (hive ``kind=``), cached per process and ``epoch``: the handle holds
    the file listing, so repeat reads skip the directory walk (~0.1 s at
    P=128). Every pyarrow read of the store goes through it."""
    key = ("ds", store_dir, epoch)
    ds = _NORM_CACHE.get(key)
    if ds is None:
        import pyarrow.dataset as pads

        ds = _NORM_CACHE[key] = pads.dataset(
            store_dir, format="parquet", partitioning="hive")
    return ds


def _local_postings(store_dirs, epoch: str, fields, terms,
                    cols: list) -> pd.DataFrame:
    """Driver-side pyarrow read of the posting chunks of ``fields`` ×
    ``terms`` (kind-partition + field/term row-group pruned) — the
    posting read of both driver-local paths (_score_local and the
    driver-local match frame)."""
    import pyarrow.dataset as pads

    flt = ((pads.field("kind") == KIND_POSTING)
           & pads.field("field").isin(list(fields))
           & pads.field("term").isin(list(terms)))
    chunks = []
    for d in store_dirs:
        tbl = _store_dataset(d, epoch).to_table(columns=cols, filter=flt)
        if tbl.num_rows:
            chunks.append(tbl.to_pandas())
    if not chunks:
        return pd.DataFrame({c: [] for c in cols})
    return pd.concat(chunks, ignore_index=True) if len(chunks) > 1 \
        else chunks[0]


def _pair_ords(pdf: pd.DataFrame, by_pair: dict) -> pd.DataFrame:
    """(doc_ord, cid) rows of a batch of posting chunks (part_id, field,
    term, doc_bytes, tf_bytes): every doc_ord in the chunks whose
    (field, term) pair belongs to clause ``cid`` (``by_pair``: pair →
    clause ids). A pair shared by several clauses emits one row per
    clause; chunks of pairs outside ``by_pair`` (an IN-list scan's
    field × term over-selection) emit nothing. The one per-chunk ord
    decoder of the unscored match-set path, run in Python workers
    (_posting_ords) and on the driver (_match_ords_local)."""
    outs = []
    for pid, f_, t_, db, tb in zip(pdf["part_id"].tolist(),
                                   pdf["field"].tolist(),
                                   pdf["term"].tolist(),
                                   pdf["doc_bytes"].tolist(),
                                   pdf["tf_bytes"].tolist()):
        cids = by_pair.get((f_, t_))
        if not cids:
            continue
        docs, _ = decode_postings(db, tb)
        base = np.uint64(int(pid)) << np.uint64(ORD_SHIFT)
        ords = (base + docs).astype(np.int64)
        for ci in cids:
            outs.append(pd.DataFrame(
                {"doc_ord": ords,
                 "cid": np.full(ords.size, ci, dtype=np.int64)}))
    return (pd.concat(outs) if outs else
            pd.DataFrame({"doc_ord": pd.Series([], dtype="int64"),
                          "cid": pd.Series([], dtype="int64")}))


def _load_part_arrays(store_dirs: tuple, part_id: int, epoch: str):
    """(norm_arrays, fast_arrays) for one partition, read DIRECTLY from the
    kind=1/kind=4 store files (executor-side pyarrow, part-pruned) — the
    segment-reader pattern: no norms scan/semijoin/cogroup in the plan.
    ``epoch`` (the manifest commit stamp) versions the worker cache so a
    compaction's directory swap can't serve stale listings."""
    key = (store_dirs, epoch, part_id)
    hit = _NORM_CACHE.get(key)
    if hit is None:
        import pyarrow.dataset as pads

        # part_id -> owning norm/fast file fragments, computed ONCE per
        # worker per epoch from row-group statistics. Without this map a
        # cache miss re-evaluated the part_id predicate over EVERY file's
        # footer under kind=1/kind=4 (~32 ms/part at P=128); with it a
        # miss reads exactly the one or two files that contain the part
        # (~2 ms). One bounded metadata pass per worker, amortized across
        # every subsequent query.
        pmap = _part_fragment_map(
            [_store_dataset(d, epoch) for d in store_dirs],
            _NORM_CACHE, ("pmap", store_dirs, epoch),
            frag_filter=pads.field("kind").isin([KIND_NORMS, KIND_FAST]))
        norm_arrays: dict = {}
        fast_arrays: dict = {}
        # fragment-level read: `kind` is a hive partition (virtual) column
        # unavailable in the physical file schema, so rows are classified
        # by their `field` marker instead (kind pruning already happened
        # when the fragment map was built)
        frags = pmap.get(part_id, []) + pmap.get(None, [])
        for frag in frags:
            tbl = frag.to_table(columns=["field", "term", "doc_bytes", "part_id"],
                                filter=pads.field("part_id") == part_id)
            for fm, t, b, p in zip(tbl.column("field").to_pylist(),
                                   tbl.column("term").to_pylist(),
                                   tbl.column("doc_bytes").to_pylist(),
                                   tbl.column("part_id").to_pylist()):
                if int(p) != part_id:
                    continue
                if fm == NORMS_MARK:
                    norm_arrays[t] = np.frombuffer(b, dtype=np.uint8)
                elif fm == FAST_MARK:
                    fast_arrays[t] = np.frombuffer(b, dtype=np.int64)
        if len(_NORM_CACHE) >= _NORM_CACHE_MAX:
            _NORM_CACHE.clear()
        hit = _NORM_CACHE[key] = (norm_arrays, fast_arrays)
    return hit


def _score_partition(plan: dict, postings_pdf: pd.DataFrame):
    """Score every query of ``plan`` against one doc partition. Returns
    (query_id, doc_ord, score) rows for the per-partition top candidates."""
    if len(postings_pdf) == 0:
        return pd.DataFrame({"query_id": [], "doc_ord": [], "score": []}).astype(
            {"query_id": "int64", "doc_ord": "int64", "score": "float32"})
    part_id = int(postings_pdf["part_id"].iloc[0])
    base = np.uint64(part_id) << np.uint64(ORD_SHIFT)
    norm_arrays, fast_arrays = _load_part_arrays(
        tuple(plan["store_dirs"]), part_id, plan.get("store_epoch", ""))
    # posting payloads for this part, keyed (field, term) — to_dict avoids
    # the per-row Series construction of iterrows (byte payloads pass by
    # reference either way)
    payload = {(r["field"], r["term"]): r
               for r in postings_pdf.to_dict("records")}
    caches = plan["caches"]
    limit = plan["limit"]
    algo = plan.get("algo", "auto")
    local_tomb = _local_tombstones(plan, part_id)
    out_q, out_d, out_s = [], [], []
    # decode caches SHARED ACROSS the batch's queries (a 64-query batch
    # re-touches the same hot terms; decode each chunk once per partition)
    shared = {"post": {}, "pos": {}, "wand": {}}

    def term_postings(field, term):
        key = (field, term)
        hit = shared["post"].get(key)
        if hit is not None:
            return hit
        row = payload.get(key)
        if row is None:
            shared["post"][key] = None
            return None
        docs, tfs = decode_postings(row["doc_bytes"], row["tf_bytes"])
        hit = (docs, tfs, row)
        shared["post"][key] = hit
        return hit

    base_i = int(base)
    for q in plan["queries"]:
        # search_after cursor, translated to this part's local ordinal
        # space: global doc_ord = base + local, and base is constant per
        # part, so (global > cursor_ord) ⟺ (local > cursor_ord − base) —
        # the difference may be negative (cursor in an earlier part: every
        # tie qualifies) or ≥ 2^40 (later part: no tie qualifies)
        after = q.get("after")
        after_local = ((np.float32(after[0]), int(after[1]) - base_i)
                       if after is not None else None)
        if algo != "exhaustive" and q.get("msm", 0) <= 1 \
                and _wand_eligible(q["specs"]) \
                and _wand_worthwhile(q["specs"], payload):
            res = _run_wand(q, payload, caches, norm_arrays, fast_arrays,
                            limit, local_tomb, shared, after_local)
            if res is not None:
                ords_w, scores_w = res
                if ords_w.size:
                    sel = np.lexsort((ords_w, -scores_w.astype(np.float64)))[:limit]
                    out_q.append(np.full(sel.size, q["query_id"], dtype=np.int64))
                    out_d.append((base + ords_w[sel].astype(np.uint64)).astype(np.int64))
                    out_s.append(scores_w[sel])
                continue
        # per-clause (ords, scores) in clause order
        clause_results = []
        for spec in q["specs"]:
            field = spec["field"]
            if spec["kind"] == "range":
                arr = fast_arrays.get(field)
                if arr is None:
                    ords_r = np.empty(0, np.int64)
                else:
                    mask = np.ones(arr.size, dtype=bool)
                    if spec["ge"] is not None:
                        mask &= arr >= spec["ge"]
                    if spec["le"] is not None:
                        mask &= arr <= spec["le"]
                    mask &= arr >= 0  # missing dates (-1) never match
                    ords_r = np.nonzero(mask)[0].astype(np.int64)
                clause_results.append((ords_r, np.empty(0, np.float32), spec))
                continue
            cache = caches[field]
            norms = norm_arrays.get(field)
            if spec["kind"] == "term":
                tp = term_postings(field, spec["terms"][0])
                if tp is None:
                    clause_results.append((np.empty(0, np.int64), np.empty(0, np.float32), spec))
                    continue
                docs, tfs, _ = tp
                local = docs.astype(np.int64)
                nids = norms[local] if norms is not None else np.zeros(local.size, np.uint8)
                scores = (score_postings(tfs, nids, spec["weight"], cache)
                          if spec["scoring"] else np.zeros(local.size, np.float32))
                clause_results.append((local, scores, spec))
            else:  # phrase
                tps = [term_postings(field, t) for t in spec["terms"]]
                if any(tp is None for tp in tps):
                    clause_results.append((np.empty(0, np.int64), np.empty(0, np.float32), spec))
                    continue
                common = tps[0][0].astype(np.int64)
                for tp in tps[1:]:
                    common = np.intersect1d(common, tp[0].astype(np.int64),
                                            assume_unique=True)
                if common.size == 0:
                    clause_results.append((common, np.empty(0, np.float32), spec))
                    continue
                # positions: the flat varint stream is decoded once per
                # (field, term) per part and cached across the batch's
                # queries. The cache upgrades to the record-major
                # restored stream only when that pays: on a FULL-coverage
                # intersection (the restore costs the same as the gather
                # the query needs anyway, and later queries reuse the
                # pre-keyed array with ZERO work) or on the term's SECOND
                # touch within the batch (hot terms recur ~8× in a
                # 64-query batch). A single selective phrase keeps the
                # old per-selection gather — restoring the whole stream
                # would cost more than the one query touches. The
                # sloppy-phrase count runs vectorized ACROSS all
                # candidate docs at once.
                keyed = []
                for t_name, tp in zip(spec["terms"], tps):
                    docs_t, tfs_t, row = tp[0], tp[1], tp[2]
                    pkey = (field, t_name)
                    hit = shared["pos"].get(pkey)
                    if hit is None:
                        flat = varint_decode(row["pos_bytes"])
                        rec_starts = np.concatenate(
                            ([0], np.cumsum(tfs_t.astype(np.int64) + 1)))
                        hit = shared["pos"][pkey] = [
                            "flat", flat, rec_starts, 0]
                    if hit[0] == "flat":
                        hit[3] += 1
                    if hit[0] == "flat" and (
                            common.size == docs_t.size or hit[3] >= 2):
                        pos_s, cum_s = decode_positions_stream(
                            hit[1], hit[2], tfs_t)
                        hit[:] = ["full", pos_s, cum_s,
                                  phrase_keys_all(pos_s, cum_s)]
                    if hit[0] == "full":
                        if common.size == docs_t.size:
                            keyed.append(hit[3])
                        else:
                            sel = np.searchsorted(
                                docs_t.astype(np.int64), common)
                            keyed.append(phrase_keys_select(
                                hit[1], hit[2], sel))
                    else:
                        sel = np.searchsorted(docs_t.astype(np.int64),
                                              common)
                        keyed.append(phrase_position_keys(
                            hit[1], hit[2], tfs_t, sel))
                tf_counts = sloppy_phrase_counts_batch(
                    keyed, list(spec["positions"]), spec["slop"], common.size)
                mask = tf_counts > 0
                ords_m = common[mask]
                nids = norms[ords_m] if norms is not None else np.zeros(ords_m.size, np.uint8)
                scores = (score_postings(tf_counts[mask], nids, spec["weight"], cache)
                          if spec["scoring"] else np.zeros(ords_m.size, np.float32))
                clause_results.append((ords_m, scores, spec))

        # candidate set: Must(union of should group) ∩ each extra group
        #   ∩ musts ∩ range filters − must_nots
        should = [r for r in clause_results if r[2]["role"] == "should"]
        must_sets = []
        if should:
            # each clause's ords are unique, so occurrence counts across
            # the concatenation = number of DISTINCT matching should
            # clauses per doc — the Lucene minimumNumberShouldMatch gate
            # (msm ≤ 1 is the plain union / reference Must-wrap shape)
            u, cnts = np.unique(np.concatenate([r[0] for r in should]),
                                return_counts=True)
            msm = q.get("msm", 0)
            if msm > 1:
                u = u[cnts >= msm]
            must_sets.append(u)
        groups: dict[int, list] = {}
        for r in clause_results:
            if r[2]["role"] == "extra_group":
                groups.setdefault(r[2]["group"], []).append(r[0])
        for gi in sorted(groups):
            must_sets.append(np.unique(np.concatenate(groups[gi])))
        for r in clause_results:
            if r[2]["role"] in ("must", "must_range"):
                must_sets.append(r[0])
        if not must_sets:
            continue
        cand = must_sets[0]
        for s_ in must_sets[1:]:
            cand = np.intersect1d(cand, s_, assume_unique=True)
        for r in clause_results:
            if r[2]["role"] == "must_not":
                cand = np.setdiff1d(cand, r[0], assume_unique=True)
        if local_tomb is not None:
            cand = np.setdiff1d(cand, local_tomb, assume_unique=True)
        if cand.size == 0:
            continue
        # accumulate float32 scores in clause order (oracle-identical)
        cand, acc = accumulate_scores(
            cand, [(o, sc, spec["role"]) for o, sc, spec in clause_results
                   if spec["role"] not in ("must_not", "must_range")],
            q.get("combiner", "sum"), q.get("tie", 0.0))
        if after_local is not None and cand.size:
            a_s, a_o = after_local[0], np.int64(after_local[1])
            keep = (acc < a_s) | ((acc == a_s) & (cand > a_o))
            cand, acc = cand[keep], acc[keep]
        if cand.size == 0:
            continue
        sel = np.lexsort((cand, -acc.astype(np.float64)))[:limit]
        out_q.append(np.full(sel.size, q["query_id"], dtype=np.int64))
        out_d.append((base + cand[sel].astype(np.uint64)).astype(np.int64))
        out_s.append(acc[sel])

    if not out_q:
        return pd.DataFrame({"query_id": [], "doc_ord": [], "score": []}).astype(
            {"query_id": "int64", "doc_ord": "int64", "score": "float32"})
    return pd.DataFrame({
        "query_id": np.concatenate(out_q),
        "doc_ord": np.concatenate(out_d),
        "score": np.concatenate(out_s)})


def _match_frame_method(fn):
    """Engine method of a match-frame kind ``fn`` (aggs.AGGS): build the
    query's match frame with ``_match_doc_meta``, call ``fn`` on it. The
    method's parameters are ``(query, filters=(), boosts=())`` followed
    by ``fn``'s own, in order."""
    def method(self, query, filters=(), boosts=(), *args, **params):
        return fn(self._match_frame(query, filters, boosts, fn.__name__),
                  *args, **params)

    sig = inspect.signature(fn)
    head = [inspect.Parameter(n, inspect.Parameter.POSITIONAL_OR_KEYWORD,
                              default=d)
            for n, d in (("self", inspect.Parameter.empty),
                         ("query", inspect.Parameter.empty),
                         ("filters", ()), ("boosts", ()))]
    method.__signature__ = sig.replace(
        parameters=head + list(sig.parameters.values())[1:])
    method.__name__ = method.__qualname__ = fn.__name__
    method.__doc__ = fn.__doc__
    return method


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 as_of: int | None = None):
        """``as_of`` pins the engine to the manifest snapshot published
        at that commit_seq (Iceberg-style time travel: segment parquet
        is append-only between merges and deletes are logical, so the
        old state is fully searchable — pre-delete/pre-upsert audits).
        A pinned engine never advances; refresh() re-reads the same
        immutable snapshot."""
        self.spark = spark
        self.index_dir = index_dir
        self.as_of = as_of
        self.last_meta: dict | None = None
        self.refresh()

    def refresh(self) -> None:
        """(Re)load the committed manifest and rebuild the cached frames /
        stats caches. Call after another writer upserts/deletes or after
        compact_index's directory swap — the engine otherwise serves the
        generation it was opened on (tantivy reader-reload analog,
        local.rs:178-190)."""
        m = load_manifest(self.index_dir, as_of=self.as_of)
        if (m is None or not m.committed) and self.as_of is None:
            # a compaction interrupted between its two directory renames
            # leaves the index under a sibling name — heal, then re-read
            # (idempotent no-op on a genuinely absent index)
            from ..index.builder import recover_compaction

            if recover_compaction(self.index_dir) in ("completed",
                                                      "rolled_back"):
                m = load_manifest(self.index_dir)
        if m is None or not m.committed:
            raise FileNotFoundError(f"no committed index manifest in {self.index_dir}")
        for cache in ("_agg_dm_cache", "_agg_gdm_cache"):
            prev_agg = getattr(self, cache, None)
            if prev_agg is not None:  # drop the stale-generation frame
                prev_agg.unpersist()
                setattr(self, cache, None)
        if m.version > 1:
            raise ValueError(
                f"index manifest version {m.version} is newer than this "
                "engine supports (1) — run a compaction/migration first "
                "(the v3→v4 whole-index rewrite pattern, SURVEY §1.1)")
        self.manifest: Manifest = m
        self.gens = m.gen_list()
        # base frames created once: Spark caches their file indexes, so
        # per-query work skips the parquet listing round trips
        def fresh_store() -> DataFrame:
            # separate reads (distinct plan lineage) so postings-derived
            # frames can join norms-derived frames without self-join
            # ambiguity; Spark still shares the cached file index
            return reduce(DataFrame.unionByName,
                          [read_store(self.spark, self.index_dir, g["prefix"])
                           for g in self.gens])

        self._postings_base = fresh_store().filter(
            F.col("kind") == KIND_POSTING).select(
            "part_id", "field", "term", "df_part", "cf_part", "n_local",
            "doc_bytes", "tf_bytes", "pos_bytes", "meta_bytes")
        self._doc_meta_base = doc_meta_view(self.spark, self.index_dir, self.gens)
        self._df_cache: dict[tuple[str, str], int] = {}
        self._cf_cache: dict[tuple[str, str], int] = {}
        # the store directories and their cache epoch: commit_seq
        # (monotonic, bumped per commit) versions the process-level
        # pyarrow handles and the per-worker norm/tombstone caches —
        # created_utc alone is 1-second-granular, so two delete commits
        # in the same second overwriting the same tombstone dir would
        # leave warmed executors serving the first commit's ordinals
        self._store_dirs = tuple(f"{self.index_dir}/{g['prefix']}/store"
                                 for g in self.gens)
        self._store_epoch = f"{m.created_utc}#{getattr(m, 'commit_seq', 0)}"
        self._tomb_cache = None
        self._scan_aligned = self._compute_scan_aligned()
        self._prewarm_session()
        self._prewarm_local_exec()

    def _prewarm_session(self) -> None:
        """One-time per-Spark-session warm of the generic SQL execution
        machinery — the JVM half of the open-segment-readers analog,
        next to _prewarm_local_exec's metadata plane. Small searches run
        driver-local (zero Spark jobs), so without this nothing warms
        the JVM before the first distributed query, which then absorbs
        seconds of one-time classloading + C2 JIT that are properly an
        open cost. The warm runs a synthetic pipeline over sp.range —
        Generate(explode) → two-level HashAggregate → Exchange →
        BroadcastHashJoin → TakeOrderedAndProject — with enough rows to
        compile AND heat the codegen loops, plus a Python-worker /
        Arrow round trip and one store-row parquet read (vectorized
        reader classes). Reads a single store row, caches no results and
        leaves no query-visible state; best-effort (a failure is logged
        as a warning and the next engine open retries), once per
        applicationId once it succeeds."""
        try:
            app = self.spark.sparkContext.applicationId
        except Exception:
            return
        if app in _WARMED_SESSIONS:
            return
        try:
            sp = self.spark
            n = max(sp.sparkContext.defaultParallelism, 2)
            base = (sp.range(0, 200_000, 1, n)
                      .withColumn("arr", F.array(F.col("id") % 97,
                                                 F.col("id") % 31,
                                                 F.col("id") % 7))
                      .select("id", F.explode("arr").alias("t")))
            tf = base.groupBy("id", "t").agg(F.count("*").alias("tf"))
            dfq = tf.groupBy("t").agg(F.count("*").alias("df"))
            (tf.join(F.broadcast(dfq), "t")
               .groupBy("id").agg(F.sum(F.col("tf") * F.col("df")).alias("s"))
               .orderBy(F.desc("s"), F.asc("id")).limit(10).collect())
            sp.range(0, n, 1, n).mapInPandas(lambda it: it,
                                             "id long").count()
            self._postings_base.select("part_id").limit(1).collect()
        except Exception as e:
            _log.warning("session warm-up (_prewarm_session) failed; the "
                         "next engine open retries it: %s", e)
            return
        _WARMED_SESSIONS.add(app)

    def _prewarm_local_exec(self) -> None:
        """Open-time warm-up of the driver-local executor's metadata
        plane (the tantivy open-segment-readers analog): pyarrow dataset
        handles, the part→fragment map, and — when the whole norm/fast
        plane is small — the per-part norm arrays. All bounded by the
        LOCAL_EXEC gates; a 100 TB index skips everything beyond the
        part-count check. Best-effort: a failure is logged as a warning
        and the loads happen lazily on first use."""
        if LOCAL_EXEC_MODE == "never":
            return
        total_parts = sum(g["num_partitions"] for g in self.gens)
        if total_parts > LOCAL_EXEC_MAX_PARTS:
            return
        try:
            import pyarrow.dataset as pads

            m = self.manifest
            epoch, dirs = self._store_epoch, self._store_dirs
            pmap = _part_fragment_map(
                [_store_dataset(d, epoch) for d in dirs],
                _NORM_CACHE, ("pmap", dirs, epoch),
                frag_filter=pads.field("kind").isin([KIND_NORMS, KIND_FAST]))
            # norm/fast arrays are ~#docs bytes per field — preload only
            # when the whole plane fits a small driver budget
            est_bytes = m.num_docs * max(1, len(m.field_totals)) * 2
            if est_bytes <= 64 << 20:
                for p in sorted(k for k in pmap if k is not None):
                    _load_part_arrays(dirs, p, epoch)
            # first Arrow local-relation conversion in a session pays ~1 s
            # of JVM classloading; do it once at open with a dummy row so
            # the first query's result materialization doesn't
            self._local_hits_df(
                [(0, 1, "w", "w", "w", "w", None, [], 0.0, 0)]).collect()
        except Exception as e:
            _log.warning("driver-local warm-up (_prewarm_local_exec) "
                         "failed; its loads happen on first use: %s", e)

    def _compute_scan_aligned(self) -> bool:
        """True when the kind=0 store layout guarantees whole-part input
        splits: stage 1 writes exactly one posting file per doc partition
        (identity shuffle keys → one task per part), so as long as no
        file exceeds half of spark.sql.files.maxPartitionBytes Spark will
        never split one across tasks — every scan task sees COMPLETE
        parts and the pre-scoring groupBy exchange is pure waste (the
        data is already co-located on disk). Falls back to the shuffled
        path automatically when a part's postings outgrow the bound (the
        100 TB regime with huge parts)."""
        import os

        try:
            max_bytes = int(self.spark.conf.get(
                "spark.sql.files.maxPartitionBytes", str(128 << 20)))
        except ValueError:
            max_bytes = 128 << 20
        biggest = 0
        nfiles = 0
        for g in self.gens:
            store = f"{self.index_dir}/{g['prefix']}/store"
            for root, _, files in os.walk(store):
                if "kind=0" not in root:
                    continue
                for fn in files:
                    if fn.endswith(".parquet"):
                        nfiles += 1
                        biggest = max(biggest, os.path.getsize(
                            os.path.join(root, fn)))
        self._posting_file_count = nfiles
        self._max_partition_bytes = max_bytes
        return 0 < biggest <= max_bytes // 2

    def _paths(self, name: str) -> list[str]:
        return [f"{self.index_dir}/{g['prefix']}/{name}" for g in self.gens]

    # -- public API (Searcher::search analog) ---------------------------

    def search(self, query: str, filters=(), boosts=(), k: int = 5,
               offset: int = 0, algo: str = "auto",
               search_after=None, combiner: str = "sum",
               tie_breaker: float = 0.0,
               min_should_match: int | str = 0) -> DataFrame:
        """``combiner='dismax'`` switches the Should-group score from the
        clause sum (tantivy/Lucene BooleanQuery, the reference shape) to
        Lucene DisjunctionMaxQuery semantics — best matching clause +
        ``tie_breaker`` × the others (ES multi_match best_fields). WAND
        pruning stays available (tie ∈ [0,1] keeps the Σ-UB bound valid,
        wand.py); results remain bitwise exhaustive-identical.

        ``min_should_match`` is Lucene BooleanQuery's
        setMinimumNumberShouldMatch (ES minimum_should_match): a doc is
        a candidate only when ≥ that many DISTINCT Should clauses match
        (0/1 = the reference's plain Must-wrap). An int or an ES spec
        string — ``'-1'`` (all but one), ``'75%'``/``'-25%'``
        (floor-rounded percentage of the compiled Should-clause count;
        compiler.resolve_min_should_match documents the contract).
        Scoring is unchanged — msm only gates candidacy; msm ≥ 2 scores
        exhaustively (WAND is a pruning strategy and its Σ-UB advance
        has no clause-count bound)."""
        return self.search_many(
            [{"query": query, "filters": filters, "boosts": boosts,
              "after": search_after, "combiner": combiner,
              "tie_breaker": tie_breaker,
              "min_should_match": min_should_match}],
            k=k, offset=offset, algo=algo).drop("query_id")

    def search_many(self, queries: list[dict], k: int = 5, offset: int = 0,
                    algo: str = "auto") -> DataFrame:
        """Batch mode: one Spark job scores all queries. Each dict:
        {query, filters?, boosts?, after?}. Returns (query_id, rank,
        doc_id, url, domain, title, tags, score). ``algo``: 'auto'
        (block-max WAND where the query shape allows, exhaustive
        otherwise) or 'exhaustive'.

        ``after`` / ``search_after`` is a deep-paging cursor — the
        (score, doc_ord) of the last hit of the previous page; the next
        page is the top-k among docs STRICTLY after it in the global
        (score desc, doc_ord asc) order, with ranks restarting at 1.
        Unlike ``offset`` (whose driver merge collects parts×(k+offset)
        candidate rows — O(offset) driver work, the tantivy
        TopDocs::with_offset shape), a cursor page collects parts×k rows
        at ANY depth: page 10⁶ of a 10¹²-doc index costs the same as
        page 1. Scores are float32 computed identically on every page,
        so the cursor's equality tie-break is exact, and pages
        concatenate to precisely the one-shot top-N (pinned in
        tests/test_search_after.py at multiple P, WAND ≡ exhaustive).

        Pattern shapes batch too: a dict may carry ``prefix`` /
        ``wildcard`` / ``regex`` / ``fuzzy`` (optionally
        ``fuzzy_distance``, ``max_expansions``) / ``term_range``
        (a (lower, upper) pair, optionally ``include_lower`` /
        ``include_upper``) / ``term_set`` (an iterable of exact
        terms) instead of ``query`` —
        the expansion is the same driver-side metadata-plane read the
        single-query methods use, so a mixed batch of N queries still
        costs exactly ONE scoring job.

        Per-batch metadata (num_docs, term_counts, wall_time_ms — the
        SearchResults.meta analog, api/handler/search.rs:190-211) is left
        in ``self.last_meta``."""
        pairs = [self._compile_one(q) for q in queries]
        return self._run_compiled_batch(
            [cq for cq, _ in pairs], [lbl for _, lbl in pairs], k, offset,
            algo, afters=[q.get("after") for q in queries])

    def _compile_one(self, q: dict):
        """One batch entry → (CompiledQuery, label). Free-text compiles
        directly; pattern shapes run the matching dictionary expansion
        (driver-side pyarrow, no Spark job) and compile as a Should
        group — identical semantics to the single-query methods. An
        optional ``combiner``/``tie_breaker`` pair selects the
        Should-group score combiner (sum | dismax) for THIS entry —
        any shape may carry it, since every shape compiles to a Should
        group (a dismax pattern query is Lucene's top-terms blended
        rewrite with max scoring)."""
        comb = q.get("combiner", "sum")
        if comb not in ("sum", "dismax"):
            raise ValueError(f"combiner must be 'sum' or 'dismax': {comb!r}")
        tie = float(q.get("tie_breaker", 0.0))
        if comb == "dismax" and not 0.0 <= tie <= 1.0:
            # Lucene DisjunctionMaxQuery contract; also what keeps the
            # WAND Σ-UB bound valid (wand.py)
            raise ValueError(f"tie_breaker must be in [0, 1]: {tie}")
        from .compiler import resolve_min_should_match

        cq, label = self._compile_one_shape(q)
        cq.combiner, cq.tie_breaker = comb, tie
        # int or ES spec string ('2', '-1', '75%', '-25%') resolved
        # against THIS query's compiled Should-clause count — shared
        # scalar code (compiler.py), so the oracle resolves identically
        cq.min_should_match = resolve_min_should_match(
            q.get("min_should_match", 0), len(cq.should_group))
        return cq, label

    def _compile_arg(self, query, filters=(), boosts=()):
        """Compile a query argument for the collector/aggregation
        surface: a plain string is the reference free-text shape
        (compile_query), a dict is ANY ``search_many`` batch entry —
        ``{"parsed": ...}``, ``{"prefix": ...}``, ``{"term_set": ...}``,
        … — so every collector (count/export/facets/stats/sorted/…)
        runs over every query shape the engine can search.
        ``filters``/``boosts`` given positionally merge in unless the
        dict carries its own."""
        if isinstance(query, dict):
            q = dict(query)
            q.setdefault("filters", filters)
            q.setdefault("boosts", boosts)
            return self._compile_one(q)[0]
        return compile_query(query, filters, boosts)

    def _compile_one_shape(self, q: dict):
        filters, boosts = q.get("filters", ()), q.get("boosts", ())
        if "query" in q:
            return (compile_query(q["query"], filters, boosts), q["query"])
        cap = q.get("max_expansions", DEFAULT_MAX_EXPANSIONS)
        stats = self._paths("term_stats")
        if "prefix" in q:
            norm = normalize_pattern(q["prefix"])
            expand = (lambda f: expand_prefix(stats, f, norm, cap)) \
                if norm else (lambda f: [])
            label = f"prefix:{q['prefix']}"
        elif "wildcard" in q:
            norm = normalize_wildcard(q["wildcard"])
            expand = (lambda f: expand_wildcard(stats, f, norm, cap)) \
                if norm else (lambda f: [])
            label = f"wildcard:{q['wildcard']}"
        elif "regex" in q:
            pat = q["regex"]
            expand = (lambda f: expand_regex(stats, f, pat, cap)) \
                if pat else (lambda f: [])
            label = f"regex:{pat}"
        elif "fuzzy" in q:
            norm = normalize_pattern(q["fuzzy"])
            dist = q.get("fuzzy_distance", 1)
            fuzzy = self._fuzzy_dict_paths()
            expand = (lambda f: expand_fuzzy(stats, f, norm, dist, cap,
                                             fuzzy_paths=fuzzy)) \
                if norm else (lambda f: [])
            label = f"fuzzy:{q['fuzzy']}~{dist}"
        elif "term_range" in q:
            lo, hi = q["term_range"]
            inc_lo = q.get("include_lower", True)
            inc_hi = q.get("include_upper", False)
            expand = (lambda f: expand_term_range(stats, f, lo, hi,
                                                  inc_lo, inc_hi, cap))
            label = f"term_range:{lo},{hi}"
        elif "term_set" in q:
            ts = tuple(q["term_set"])
            expand = (lambda f: expand_term_set(stats, f, ts, cap))
            label = "term_set:" + ",".join(sorted(map(str, ts))[:8])
        elif "parsed" in q:
            # query-string grammar (query/parser.py — the tantivy
            # QueryParser analog); [a TO b] atoms expand through the
            # same driver-side pyarrow byte-range read as term_range
            from .parser import parse_with_filters

            def expand_rng(f, lo, hi, ilo, ihi, rcap):
                return [t for t, _ in expand_term_range(
                    stats, f, lo, hi, ilo, ihi, rcap)]

            return (parse_with_filters(q["parsed"], filters, boosts,
                                       expand_range=expand_rng,
                                       max_expansions=cap),
                    f"parsed:{q['parsed']}")
        elif "phrase_prefix" in q:
            from .compiler import compile_phrase_prefix, split_phrase_prefix

            fixed, raw_prefix = split_phrase_prefix(q["phrase_prefix"])
            norm = normalize_pattern(raw_prefix)
            per_field = {f: [t for t, _ in expand_prefix(stats, f, norm,
                                                         cap)]
                         for f in self.EXPAND_FIELDS} if norm else {}
            return (compile_phrase_prefix(fixed, per_field,
                                          filters=filters, boosts=boosts),
                    f"phrase_prefix:{q['phrase_prefix']}")
        else:
            raise ValueError(
                "batch entry needs one of query/prefix/wildcard/regex/"
                "fuzzy/term_range/term_set/phrase_prefix/parsed: "
                f"{sorted(q)}")
        per_field = {f: [t for t, _ in expand(f)]
                     for f in self.EXPAND_FIELDS}
        return (compile_expanded(per_field, filters=filters,
                                 boosts=boosts), label)

    def _run_compiled_batch(self, compiled, labels, k, offset, algo,
                            afters=None) -> DataFrame:
        t0 = time.time()
        sc = self.spark.sparkContext
        self._qseq = getattr(self, "_qseq", 0) + 1
        group = f"spyglass-search-{id(self)}-{self._qseq}"
        sc.setJobGroup(group, "spyglass search")
        try:
            out = self._execute_compiled(compiled, k=k, offset=offset,
                                         algo=algo, afters=afters)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.last_meta = {
            "queries": labels,
            "num_docs": self.manifest.num_docs,
            "term_counts": [cq.term_count for cq in compiled],
            # jobs launched DURING execution (the driver-merge path fully
            # materializes inside, so this is the whole query for the
            # common shape: 1 = the single scoring pass; the returned
            # LocalRelation adds zero jobs at collect)
            "spark_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            # how many of the batch's queries took the WAND pruning path
            # (algo='auto'); the rest fell back to the exhaustive scorer
            "wand_eligible": getattr(self, "_last_wand_eligible", 0),
            "wall_time_ms": round((time.time() - t0) * 1000.0, 1),
        }
        return out

    # -- multi-term pattern queries (prefix / fuzzy rewrite) -------------
    # The reference leaves these as a todo (query.rs:119,163); semantics
    # are the tantivy/Lucene rewrite documented in query/expand.py. The
    # expansion itself is a driver-side row-group-pruned pyarrow read —
    # zero Spark jobs — so a pattern search still costs ONE scoring job.

    EXPAND_FIELDS = ("content", "title")

    def search_prefix(self, pattern: str, k: int = 5, offset: int = 0,
                      fields: tuple = EXPAND_FIELDS,
                      max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                      filters=(), boosts=(), algo: str = "auto",
                      search_after=None) -> DataFrame:
        """``spar*``: every dictionary term starting with the normalized
        pattern (capped, df-ranked) scored as a Should group. Deep paging
        composes: ``search_after`` is the same (score, doc_ord) cursor as
        ``search`` (the expansion is deterministic per commit, so every
        page scores the identical Should group)."""
        norm = normalize_pattern(pattern)
        stats = self._paths("term_stats")
        per_field = {f: [t for t, _ in expand_prefix(stats, f, norm,
                                                     max_expansions)]
                     for f in fields} if norm else {}
        self.last_expansion = per_field
        cq = compile_expanded(per_field, filters=filters, boosts=boosts)
        return self._run_compiled_batch(
            [cq], [f"prefix:{pattern}"], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_phrase_prefix(self, query: str, k: int = 5, offset: int = 0,
                             fields: tuple = EXPAND_FIELDS,
                             max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                             filters=(), boosts=(), algo: str = "auto",
                             search_after=None) -> DataFrame:
        """``parse huge po`` → tantivy PhrasePrefixQuery
        (search-as-you-type): the trailing token is a dictionary prefix
        and each expansion COMPLETES the phrase — matches require the
        fixed tokens followed by an expansion at the next raw-token
        position (compile_phrase_prefix documents the position/boost/
        degradation rules). The expansion is the same driver-side
        term_stats range read as search_prefix — one scoring Spark job;
        paging via ``offset``/``search_after`` composes as in
        ``search``."""
        from .compiler import compile_phrase_prefix, split_phrase_prefix

        fixed, raw_prefix = split_phrase_prefix(query)
        norm = normalize_pattern(raw_prefix)
        stats = self._paths("term_stats")
        per_field = {f: [t for t, _ in expand_prefix(stats, f, norm,
                                                     max_expansions)]
                     for f in fields} if norm else {}
        self.last_expansion = per_field
        cq = compile_phrase_prefix(fixed, per_field, filters=filters,
                                   boosts=boosts)
        return self._run_compiled_batch(
            [cq], [f"phrase_prefix:{query}"], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_fuzzy(self, term: str, distance: int = 1, k: int = 5,
                     offset: int = 0, fields: tuple = EXPAND_FIELDS,
                     max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                     filters=(), boosts=(), algo: str = "auto",
                     search_after=None) -> DataFrame:
        """Terms within Levenshtein ``distance`` of the normalized
        pattern, via the SymSpell sidecar when present (ensure with
        ``ensure_fuzzy_dict``) and a dictionary-slice verify otherwise.
        ``search_after`` pages exactly as in ``search``."""
        norm = normalize_pattern(term)
        stats = self._paths("term_stats")
        fuzzy = self._fuzzy_dict_paths()
        per_field = {f: [t for t, _ in expand_fuzzy(
                         stats, f, norm, distance, max_expansions,
                         fuzzy_paths=fuzzy)]
                     for f in fields} if norm else {}
        self.last_expansion = per_field
        cq = compile_expanded(per_field, filters=filters, boosts=boosts)
        return self._run_compiled_batch(
            [cq], [f"fuzzy:{term}~{distance}"], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_wildcard(self, pattern: str, k: int = 5, offset: int = 0,
                        fields: tuple = EXPAND_FIELDS,
                        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                        filters=(), boosts=(), algo: str = "auto",
                        search_after=None) -> DataFrame:
        """``s?ar*``: Lucene/tantivy WildcardQuery — dictionary terms
        fullmatching the normalized pattern (query/expand.py contract)
        scored as a Should group. The expansion is a driver-side pyarrow
        read range-pruned by the literal run before the first
        metacharacter; a leading-wildcard pattern scans the field's
        dictionary slice (linear in vocabulary, documented). Paging via
        ``offset``/``search_after`` composes exactly as in ``search``."""
        norm = normalize_wildcard(pattern)
        stats = self._paths("term_stats")
        per_field = {f: [t for t, _ in expand_wildcard(stats, f, norm,
                                                       max_expansions)]
                     for f in fields} if norm else {}
        self.last_expansion = per_field
        cq = compile_expanded(per_field, filters=filters, boosts=boosts)
        return self._run_compiled_batch(
            [cq], [f"wildcard:{pattern}"], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_term_range(self, lower: str | None = None,
                          upper: str | None = None,
                          include_lower: bool = True,
                          include_upper: bool = False,
                          k: int = 5, offset: int = 0,
                          fields: tuple = EXPAND_FIELDS,
                          max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                          filters=(), boosts=(), algo: str = "auto",
                          search_after=None) -> DataFrame:
        """tantivy RangeQuery over a str field: dictionary terms in
        [lower, upper) (bounds normalized to the folded alphabet;
        include flags / None-unbounded per tantivy's Bound semantics)
        scored as a Should group. The expansion is a pure byte-range
        pyarrow read over the (field, term)-sorted term_stats — row-group
        pruned on BOTH bounds with no post-filter, the best-pruned member
        of the pattern family. tantivy const-scores ranges at 1.0; here
        the match SET is identical and the ordering is the deterministic
        df-ranked BM25 Should group every other pattern query uses (the
        documented family contract, expand.py module docstring). Paging
        via ``offset``/``search_after`` composes exactly as in
        ``search``."""
        stats = self._paths("term_stats")
        per_field = {f: [t for t, _ in expand_term_range(
                         stats, f, lower, upper, include_lower,
                         include_upper, max_expansions)]
                     for f in fields}
        self.last_expansion = per_field
        cq = compile_expanded(per_field, filters=filters, boosts=boosts)
        lb = "[" if include_lower else "("
        ub = "]" if include_upper else ")"
        return self._run_compiled_batch(
            [cq], [f"term_range:{lb}{lower},{upper}{ub}"], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_term_set(self, terms, k: int = 5, offset: int = 0,
                        fields: tuple = EXPAND_FIELDS,
                        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                        filters=(), boosts=(), algo: str = "auto",
                        search_after=None) -> DataFrame:
        """tantivy TermSetQuery (new in 0.19): the subset of ``terms``
        present in the dictionary scored as a Should group. The set is
        normalized (lowercase + fold, NOT stemmed — tantivy takes raw
        Terms) and read via a pyarrow IN-list predicate over the sorted
        term_stats: row-group pruned to [min, max] plus parquet
        dictionary-page filtering. tantivy const-scores the union at
        1.0; as with every pattern shape here the match SET is identical
        and ordering is the deterministic df-ranked BM25 Should group
        (expand.py family contract). Paging composes as in ``search``."""
        stats = self._paths("term_stats")
        per_field = {f: [t for t, _ in expand_term_set(
                         stats, f, terms, max_expansions)]
                     for f in fields}
        self.last_expansion = per_field
        cq = compile_expanded(per_field, filters=filters, boosts=boosts)
        label = "term_set:" + ",".join(sorted(map(str, terms))[:8])
        return self._run_compiled_batch(
            [cq], [label], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_regex(self, pattern: str, k: int = 5, offset: int = 0,
                     fields: tuple = EXPAND_FIELDS,
                     max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                     filters=(), boosts=(), algo: str = "auto",
                     search_after=None) -> DataFrame:
        """tantivy RegexQuery (the query.rs:119,163 todo's general
        form): anchored fullmatch of a raw regex against the dictionary.
        The pattern is NOT analyzed — terms are lowercase+folded, so
        callers write the pattern against that alphabet (Lucene
        RegexpQuery behaves identically). Range-pruned when
        ``regex_literal_prefix`` extracts a safe literal run; otherwise
        the field's dictionary slice is scanned (vocab-scale)."""
        stats = self._paths("term_stats")
        per_field = {f: [t for t, _ in expand_regex(stats, f, pattern,
                                                    max_expansions)]
                     for f in fields} if pattern else {}
        self.last_expansion = per_field
        cq = compile_expanded(per_field, filters=filters, boosts=boosts)
        return self._run_compiled_batch(
            [cq], [f"regex:{pattern}"], k, offset, algo,
            afters=[search_after]).drop("query_id")

    def search_parsed(self, query: str, filters=(), boosts=(), k: int = 5,
                      offset: int = 0, algo: str = "auto",
                      max_expansions: int = DEFAULT_MAX_EXPANSIONS,
                      search_after=None, combiner: str = "sum",
                      tie_breaker: float = 0.0,
                      min_should_match: int | str = 0) -> DataFrame:
        """Query-string search — the tantivy ``QueryParser`` analog
        (query/parser.py documents the grammar: ``+must -not
        field:term "phrase"~slop term^boost field:[a TO b]``). Parsing
        and range expansion are driver-side (zero Spark jobs); the
        compiled clause tree scores through the standard kernel, so
        deep paging, batching, algo and the dismax combiner all
        compose."""
        return self.search_many(
            [{"parsed": query, "filters": filters, "boosts": boosts,
              "max_expansions": max_expansions, "after": search_after,
              "combiner": combiner, "tie_breaker": tie_breaker,
              "min_should_match": min_should_match}],
            k=k, offset=offset, algo=algo).drop("query_id")

    def _fuzzy_dict_paths(self) -> list[str] | None:
        import os

        from ..index.fuzzy_dict import fuzzy_dict_path
        p = fuzzy_dict_path(self.index_dir, self.manifest.commit_seq)
        return [p] if os.path.exists(os.path.join(p, "_SUCCESS")) else None

    def ensure_fuzzy_dict(self) -> str:
        """Build the deletion-variant sidecar for the loaded commit if
        missing (one vocab-scale Spark job; see index/fuzzy_dict.py)."""
        from ..index.fuzzy_dict import build_fuzzy_dict

        return build_fuzzy_dict(self.spark, self.index_dir)

    def suggest(self, term: str, field: str = "content",
                distance: int = 2, limit: int = 5,
                mode: str = "popular") -> list[dict]:
        """Spelling suggestions ("did you mean") for one term — the
        Lucene DirectSpellChecker / ES term-suggester analog
        (query/expand.suggest_terms documents the ranking and the ES
        ``suggest_mode`` contract: missing | popular | always).
        Driver-side by construction — the SymSpell sidecar IN-list read
        when it covers ``distance``, the field's dictionary slice
        otherwise, both in the pyarrow metadata plane: ZERO Spark jobs
        (the dictionary is vocab-scale, not corpus-scale, at any SF).
        Returns [{"term", "df", "dist"}] — raw dictionary terms (the
        content field's are stemmed, like every pattern query's)."""
        from .expand import normalize_pattern, suggest_terms

        norm = normalize_pattern(term)
        if not norm:
            return []
        out = suggest_terms(self._paths("term_stats"), field, norm,
                            distance=distance, limit=limit, mode=mode,
                            fuzzy_paths=self._fuzzy_dict_paths())
        return [{"term": t, "df": int(d), "dist": int(x)}
                for t, d, x in out]

    def suggest_query(self, query: str, field: str = "content",
                      distance: int = 2, limit_per_term: int = 3,
                      mode: str = "missing") -> dict:
        """Whole-query "did you mean" — the Lucene SpellChecker
        collate-style rewrite / the ES phrase-suggester use case,
        composed from the term suggester (suggest). The query is
        analyzed with the FIELD's analyzer, so corrections live in the
        same stemmed/normalized term space every pattern query uses;
        each analyzed term gets term-suggester corrections (default
        mode 'missing' — only out-of-dictionary terms are corrected,
        the classic spell-check-on-zero-results shape; 'popular'
        upgrades every term to a strictly-more-frequent neighbor when
        one exists), and ``corrected`` is the analyzed term stream with
        each correctable term replaced by its TOP suggestion. ONE
        dictionary read serves the whole query
        (expand.suggest_query_terms) — still ZERO Spark jobs. Returns
        {"corrected", "changed", "terms": [{"term", "suggestions":
        [{"term", "df", "dist"}, ...]}  per distinct analyzed term]}."""
        from ..analysis.analyzer import tokenize_default, tokenize_en
        from .expand import suggest_query_terms

        tok = tokenize_en if field == "content" else tokenize_default
        toks = [t for _, t in tok(query or "")]
        sug = suggest_query_terms(self._paths("term_stats"), field, toks,
                                  distance=distance, limit=limit_per_term,
                                  mode=mode,
                                  fuzzy_paths=self._fuzzy_dict_paths())
        corrected = " ".join(sug[t][0][0] if sug.get(t) else t
                             for t in toks)
        return {
            "corrected": corrected,
            "changed": corrected != " ".join(toks),
            "terms": [{"term": t, "suggestions": [
                {"term": s, "df": int(d), "dist": int(x)}
                for s, d, x in sug.get(t, [])]}
                for t in dict.fromkeys(toks)],
        }

    def _scoring_partial(self, compiled: list[CompiledQuery],
                         limit: int | None, algo: str = "auto",
                         afters=None) -> DataFrame | None:
        """Distributed per-partition scoring frame for a compiled batch:
        (query_id, doc_ord, score) rows, truncated per part at ``limit``
        (None = the FULL score>0 set, the scored-export path — numpy's
        ``[:None]`` keeps every candidate). Shared by the top-k search
        collectors and score_matches/export_scored. None when the batch
        carries no term keys (all-stopword queries)."""
        built = self._build_scoring_plan(compiled, limit, algo, afters)
        if built is None:
            return None
        plan, fields, terms, needs_pos, _est = built
        return self._partial_frame(
            plan, self._query_postings(fields, terms, needs_pos))

    def _query_postings(self, fields, terms, needs_pos: bool) -> DataFrame:
        """The batch's posting chunks (field/term-pruned at the scan).
        Positions are only decoded by phrase clauses — for term-only
        batches the pos_bytes column (the largest payload) is pruned out
        of the scan + shuffle entirely."""
        postings = self._postings_base.filter(
            F.col("field").isin(fields) & F.col("term").isin(terms))
        return postings if needs_pos else postings.drop("pos_bytes")

    def _build_scoring_plan(self, compiled: list[CompiledQuery],
                            limit: int | None, algo: str = "auto",
                            afters=None):
        """Common scoring-plan construction for the distributed and the
        driver-local executors: (plan, fields, terms, needs_pos,
        est_rows) or None for a term-less batch. ``est_rows`` is the
        global posting-row volume the batch will decode (Σ df per key;
        phrase members weighted ×4 for their position payloads) — the
        scale gate for the driver-local path."""
        m = self.manifest
        keys = set()
        for cq in compiled:
            keys |= cq.term_keys()
        if not keys:
            self._last_wand_eligible = 0
            return None

        fields = sorted({f for f, _ in keys})
        terms = sorted({t for _, t in keys})
        # global df per (field, term): driver-side pruned read of the
        # term-sorted stats store, memoized (df counts tombstoned docs,
        # matching tantivy's searcher-global stats)
        dfs = self._term_dfs(keys)
        cache_fields = set(m.field_totals) | {f for f, _ in keys}
        caches = {f: norm_cache(m.field_totals.get(f, 0) / m.num_docs
                                if m.num_docs else 1.0)
                  for f in cache_fields}
        plan = {
            # "after": the search_after cursor (score, GLOBAL doc_ord) or
            # None — translated to each part's local ordinal space inside
            # _score_partition
            "queries": [{"query_id": qi,
                         "specs": _clause_specs(cq, dfs, m.num_docs),
                         # Should-group score combiner (compiler.py):
                         # 'sum' (default) or 'dismax' with tie ∈ [0,1]
                         "combiner": getattr(cq, "combiner", "sum"),
                         "tie": float(getattr(cq, "tie_breaker", 0.0)),
                         # Lucene minimumNumberShouldMatch candidate
                         # gate (compiler.py); ≥2 disables WAND (pruning
                         # strategy only — msm shapes score exhaustively)
                         "msm": int(getattr(cq, "min_should_match", 0)),
                         "after": (float(afters[qi][0]), int(afters[qi][1]))
                         if afters is not None and afters[qi] is not None
                         else None}
                        for qi, cq in enumerate(compiled)],
        }
        # eligibility is a pure function of the specs — recorded so
        # last_meta can report how many of the batch's queries took the
        # WAND pruning path (vs exhaustive fallback)
        self._last_wand_eligible = sum(
            1 for q in plan["queries"]
            if q["msm"] <= 1 and _wand_eligible(q["specs"]))
        plan |= {
            "caches": caches,
            "limit": limit,
            "algo": algo,
            # norm/fast-field arrays are read DIRECTLY by the scoring UDF
            # (part-pruned pyarrow over kind=1/kind=4, cached per worker) —
            # no norms scan, no touched-parts semijoin, no cogroup: the
            # whole search is scan → one exchange → score
            "store_dirs": list(self._store_dirs),
            "store_epoch": self._store_epoch,
        }
        plan.update(self._tombstone_plan())

        needs_pos = any(s["kind"] == "phrase"
                        for q in plan["queries"] for s in q["specs"])
        # decode-volume estimate: df rows per term clause; phrase members
        # additionally decode their position streams (~cf entries each)
        phrase_keys = {(s["field"], t) for q in plan["queries"]
                       for s in q["specs"] if s["kind"] == "phrase"
                       for t in s["terms"]}
        cfs = self._term_cfs(phrase_keys) if phrase_keys else {}
        est = 0
        for q in plan["queries"]:
            for s in q["specs"]:
                for t in s["terms"]:
                    est += dfs.get((s["field"], t), 0)
                    if s["kind"] == "phrase":
                        est += cfs.get((s["field"], t), 0)
        return plan, fields, terms, needs_pos, est

    def _execute_compiled(self, compiled: list[CompiledQuery], k: int = 5,
                          offset: int = 0, algo: str = "auto",
                          afters=None) -> DataFrame:
        built = self._build_scoring_plan(compiled, k + offset, algo, afters)
        if built is None:
            return self._empty_result()
        plan, fields, terms, needs_pos, est = built

        total_parts = sum(g["num_partitions"] for g in self.gens)
        bound = total_parts * (k + offset) * len(compiled)
        # Driver-local execution for SMALL searches: the identical
        # scoring kernel (_score_partition) over a pyarrow-pruned posting
        # read — zero Spark jobs, skipping the ~0.5 s scan+Python-worker
        # floor a 1 MB posting fetch pays as a cluster job (the tantivy
        # single-searcher shape; same metadata-plane pattern as the
        # pattern expansions and _doc_meta_pyarrow). Strictly gated:
        # estimated decode volume (Σ df, phrase-weighted), batch width,
        # and part count (footer metadata is per-file) — any big shape
        # keeps the distributed path, which stays the 100 TB executor.
        if (LOCAL_EXEC_MODE != "never" and bound <= MERGE_COLLECT_MAX
                and len(compiled) <= LOCAL_EXEC_MAX_QUERIES
                and total_parts <= LOCAL_EXEC_MAX_PARTS
                and (est <= LOCAL_EXEC_MAX_ROWS
                     or LOCAL_EXEC_MODE == "always")):
            pdf = self._score_local(plan, fields, terms, needs_pos)
            return self._merge_driver_pdf(pdf, k, offset)
        partial = self._partial_frame(
            plan, self._query_postings(fields, terms, needs_pos))
        if bound <= MERGE_COLLECT_MAX:
            # AQE is a net loss for this fixed scan→exchange→score shape:
            # it runs the shuffle stage as its OWN job (a barrier between
            # two scheduling rounds) and coalesces the tiny-byte posting
            # shuffle down to a handful of tasks — serializing the
            # CPU-heavy scoring stage that the bytes don't predict.
            # Disabling it for the scoring collect makes a search exactly
            # ONE fixed-parallelism Spark job (measured 2.2s → 0.7s warm
            # hot-term at sf0.1 bench scale). Session-level toggle:
            # restored in finally; a concurrent query planned in the
            # window would only lose an optimization, never correctness.
            conf = self.spark.conf
            prev = conf.get("spark.sql.adaptive.enabled", "true")
            prev_cost = conf.get("spark.sql.files.openCostInBytes", "4194304")
            conf.set("spark.sql.adaptive.enabled", "false")
            if self._scan_aligned:
                # size open-cost so the per-part files pack into ≈cores
                # tasks: the default 4 MB packs them into a handful
                # (serializing the CPU-heavy scoring), while 1 file/task
                # costs a Python-worker round trip per PART (measured
                # ~0.7 s of pure invocation overhead at P=128). Each task
                # still holds only COMPLETE parts.
                cores = max(self.spark.sparkContext.defaultParallelism, 1)
                per_task = max(1, -(-self._posting_file_count // cores))
                conf.set("spark.sql.files.openCostInBytes",
                         str(max(4 << 20, self._max_partition_bytes // per_task)))
            try:
                return self._merge_driver(partial, len(compiled), k, offset)
            finally:
                conf.set("spark.sql.adaptive.enabled", prev)
                conf.set("spark.sql.files.openCostInBytes", prev_cost)
        return self._merge_window(partial, k, offset)

    def _partial_frame(self, plan: dict, postings: DataFrame) -> DataFrame:
        """Per-partition scoring frame (query_id, doc_ord, score).

        Scan-aligned (the common case): one posting file per doc
        partition means every scan task already holds complete parts —
        group per part INSIDE the task and score, ZERO shuffle. On a
        1000-executor cluster this removes the per-query all-to-all;
        locally it removes the shuffle stage barrier. Falls back to the
        groupBy exchange when a part's postings could split across scan
        tasks (oversized files — see _compute_scan_aligned)."""
        if self._scan_aligned:
            def run_map(batches):
                chunks = [pdf for pdf in batches if len(pdf)]
                if not chunks:
                    return
                pdf = (pd.concat(chunks, ignore_index=True)
                       if len(chunks) > 1 else chunks[0])
                for _, g in pdf.groupby("part_id", sort=True):
                    yield _score_partition(plan, g)

            return postings.mapInPandas(run_map, RESULT_SCHEMA)

        def run(pdf):
            return _score_partition(plan, pdf)

        return postings.groupBy("part_id").applyInPandas(run, RESULT_SCHEMA)

    def _score_local(self, plan: dict, fields, terms,
                     needs_pos: bool) -> pd.DataFrame:
        """Driver-local scoring: the SAME per-part kernel
        (_score_partition) over a pyarrow read of the query terms'
        posting chunks (kind-partition + field/term row-group pruned),
        sharing the process-level norm/tombstone caches the executors
        use. Bitwise-identical to the distributed path by construction —
        pinned by tests/test_search_parity.py::test_local_exec_ab_parity."""
        cols = ["part_id", "field", "term", "df_part", "cf_part",
                "n_local", "doc_bytes", "tf_bytes", "meta_bytes"]
        if needs_pos:
            cols.append("pos_bytes")
        pdf = _local_postings(plan["store_dirs"], plan.get("store_epoch", ""),
                              fields, terms, cols)
        outs = [_score_partition(plan, g)
                for _, g in pdf.groupby("part_id", sort=True)]
        if not outs:
            return _score_partition(plan, pdf.iloc[0:0])
        return pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]

    # hit sets up to this size materialize doc_meta via a driver-side
    # pyarrow pruned read (metadata-plane, no Spark job); larger sets go
    # through the distributed join
    _META_PYARROW_MAX = 512

    def _merge_driver(self, partial: DataFrame, nq: int, k: int, offset: int) -> DataFrame:
        """Global top-k merge on the driver: ONE Spark job collects the
        per-partition candidates (≤ parts×limit×queries tiny rows), numpy
        resolves the global order, and the hit rows materialize their
        stored fields from a part-pruned doc_meta read — driver-side
        pyarrow for small hit sets (the doc-store-lookup analog: a
        metadata-plane fetch, not a cluster job), a broadcast join above
        the size guard."""
        # Arrow collect + ONE global lexsort replaces the per-query python
        # heap loop: (query asc, score desc, ord asc) ordering, then each
        # query's [offset, offset+k) slice — identical ranks/tie-breaks,
        # ~10 ms at 80k rows where the Row loop took ~1 s
        return self._merge_driver_pdf(partial.toPandas(), k, offset)

    def _merge_driver_pdf(self, pdf: pd.DataFrame, k: int,
                          offset: int) -> DataFrame:
        """Global top-k merge over a driver-resident partial frame —
        shared by the collected distributed path and the driver-local
        executor."""
        if not len(pdf):
            return self._empty_result()
        qa = pdf["query_id"].to_numpy()
        oa = pdf["doc_ord"].to_numpy()
        sa = pdf["score"].to_numpy()
        order = np.lexsort((oa, -sa.astype(np.float64), qa))
        qs = qa[order]
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        ends = np.r_[starts[1:], qs.size]
        hits = []  # (query_id, rank, doc_ord, score) — (query, rank) asc
        for st, en in zip(starts, ends):
            sel = order[st + offset:min(en, st + offset + k)]
            qi = int(qs[st])
            for rank, i in enumerate(sel, start=1 + offset):
                hits.append((qi, rank, int(oa[i]), float(sa[i])))
        if not hits:
            return self._empty_result()
        # gate on DISTINCT docs, not hit rows: a 64-query batch's hits
        # overlap heavily (640 rows ≈ 150 docs), and the pyarrow read cost
        # scales with docs while the VALUES result handles any row count
        uniq = {h[2] for h in hits}
        if len(uniq) <= self._META_PYARROW_MAX:
            meta = self._doc_meta_pyarrow(uniq)
            out = [(qid, rank, *meta[ord_], float(np.float32(score)), ord_)
                   for qid, rank, ord_, score in sorted(hits)]
            return self._local_hits_df(out)
        hits_df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(hits, 1),
            "query_id long, rank int, doc_ord long, score float")
        parts = sorted({h[2] >> ORD_SHIFT for h in hits})
        ords_all = [h[2] for h in hits]
        dm = self._doc_meta_base.filter(
            F.col("part_id").isin(parts) & F.col("doc_ord").isin(ords_all))
        return (dm.join(F.broadcast(hits_df), "doc_ord")
                .select("query_id", "rank", "doc_id", "url", "domain", "title",
                        "description", "tags",
                        F.col("score").cast("float").alias("score"),
                        "doc_ord")
                .orderBy("query_id", "rank"))

    def _doc_meta_pyarrow(self, ords: set[int]) -> dict[int, tuple]:
        """doc_ord → (doc_id, url, domain, title, description, tags) via
        the pruned pyarrow kind=3 read (_doc_meta_read)."""
        cols = ["doc_id", "url", "domain", "title", "description", "tags"]
        tbl, doc = self._doc_meta_read(
            np.fromiter(ords, np.int64, len(ords)),
            ["part_id", "local_ord", *cols])
        return dict(zip(doc.tolist(),
                        zip(*(tbl.column(c).to_pylist() for c in cols))))

    def _doc_meta_read(self, ords: np.ndarray, cols: list):
        """(pyarrow table of ``cols``, doc_ord array) for the kind=3 rows
        of exactly ``ords`` — a driver-side read of the store files
        pruned to the ords' partitions (row-group stats prune on
        part_id/local_ord inside each part file), then the exact doc_ord
        set. ``cols`` must include part_id and local_ord."""
        import pyarrow as pa
        import pyarrow.dataset as pads

        flt = ((pads.field("kind") == KIND_DOCMETA)
               & pads.field("part_id").isin(
                   np.unique(ords >> ORD_SHIFT).tolist())
               & pads.field("local_ord").isin(
                   np.unique(ords & ((1 << ORD_SHIFT) - 1)).tolist()))
        tbl = pa.concat_tables(
            [_store_dataset(d, self._store_epoch).to_table(columns=cols,
                                                           filter=flt)
             for d in self._store_dirs], promote_options="default")
        doc = ((tbl.column("part_id").to_numpy().astype(np.int64)
                << ORD_SHIFT)
               + tbl.column("local_ord").to_numpy().astype(np.int64))
        keep = np.isin(doc, ords)
        return tbl.filter(keep), doc[keep]

    def _merge_window(self, partial: DataFrame, k: int, offset: int) -> DataFrame:
        """Distributed global top-k (the scalable fallback): identical
        (score desc, doc_ord asc) ordering via a rank window."""
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_ord"))
        topk = (partial.withColumn("rank", F.row_number().over(w))
                .filter((F.col("rank") > offset) & (F.col("rank") <= k + offset))
                .localCheckpoint(eager=True))  # scoring runs exactly once
        hit_parts = [int(r["part_id"]) for r in
                     topk.select((F.col("doc_ord") / F.lit(1 << ORD_SHIFT))
                                 .cast("long").alias("part_id"))
                         .distinct().collect()]
        dm = (self._doc_meta_base.filter(F.col("part_id").isin(hit_parts))
              if hit_parts else self._doc_meta_base)
        return (topk.join(dm.select("doc_ord", "doc_id", "url", "domain",
                                    "title", "description", "tags"),
                          "doc_ord", "left")
                .select("query_id", "rank", "doc_id", "url", "domain", "title",
                        "description", "tags",
                        F.col("score").cast("float").alias("score"),
                        "doc_ord")
                .orderBy("query_id", "rank"))

    def more_like_this(self, doc_id: str, documents: DataFrame, k: int = 5,
                       max_terms: int = 10) -> DataFrame:
        """Find documents similar to ``doc_id``: pick its ``max_terms``
        highest tf·idf content terms (idf from the index's global stats)
        and run them as a Should-group BM25 query, excluding the seed doc.
        ``documents`` is the stored row store (source table)."""
        from collections import Counter

        from ..analysis.analyzer import tokenize_en
        from .scoring import idf as idf_fn

        from ..sources import filter_by_doc_ids

        # bucket-pruned when ``documents`` is a write_row_store layout
        # (1/256 partition read instead of a full scan at scale)
        row = (filter_by_doc_ids(documents, [doc_id])
               .select("content").collect())
        if not row:
            return self._empty_result().drop("query_id")
        tf = Counter(t for _, t in tokenize_en(row[0]["content"] or ""))
        dfs = self._term_dfs({("content", t) for t in tf})
        n = self.manifest.num_docs
        ranked = sorted(
            tf, key=lambda t: (-(tf[t] * float(idf_fn(dfs.get(("content", t), 0), n))), t))
        terms = ranked[:max_terms]
        if not terms:
            return self._empty_result().drop("query_id")
        # terms are ALREADY analyzed — build the clause tree directly
        # (re-analysis would double-stem)
        from .compiler import CompiledQuery as CQ
        from .compiler import _term

        cq = CQ(should_group=[_term("content", t, 1.0) for t in terms])
        hits = self._execute_compiled([cq], k=k + 1).drop("query_id")
        return (hits.filter(F.col("doc_id") != doc_id)
                .orderBy("rank").limit(k))

    def explain(self, query, url: str, filters=(), boosts=()) -> dict:
        """Per-clause BM25 score breakdown for one document — the tantivy
        ``Query::explain``/``Explanation`` analog [tantivy-0.19.2 public
        API], and this rebuild's rank-identity debugging tool. ``query``
        takes any _compile_arg shape (a string, or a search_many-style
        dict incl. ``parsed``/pattern shapes with a ``combiner``); the
        reported ``score`` applies the query's combiner with the same
        float32 op order as the scorer. Returns::

            {"url", "found", "matches", "score", "clauses": [
               {"role", "kind", "field", "terms", "boost", "weight",
                "df", "tf", "fieldnorm_id", "fieldnorm", "contribution",
                "matched"}, ...]}

        ``score`` is the float32 clause-order sum of matching scoring
        clauses — bitwise the score ``search`` would return for this doc.
        ``matches`` applies the full boolean gate (Must-wrapped Should
        group, musts, range musts, must_nots, score>0). Driver-side by
        construction: one doc-address lookup + one tiny posting collect
        (the involved (field, term) rows of ONE part) + a part-pruned
        pyarrow norms read — never a corpus scan."""
        from ..index.fieldnorm import id_to_fieldnorm

        cq = self._compile_arg(query, filters, boosts)
        keys = cq.term_keys()
        m = self.manifest
        out: dict = {"url": url, "found": False, "matches": False,
                     "score": 0.0, "clauses": []}
        if not keys:
            return out
        addr = self.document_query(urls=[url]).select("doc_ord").collect()
        if not addr:
            return out
        out["found"] = True
        doc_ord = int(addr[0]["doc_ord"])
        part, lo = doc_ord >> ORD_SHIFT, doc_ord & ((1 << ORD_SHIFT) - 1)
        out["doc_ord"] = doc_ord

        dfs = self._term_dfs(keys)
        specs = _clause_specs(cq, dfs, m.num_docs)
        fields = sorted({f for f, _ in keys})
        terms = sorted({t for _, t in keys})
        rows = (self._postings_base
                .filter((F.col("part_id") == part)
                        & F.col("field").isin(fields)
                        & F.col("term").isin(terms))
                .collect())
        payload = {(r["field"], r["term"]): r for r in rows}
        norm_arrays, fast_arrays = _load_part_arrays(
            tuple(f"{self.index_dir}/{g['prefix']}/store" for g in self.gens),
            part, f"{m.created_utc}#{getattr(m, 'commit_seq', 0)}")
        caches = {f: norm_cache(m.field_totals.get(f, 0) / m.num_docs
                                if m.num_docs else 1.0) for f in fields}

        def doc_tf(field, term):
            r = payload.get((field, term))
            if r is None:
                return None, None
            docs, tfs = decode_postings(r["doc_bytes"], r["tf_bytes"])
            i = int(np.searchsorted(docs, lo))
            if i >= docs.size or int(docs[i]) != lo:
                return None, None
            return int(tfs[i]), (r, docs, tfs, i)

        def phrase_tf(spec):
            recs = [doc_tf(spec["field"], t) for t in spec["terms"]]
            if any(tf is None for tf, _ in recs):
                return None
            plists = [decode_positions_selected(
                          ctx[0]["pos_bytes"], ctx[2], np.array([ctx[3]]))[0]
                      for _, ctx in recs]
            n = sloppy_phrase_count(plists, list(spec["positions"]),
                                    spec["slop"])
            return n if n > 0 else None

        must_ok, must_not_hit = True, False
        should_matched_n = 0
        group_hit: dict[int, bool] = {}
        acc = np.float32(0.0)
        # dismax bookkeeping (combiner, compiler.py): shoulds come first
        # in spec order, so core = m + tie·(s − m) then the non-should
        # scoring contributions add in order — the same float32 op
        # sequence as _score_partition's dismax branch
        sh_sum, sh_max = np.float32(0.0), np.float32(0.0)
        rest_cs: list = []
        for spec in specs:
            field = spec["field"]
            entry = {"role": spec["role"], "kind": spec["kind"],
                     "field": field, "terms": spec["terms"],
                     "boost": spec["boost"], "weight": spec["weight"],
                     "df": [dfs.get((field, t), 0) for t in spec["terms"]],
                     "tf": 0, "fieldnorm_id": None, "fieldnorm": None,
                     "contribution": 0.0, "matched": False}
            if spec["kind"] == "range":
                arr = fast_arrays.get(field)
                v = int(arr[lo]) if arr is not None and lo < arr.size else -1
                ok = (v >= 0
                      and (spec["ge"] is None or v >= spec["ge"])
                      and (spec["le"] is None or v <= spec["le"]))
                entry["matched"] = bool(ok)
                if not ok:
                    must_ok = False
                out["clauses"].append(entry)
                continue
            tf = (doc_tf(field, spec["terms"][0])[0]
                  if spec["kind"] == "term" else phrase_tf(spec))
            if tf is not None:
                entry["matched"] = True
                entry["tf"] = int(tf)
                norms = norm_arrays.get(field)
                nid = int(norms[lo]) if norms is not None else 0
                entry["fieldnorm_id"] = nid
                entry["fieldnorm"] = int(id_to_fieldnorm(
                    np.array([nid], dtype=np.uint8))[0])
                if spec["scoring"]:
                    c = score_postings(np.array([tf], dtype=np.int64),
                                       np.array([nid], dtype=np.uint8),
                                       spec["weight"], caches[field])[0]
                    entry["contribution"] = float(c)
                    acc = np.float32(acc + np.float32(c))
                    if spec["role"] == "should":
                        sh_sum = np.float32(sh_sum + np.float32(c))
                        if np.float32(c) > sh_max:
                            sh_max = np.float32(c)
                    else:
                        rest_cs.append(np.float32(c))
            if spec["role"] == "should":
                should_matched_n += int(entry["matched"])
            elif spec["role"] == "extra_group":
                group_hit[spec["group"]] = (group_hit.get(spec["group"], False)
                                            or entry["matched"])
            elif spec["role"] == "must" and not entry["matched"]:
                must_ok = False
            elif spec["role"] == "must_not" and entry["matched"]:
                must_not_hit = True
            out["clauses"].append(entry)

        has_should = any(s["role"] == "should" for s in specs)
        if getattr(cq, "combiner", "sum") == "dismax":
            tie = np.float32(getattr(cq, "tie_breaker", 0.0))
            acc = sh_max + tie * (sh_sum - sh_max)
            for c in rest_cs:
                acc = np.float32(acc + c)
        out["score"] = float(acc)
        # Lucene minimumNumberShouldMatch gate: ≥ max(1, msm) DISTINCT
        # should clauses must match (the scorer's candidate rule)
        msm = max(1, int(getattr(cq, "min_should_match", 0)))
        out["should_matched"] = should_matched_n
        out["matches"] = bool(
            (should_matched_n >= msm or not has_should)
            and all(group_hit.values())
            and must_ok and not must_not_hit and float(acc) > 0.0)
        return out

    def status(self) -> dict:
        """``app_status`` RPC analog (spyglass-rpc/src/lib.rs:57-58,
        api/handler/mod.rs:190-200 — the reference returns num_docs from
        the index reader): manifest-level engine status, zero Spark jobs.
        Tombstone counts are manifest metadata; live-doc subtraction
        would need a side-table scan and is what library_stats does."""
        m = self.manifest
        return {
            "num_docs": m.num_docs,
            "index_dir": self.index_dir,
            "generations": len(self.gens),
            "num_partitions": m.num_partitions,
            "commit_seq": getattr(m, "commit_seq", 0),
            "created_utc": m.created_utc,
            "field_totals": dict(m.field_totals),
            "tombstoned_ids": len(m.tombstones),
            "tombstone_dirs": len(m.tombstone_dirs),
        }

    def is_document_indexed(self, url: str) -> bool:
        """index.is_document_indexed RPC analog (spyglass-rpc/src/lib.rs:43-44):
        a live (non-tombstoned) doc with this exact url exists."""
        dm = self._doc_meta_base.filter(F.col("url") == url)
        return not self._anti_tombstone(dm).isEmpty()

    def get_documents(self, doc_ids: list[str]) -> DataFrame:
        """Doc-store get-by-id (client/local.rs:71-95 analog): fetch the
        stored fields for exact doc ids. Tombstoned ids are excluded.

        Scale path: the untokenized ``id`` field is indexed, so the
        lookup is a term fetch on the TERM-SORTED postings store (row
        groups prune on the term min/max stats) resolving to exact
        (part_id, local_ord) addresses; doc_meta is then read with both
        pushed down. A plain ``doc_id IN (...)`` over doc_meta cannot
        prune — doc_meta is url-sorted, so UUID stats span every row
        group."""
        ids = sorted({str(d) for d in doc_ids})
        if not ids:
            return self._doc_meta_base.filter(F.lit(False)).select(
                "doc_id", "url", "domain", "title", "description",
                "tags", "doc_ord")
        post = (self._postings_base
                .filter((F.col("field") == "id") & F.col("term").isin(ids))
                .select("part_id", "doc_bytes").collect())
        # flat IN-lists (part_id for pruning, packed doc_ord for the exact
        # addresses) instead of an OR-reduced per-ordinal expression tree —
        # a large id list would otherwise build a Catalyst tree deep enough
        # to risk analyzer stack overflow
        addrs, parts = [], set()
        for r in post:
            ords, _ = decode_postings(r["doc_bytes"], b"")
            p = int(r["part_id"])
            parts.add(p)
            for o in ords:
                addrs.append((p << ORD_SHIFT) + int(o))
        if not addrs:
            return self._doc_meta_base.filter(F.lit(False)).select(
                "doc_id", "url", "domain", "title", "description",
                "tags", "doc_ord")
        dm = self._doc_meta_base.filter(
            F.col("part_id").isin(sorted(parts)) & F.col("doc_ord").isin(addrs))
        # doc_id recheck is belt-and-braces (ordinal addresses are exact)
        dm = self._anti_tombstone(dm.filter(F.col("doc_id").isin(ids)))
        return dm.select("doc_id", "url", "domain", "title", "description",
                         "tags", "doc_ord")

    def document_query(self, urls=(), ids=(), tags=(), exclude_tags=()) -> DataFrame:
        """Unscored document-set query (build_document_query +
        DocSetCollector, query.rs:184-231, client/local.rs:234-241):
        Must(any urls) AND Must(any ids) AND each tag AND NOT exclude_tags.
        Returns the full match set (no top-k, no scores)."""
        cond = F.lit(True)
        if urls:
            cond = cond & F.col("url").isin(list(urls))
        if ids:
            cond = cond & F.col("doc_id").isin(list(ids))
        out = self._doc_meta_base.filter(cond)

        def tag_ords(t):
            return self._posting_ords([{("tags", str(int(t)))}]) \
                       .select("doc_ord")

        for t in tags:
            out = out.join(tag_ords(t), "doc_ord", "leftsemi")
        for t in exclude_tags:
            out = out.join(tag_ords(t), "doc_ord", "leftanti")
        out = self._anti_tombstone(out)
        return out.select("doc_id", "url", "domain", "title", "doc_ord")

    def _anti_tombstone(self, dm: DataFrame) -> DataFrame:
        """Remove tombstoned docs from a doc_meta-shaped frame — side
        tables anti-joined cluster-side, manifest doc_id list filtered."""
        tomb = tombstone_view(self.spark, self.index_dir, self.manifest)
        if tomb is not None:
            dm = dm.join(tomb.select("doc_ord"), "doc_ord", "leftanti")
        if self.manifest.tombstones:
            dm = dm.filter(~F.col("doc_id").isin(list(self.manifest.tombstones)))
        return dm

    def _posting_ords(self, clause_pairs: list) -> DataFrame:
        """(doc_ord, cid) rows: every doc_ord in the postings of clause
        ``cid``'s (field, term) pairs — the one posting decoder of the
        unscored match-set path. Arrow-batched and term-pruned at the
        parquet scan; the IN-list scan may over-select the (field ×
        term) cross product, so the exact pair check runs inside the
        decode. A pair shared by several clauses emits one row per
        clause."""
        by_pair: dict[tuple, list[int]] = {}
        for ci, pairs in enumerate(clause_pairs):
            for p in pairs:
                by_pair.setdefault(p, []).append(ci)
        fields = sorted({f for f, _ in by_pair})
        terms = sorted({t for _, t in by_pair})
        rows = (self._postings_base
                .filter(F.col("field").isin(fields)
                        & F.col("term").isin(terms))
                .select("part_id", "field", "term", "doc_bytes", "tf_bytes"))

        def decode(batches):
            for pdf in batches:
                yield _pair_ords(pdf, by_pair)

        return rows.mapInPandas(decode, "doc_ord long, cid long")

    def score_matches(self, query: str, filters=(), boosts=(),
                      min_score: float | None = None,
                      combiner: str = "sum",
                      tie_breaker: float = 0.0) -> DataFrame:
        """FULL scored match set of a query as a DISTRIBUTED frame
        (url, score float32, doc_ord) — the relevance-weighted companion
        of count_matches / export_matches: every live doc with score >
        0, no top-k truncation, never collected. Scoring is the same
        float32 clause-order kernel as search, forced exhaustive (with
        no k there is no top-k threshold for WAND to prune against), so
        a doc's score here is bitwise equal to its search score at any
        rank. ``min_score`` pushes a relevance threshold into the frame
        — the BM25-relevance corpus-filtering primitive.

        Scale shape: per-part scoring emits O(matches) tiny rows (no
        payload), and the url attachment is one join against the
        column-pruned doc_meta metadata — both sides O(matches) /
        O(docs·16B), never the content."""
        arg = dict(query) if isinstance(query, dict) else {"query": query}
        arg.setdefault("filters", filters)
        arg.setdefault("boosts", boosts)
        arg.setdefault("combiner", combiner)
        arg.setdefault("tie_breaker", tie_breaker)
        cq, _ = self._compile_one(arg)
        partial = self._scoring_partial([cq], limit=None, algo="exhaustive")
        if partial is None:
            return self.spark.createDataFrame(
                [], "url string, score float, doc_ord bigint")
        scored = partial.drop("query_id")
        if min_score is not None:
            scored = scored.filter(F.col("score") >= float(min_score))
        dm = self._doc_meta_base.select("doc_ord", "url")
        return scored.join(dm, "doc_ord").select(
            "url", F.col("score").cast("float").alias("score"), "doc_ord")

    def export_scored(self, query: str, documents: DataFrame,
                      out_path: str, filters=(), boosts=(),
                      min_score: float | None = None,
                      columns=None, partition_by=(),
                      num_files: int | None = None,
                      broadcast_limit: int = 4_000_000,
                      mode: str = "overwrite", combiner: str = "sum",
                      tie_breaker: float = 0.0) -> dict:
        """``export_matches`` with relevance attached: materialize the
        FULL scored match set as a parquet dataset of system-of-record
        rows + a float32 ``score`` column — "every doc matching Q with
        BM25 score ≥ τ, scored" (relevance-weighted training-corpus
        construction). Same scale shape as export_matches: the (url,
        score) pairs are ONE small frame, persisted across the count and
        the join; below ``broadcast_limit`` they broadcast so the
        (possibly 100 TB) documents side joins map-side with its scan
        pruning intact, above it a shuffle-hash join on url.

        Returns {path, matched_urls, rows_exported, broadcast}."""
        from pyspark import StorageLevel
        from pyspark.sql import Observation

        scored = self.score_matches(query, filters, boosts,
                                    min_score=min_score, combiner=combiner,
                                    tie_breaker=tie_breaker) \
            .select("url", "score").persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_urls = scored.count()
            bcast = n_urls <= broadcast_limit
            right = F.broadcast(scored) if bcast else scored
            out = documents.join(right, "url")  # inner: match set only
            if columns:
                cols = list(columns)
                if "score" not in cols:
                    cols.append("score")
                out = out.select(*cols)
            if num_files:
                out = out.repartition(num_files)
            obs = Observation()
            out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
            writer = out.write.mode(mode)
            if partition_by:
                writer = writer.partitionBy(*list(partition_by))
            writer.parquet(out_path)
        finally:
            scored.unpersist()
        return {"path": out_path, "matched_urls": int(n_urls),
                "rows_exported": int(obs.get["rows"]), "broadcast": bcast}

    def export_matches(self, query: str, documents: DataFrame,
                       out_path: str, filters=(), boosts=(),
                       columns=None, partition_by=(),
                       num_files: int | None = None,
                       broadcast_limit: int = 4_000_000,
                       mode: str = "overwrite") -> dict:
        """Materialize the FULL match set of a query as a parquet
        dataset — the training-data extraction sink ("give me the
        sub-corpus matching this query as a dataset"). ``documents`` is
        the system-of-record row store (SURVEY §1.1); matching is by
        url against the index's live match set (same exact
        posting-union ∩ Musts − MustNots machinery as the unscored
        aggregations, tombstones excluded), so the export carries full
        original content, not the index's stored projection.

        Scale shape: the match-set urls are ONE distinct column. Below
        ``broadcast_limit`` they broadcast, so the (possibly 100 TB)
        documents side is a map-side leftsemi — no shuffle of the big
        side at all; above it, a shuffle-hash leftsemi on url. Filters
        and column pruning on ``documents`` still reach its scan
        (leftsemi preserves pushdown). ``columns`` prunes the exported
        schema; ``partition_by`` lays out the dataset (e.g. by domain)
        for downstream partition pruning; ``num_files`` repartitions
        before the write to bound file count/size.

        Returns {path, matched_urls, rows_exported, broadcast}."""
        from pyspark import StorageLevel

        dm = self._match_frame(query, filters, boosts, "export_matches")
        # persist the (small) url set: the count and the join otherwise
        # each re-run the whole posting-union ∩ Musts − tombstones pass
        urls = dm.select("url").distinct().persist(
            StorageLevel.MEMORY_AND_DISK)
        try:
            n_urls = urls.count()
            out = self._export_frame(urls, documents, columns,
                                     n_urls <= broadcast_limit)
            if num_files:
                out = out.repartition(num_files)
            # row count via a JVM-side Observation on the write action
            # itself — no second pass, no Python in the path
            from pyspark.sql import Observation

            obs = Observation()
            out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
            writer = out.write.mode(mode)
            if partition_by:
                writer = writer.partitionBy(*list(partition_by))
            writer.parquet(out_path)
        finally:
            urls.unpersist()
        return {"path": out_path, "matched_urls": int(n_urls),
                "rows_exported": int(obs.get["rows"]),
                "broadcast": n_urls <= broadcast_limit}

    @staticmethod
    def _export_frame(urls: DataFrame, documents: DataFrame,
                      columns, broadcast: bool) -> DataFrame:
        """The export join plan, exposed for the PLANS.md audit: a
        leftsemi keyed on url with the match-set side broadcast (map-
        side, zero shuffle of the documents table) or shuffled (the
        above-``broadcast_limit`` degradation)."""
        right = F.broadcast(urls) if broadcast else urls
        out = documents.join(right, "url", "leftsemi")
        return out.select(*columns) if columns else out

    def _match_frame(self, query, filters, boosts, caller: str) -> DataFrame:
        """Match frame of one public aggregation call: the query compiled
        like ``search`` (see _compile_arg), then ``_match_doc_meta``."""
        return self._match_doc_meta(
            self._compile_arg(query, filters, boosts), caller=caller)

    def _background(self) -> dict:
        """significant_terms' background: the posting store, the
        term-stats store and the index-wide document count."""
        return {"postings": self._postings_base,
                "term_stats": self.spark.read.parquet(
                    *self._paths("term_stats")),
                "num_docs": self.manifest.num_docs}

    def _match_doc_meta(self, cq: CompiledQuery,
                        caller: str = "aggregation") -> DataFrame:
        """Live doc-meta rows of a query's FULL match set — the match
        frame every function in ``aggs`` takes. Exactness without
        positions: a phrase match is a subset of each of its terms'
        postings, so Must(Should-group) = UNION of the should TERM
        postings ∩ Musts − MustNots, under the phrase rules of
        ``compiler.term_match_pairs``. The score>0 post-filter
        (local.rs:138) is implied when every Should clause scores; a
        zero-boost should breaks the implication, so that shape raises
        rather than miscounting.

        ``min_should_match`` ≥ 2 (Lucene setMinimumNumberShouldMatch)
        replaces the union with a per-doc DISTINCT-matching-clause count
        gate — exact for term clauses only (a scored search /
        score_matches handles phrase Shoulds under it exactly)."""
        if not cq.should_group:
            raise ValueError(f"{caller} needs at least one Should clause")
        if not all(c.scoring for c in cq.should_group):
            raise ValueError(
                f"{caller} is exact only when every Should clause "
                "scores (score>0 gate); zero-boost shoulds need a scored "
                "search instead")
        msm = int(getattr(cq, "min_should_match", 0))
        union_pairs = term_match_pairs(cq, msm, caller)
        # the clauses' (field, term) pair sets: Should side (the union,
        # or one set per clause under msm ≥ 2), then the intersected
        # (extra OR-groups, Musts) and the subtracted (MustNots) sides
        should = ([{(c.field, t) for t in c.terms} for c in cq.should_group]
                  if msm > 1 else [union_pairs])
        musts = ([{(c.field, t) for c in grp for t in c.terms}
                  for grp in cq.extra_groups]
                 + [{(c.field, t) for t in c.terms} for c in cq.musts])
        nots = [{(c.field, t) for t in c.terms} for c in cq.must_nots]
        if self._match_local_ok(should, musts + nots):
            return self._doc_meta_local(
                self._match_ords_local(msm, should, musts, nots),
                getattr(cq, "range_musts", ()))

        def any_of(pairs):  # DISTINCT doc_ords matching any pair
            return self._posting_ords([pairs]).select("doc_ord").distinct()

        if msm > 1:
            # one partial→final distinct-clause count (doc-local keys)
            match = (self._posting_ords(should)
                     .groupBy("doc_ord")
                     .agg(F.countDistinct("cid").alias("_nc"))
                     .filter(F.col("_nc") >= msm)
                     .select("doc_ord"))
        else:
            match = any_of(union_pairs)
        for pairs in musts:
            match = match.join(any_of(pairs), "doc_ord", "leftsemi")
        for pairs in nots:
            match = match.join(any_of(pairs), "doc_ord", "leftanti")
        dm = self._doc_meta_base.join(match, "doc_ord", "leftsemi")
        for field, ge, le in getattr(cq, "range_musts", ()):
            # doc_meta date columns hold the same µs int64 the fast
            # fields encode; NULL (missing) never matches, like -1 there
            if ge is not None:
                dm = dm.filter(F.col(field) >= ge)
            if le is not None:
                dm = dm.filter(F.col(field) <= le)
        return self._anti_tombstone(dm)

    def _match_local_ok(self, should: list, others: list) -> bool:
        """Gate of the driver-local match frame, the _execute_compiled
        gates on the match-set path: LOCAL_EXEC_MODE (never | always |
        auto), total parts ≤ LOCAL_EXEC_MAX_PARTS, Σ global df over the
        clause pairs ≤ LOCAL_EXEC_MAX_ROWS (the driver decode volume),
        the match-set bound min(num_docs, Σ df of the Should union) ≤
        MERGE_COLLECT_MAX (the frame crosses to the JVM as one Arrow
        LocalRelation), and no tombstone set too large to ship
        (tombstone_dirs — those stay executor-side reads)."""
        if LOCAL_EXEC_MODE == "never":
            return False
        if sum(g["num_partitions"] for g in self.gens) > LOCAL_EXEC_MAX_PARTS:
            return False
        if LOCAL_EXEC_MODE != "always":
            union = set().union(*should)
            dfs = self._term_dfs(union.union(*others))
            if sum(dfs.values()) > LOCAL_EXEC_MAX_ROWS:
                return False
            if min(self.manifest.num_docs,
                   sum(dfs[p] for p in union)) > MERGE_COLLECT_MAX:
                return False
        return not self._tombstone_plan()["tombstone_dirs"]

    def _match_ords_local(self, msm: int, should: list, musts: list,
                          nots: list) -> np.ndarray:
        """The live match set (sorted doc_ords) computed on the driver:
        the clause pairs' posting chunks through the driver-local
        posting read and the one ord decoder (_pair_ords), then numpy
        set operations in _match_doc_meta's order — Should union (or
        the msm distinct-clause count), ∩ each extra group and Must,
        − each MustNot, − the tombstones."""
        clauses = should + musts + nots
        by_pair: dict[tuple, list[int]] = {}
        for ci, pairs in enumerate(clauses):
            for p in pairs:
                by_pair.setdefault(p, []).append(ci)
        rows = _pair_ords(_local_postings(
            self._store_dirs, self._store_epoch,
            sorted({f for f, _ in by_pair}), sorted({t for _, t in by_pair}),
            ["part_id", "field", "term", "doc_bytes", "tf_bytes"]), by_pair)
        doc = rows["doc_ord"].to_numpy()
        cid = rows["cid"].to_numpy()
        per = [np.unique(doc[cid == ci]) for ci in range(len(clauses))]
        ns, nm = len(should), len(musts)
        if msm > 1:
            docs, nc = np.unique(np.concatenate(per[:ns]),
                                 return_counts=True)
            match = docs[nc >= msm]
        else:
            match = per[0]
        for a in per[ns:ns + nm]:
            match = np.intersect1d(match, a, assume_unique=True)
        for a in per[ns + nm:]:
            match = np.setdiff1d(match, a, assume_unique=True)
        return np.setdiff1d(match, self._tombstone_plan()["tombstone_ords"])

    def _doc_meta_local(self, ords: np.ndarray, range_musts) -> DataFrame:
        """The kind=3 rows of ``ords`` (_doc_meta_read) with the
        date-range Musts applied (NULL never matches), as an Arrow
        LocalRelation with the distributed frame's schema (doc_ord, then
        ``_doc_meta_base``'s columns), in doc_ord order — the match frame
        without a Spark job."""
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.types import StructType

        base = self._doc_meta_base
        # the distributed frame's column order: its doc_ord join key first
        cols = [c for c in base.columns if c != "doc_ord"]
        if not ords.size:  # optimized to an empty LocalRelation
            return base.select("doc_ord", *cols).limit(0)
        tbl, doc = self._doc_meta_read(ords, cols)
        for field, ge, le in range_musts:
            for bound, cmp in ((ge, pc.greater_equal), (le, pc.less_equal)):
                if bound is not None:
                    keep = pc.fill_null(cmp(tbl.column(field), bound), False)
                    tbl = tbl.filter(keep)
                    doc = doc[keep.to_numpy(zero_copy_only=False)]
        order = np.argsort(doc, kind="stable")
        tbl = tbl.take(order).add_column(0, "doc_ord",
                                         pa.array(doc[order], pa.int64()))
        return self.spark.createDataFrame(tbl, StructType(
            [base.schema["doc_ord"]] + [base.schema[c] for c in cols]))

    def significant_terms(self, query: str, filters=(), boosts=(),
                          field: str = "content", size: int = 10,
                          min_doc_count: int = 3,
                          fg_limit: int = 2_000_000,
                          sample: int | None = None) -> DataFrame:
        """:func:`aggs.significant_terms` over the match set of
        ``query``, against the whole index as background."""
        return aggs.significant_terms(
            self._match_frame(query, filters, boosts, "significant_terms"),
            **self._background(),
            field=field, size=size, min_doc_count=min_doc_count,
            fg_limit=fg_limit, sample=sample)

    def search_sorted(self, query: str, filters=(), boosts=(),
                      col: str = "lastmodified", k: int = 5,
                      offset: int = 0, asc: bool = False,
                      after=None) -> DataFrame:
        """Order-by-fast-field top-k — tantivy's
        TopDocs::order_by_u64_field collector (the reference uses only
        the score-ordered TopDocs, local.rs:120; this completes the
        collector surface): the k matching docs ordered by a numeric
        doc-meta column instead of BM25 score, url-asc tie-break (total
        order), offset applied after the sort, docs missing the field
        skipped. Output (rank, url, domain, title, <col>).

        ``after`` is the deep-paging cursor, mirroring the BM25
        search_after contract: the (col_value, url) of the previous
        page's last hit; the page is the top-k STRICTLY after it in
        the (col, url) total order, ranks restarting at 1 (the
        absolute position is unknowable in O(k)). Mutually exclusive
        with ``offset`` — the cursor replaces it: an offset page costs
        a parts×(offset+k) merge, a cursor page costs parts×k at ANY
        depth, and the strict (col, url) predicate is a plain scan
        filter Catalyst pushes below the sort. Pages concatenate to
        exactly the one-shot order (total order ⇒ no hit is skipped or
        repeated across a tie boundary).

        Plan shape: the match-set semijoin feeds ONE global
        TakeOrderedAndProject of limit offset+k — each partition keeps
        its local top-(offset+k), the driver merges; the rank window
        then runs over that ≤ offset+k-row frame, so no stage ever
        sorts more than the clamped head."""
        if k <= 0:
            raise ValueError("k must be positive")
        if after is not None and offset:
            raise ValueError("after (cursor) and offset are mutually "
                             "exclusive — the cursor replaces the offset")
        dm = self._match_frame(query, filters, boosts, "search_sorted")
        dm = dm.filter(F.col(col).isNotNull())
        if after is not None:
            av, au = after
            c, v = F.col(col), F.lit(int(av)).cast("long")
            beyond = c > v if asc else c < v
            dm = dm.filter(beyond | ((c == v) & (F.col("url") > F.lit(au))))
        order = [F.asc(col) if asc else F.desc(col), F.asc("url")]
        top = (dm.select("url", "domain", "title", col)
                 .orderBy(*order).limit(int(offset) + int(k)))
        w = Window.orderBy(*order)
        return (top.withColumn("rank", F.row_number().over(w))
                   .filter(F.col("rank") > int(offset))
                   .select("rank", "url", "domain", "title", col))

    def search_collapse(self, query, filters=(), boosts=(),
                        collapse_col: str = "domain", k: int = 5,
                        offset: int = 0) -> DataFrame:
        """Field collapsing — the ES `collapse` search option: the
        result list keeps only the BEST hit per distinct
        ``collapse_col`` value (max float32 score, url-asc tie-break
        INSIDE the group — total order), then the usual
        (score desc, url asc) top-k + offset over the collapsed list.
        "Top result per site" without a second query. Output
        (rank, url, <collapse_col>, title, score).

        Scale shape: built on the exhaustive scored match set
        (score_matches' kernel — scores bitwise equal to search at any
        rank). The per-group argmax is ONE partial→final hash agg —
        `min` of a (-score, url, ...) struct, lexicographic, so
        map-side combine applies and a HOT group never concentrates on
        one task (no window, no per-group sort; float32 negation is a
        sign flip, exact). The page is then a TakeOrderedAndProject of
        offset+k over O(#groups) rows."""
        if k <= 0:
            raise ValueError("k must be positive")
        scored = self.score_matches(query, filters, boosts)
        dm = self._doc_meta_base.select("doc_ord", collapse_col, "title")
        j = scored.join(dm, "doc_ord")
        best = (j.groupBy(collapse_col)
                 .agg(F.min(F.struct(
                     (-F.col("score")).alias("_ns"),
                     F.col("url").alias("url"),
                     F.col("title").alias("title"))).alias("_b")))
        flat = best.select(
            collapse_col,
            F.col("_b.url").alias("url"),
            F.col("_b.title").alias("title"),
            (-F.col("_b._ns")).cast("float").alias("score"))
        order = [F.desc("score"), F.asc("url")]
        top = flat.orderBy(*order).limit(int(offset) + int(k))
        w = Window.orderBy(*order)
        return (top.withColumn("rank", F.row_number().over(w))
                   .filter(F.col("rank") > int(offset))
                   .select("rank", "url", collapse_col, "title", "score"))

    def search_rescore(self, query, rescore_query, filters=(), boosts=(),
                       window_size: int = 50, query_weight: float = 1.0,
                       rescore_weight: float = 1.0,
                       k: int = 5) -> DataFrame:
        """Top-window rescoring — the ES `rescore` phase: take the
        ``window_size`` best hits of the primary query (the cheap
        retrieval pass, (score desc, url asc) total order), re-rank
        ONLY that window by ``query_weight``·primary +
        ``rescore_weight``·secondary (the ES weighted-sum rescorer; a
        window doc outside the secondary's match set contributes 0),
        and return the top-k of the rescored window — the classic
        cheap-retrieval / expensive-rerank split without ever scoring
        the secondary outside O(matches) tiny rows. Output
        (rank, url, domain, title, score, primary_score).

        Arithmetic discipline: total = float32(float32(w·s1) +
        float32(w'·s2)) — each product double→float32, one float32
        add (the clause-order float32 summation discipline), so the
        scalar oracle replicates the result bitwise.

        Scale shape: both scoring passes are the exhaustive
        score_matches kernel emitting O(matches) (doc_ord, score)
        rows; the window is a TakeOrderedAndProject of
        O(window_size); the secondary attaches by a broadcast LEFT
        join onto that tiny window frame; the final page is a
        TakeOrdered of k over the window."""
        if k <= 0 or window_size <= 0:
            raise ValueError("k and window_size must be positive")
        s1 = self.score_matches(query, filters, boosts)
        win = (s1.orderBy(F.desc("score"), F.asc("url"))
                 .limit(int(window_size))
                 .withColumnRenamed("score", "primary_score"))
        s2 = self.score_matches(rescore_query) \
                 .select("doc_ord", F.col("score").alias("_s2"))
        j = win.join(s2, "doc_ord", "left").fillna({"_s2": 0.0})
        total = (
            (F.col("primary_score") * F.lit(float(query_weight)))
            .cast("float")
            + (F.col("_s2") * F.lit(float(rescore_weight))).cast("float")
        ).cast("float")
        dm = self._doc_meta_base.select("doc_ord", "domain", "title")
        scored = (j.withColumn("score", total)
                   .join(dm, "doc_ord"))
        order = [F.desc("score"), F.asc("url")]
        top = scored.orderBy(*order).limit(int(k))
        w = Window.orderBy(*order)
        return (top.withColumn("rank", F.row_number().over(w))
                   .select("rank", "url", "domain", "title", "score",
                           "primary_score"))

    def aggregate(self, query: str, filters=(), boosts=(),
                  aggs: dict | None = None) -> dict:
        """Aggregation REQUEST TREE over one match-set pass — tantivy's
        aggregation collector executes every requested aggregation in a
        single segment traversal; the per-kind methods here each
        recompute the match set (posting decode + two metadata joins),
        so an N-agg dashboard pays N×. This builds the match frame
        ONCE with ``_match_doc_meta``, persists it (MEMORY_AND_DISK —
        spill-safe, recomputable on executor loss, unlike a
        localCheckpoint), and serves every sub-aggregation from the
        cached frame through the ``aggs.AGGS`` registry: 1
        materialization job + N cheap agg jobs.

        ``aggs``: {name: {"kind": <aggs.AGGS key>, ...params}} — params
        are the kind function's keyword args (facet_col, interval_us,
        col, percents, ranges, rsd, ...). Returns {name: DataFrame}.
        The cached frame is retained so the returned (lazy) DataFrames
        stay cheap; the NEXT aggregate()/refresh() call unpersists it.

        ``"global": True`` in a spec runs that sub-aggregation over the
        WHOLE live index instead of the match set — the ES `global`
        bucket ("all documents in the search context, ignoring the
        query"), the standard match-vs-corpus comparison shape. The
        full doc-meta frame is persisted once per request tree (only
        when some spec asks for it) and shared by every global spec;
        it reads the kind=3 store partition directly — no posting
        decode at all on the global side. ``"sampler": N`` restricts a
        spec's frame (match-set or global) to the deterministic
        first-N-by-doc_ord sample — the ES `sampler` bucket analog
        with significant_terms' total-order sampling, a TakeOrdered of
        O(N).

        PIPELINE kinds (<aggs.PIPELINES keys> — the ES parent pipeline
        aggregations) don't touch the match set at all: they transform
        a SIBLING bucket aggregation's output, referenced ES-style via
        ``buckets_path``: ``"weekly"`` (value column defaults to n) or
        ``"weekly>doc_count"``. They run after every bucket agg is
        built and cost one O(#buckets) window over the sibling frame."""
        if not aggs:
            raise ValueError("aggs must be non-empty")
        seen = set()
        for name, spec in aggs.items():
            kind = spec.get("kind")
            if kind in PIPELINES:
                path = str(spec.get("buckets_path", "")).split(">")[0]
                # a pipeline may chain onto an EARLIER pipeline entry
                # (ES's max_bucket-of-derivative shape) — resolution is
                # dict order, so forward/self references are rejected
                if path not in aggs or path == name or (
                        aggs[path].get("kind") in PIPELINES
                        and path not in seen):
                    raise ValueError(
                        f"agg {name!r}: buckets_path must name a sibling "
                        "bucket aggregation (or an earlier pipeline "
                        "entry)")
            elif kind not in AGGS:
                raise ValueError(
                    f"agg {name!r}: kind must be one of "
                    f"{tuple(AGGS) + tuple(PIPELINES)}")
            seen.add(name)
        dm = self._match_frame(query, filters, boosts, "aggregate")
        for cache in ("_agg_dm_cache", "_agg_gdm_cache"):
            prev = getattr(self, cache, None)
            if prev is not None:
                prev.unpersist()
                setattr(self, cache, None)
        dm = dm.persist()
        dm.count()  # materialize the shared pass eagerly
        self._agg_dm_cache = dm
        g_dm = None
        out = {}
        for name, spec in aggs.items():
            if spec.get("kind") in PIPELINES:
                continue
            s = dict(spec)
            kind = s.pop("kind")
            if s.pop("global", False):
                if g_dm is None:   # one shared full-index frame
                    g_dm = self._anti_tombstone(self._doc_meta_base) \
                               .persist()
                    g_dm.count()
                    self._agg_gdm_cache = g_dm
                base = g_dm
            else:
                base = dm
            samp = s.pop("sampler", None)
            if samp is not None:
                # ES `sampler` bucket analog: the sub-agg sees only a
                # deterministic first-N-by-doc_ord sample of its frame
                # (the significant_terms sampler's total order) — a
                # TakeOrdered of O(N), never the full set
                if int(samp) <= 0:
                    raise ValueError(f"agg {name!r}: sampler must be "
                                     "positive")
                base = base.orderBy("doc_ord").limit(int(samp))
            if kind == "significant_terms":
                s.update(self._background())
            out[name] = AGGS[kind](base, **s)
        for name, spec in aggs.items():  # pipeline pass: siblings exist
            if spec.get("kind") not in PIPELINES:
                continue
            s = dict(spec)
            kind = s.pop("kind")
            path = str(s.pop("buckets_path"))
            sib, _, vcol = path.partition(">")
            if "from" in s:  # ES request key; `from` is a Python keyword
                s["from_"] = s.pop("from")
            out[name] = PIPELINES[kind](out[sib], vcol or "n", **s)
        return out

    # the match-frame kinds (aggs.AGGS) as engine methods
    facet_counts = _match_frame_method(aggs.facet_counts)
    count_matches = _match_frame_method(aggs.count_matches)
    date_histogram = _match_frame_method(aggs.date_histogram)
    histogram = _match_frame_method(aggs.histogram)
    histogram_stats = _match_frame_method(aggs.histogram_stats)
    terms_agg = _match_frame_method(aggs.terms_agg)
    field_stats = _match_frame_method(aggs.field_stats)
    percentiles = _match_frame_method(aggs.percentiles)
    percentile_ranks = _match_frame_method(aggs.percentile_ranks)
    facet_stats = _match_frame_method(aggs.facet_stats)
    range_agg = _match_frame_method(aggs.range_agg)
    cardinality = _match_frame_method(aggs.cardinality)
    extended_stats = _match_frame_method(aggs.extended_stats)
    top_hits = _match_frame_method(aggs.top_hits)
    filters_agg = _match_frame_method(aggs.filters_agg)
    rare_terms = _match_frame_method(aggs.rare_terms)
    composite_agg = _match_frame_method(aggs.composite_agg)
    missing_count = _match_frame_method(aggs.missing_count)
    value_count = _match_frame_method(aggs.value_count)
    weighted_avg = _match_frame_method(aggs.weighted_avg)
    median_absolute_deviation = _match_frame_method(
        aggs.median_absolute_deviation)
    boxplot = _match_frame_method(aggs.boxplot)
    multi_terms = _match_frame_method(aggs.multi_terms)
    adjacency_matrix = _match_frame_method(aggs.adjacency_matrix)
    string_stats = _match_frame_method(aggs.string_stats)
    auto_date_histogram = _match_frame_method(aggs.auto_date_histogram)
    AUTO_HIST_LADDER = aggs.AUTO_HIST_LADDER

    # the pipeline kinds (aggs.PIPELINES) as engine methods
    stats_bucket = staticmethod(aggs.stats_bucket)
    max_bucket = staticmethod(aggs.max_bucket)
    min_bucket = staticmethod(aggs.min_bucket)
    cumulative_sum = staticmethod(aggs.cumulative_sum)
    derivative = staticmethod(aggs.derivative)
    serial_diff = staticmethod(aggs.serial_diff)
    moving_fn = staticmethod(aggs.moving_fn)
    bucket_script = staticmethod(aggs.bucket_script)
    bucket_selector = staticmethod(aggs.bucket_selector)
    bucket_sort = staticmethod(aggs.bucket_sort)

    def materialize(self, hits: DataFrame, documents: DataFrame,
                    query: str, preview_words: int = 20) -> DataFrame:
        """Hit materialization (api/handler/search.rs:142-188 analog):
        join the top-k back to the source documents (broadcast the tiny
        hit side), add a highlight preview (utils.rs:64-138) and a
        first-N-words description (crawler/mod.rs:632-637)."""
        from pyspark.sql.types import StringType

        from .highlight import first_words, generate_highlight_preview

        @F.pandas_udf(StringType())
        def preview_udf(content: pd.Series) -> pd.Series:
            return content.map(lambda c: generate_highlight_preview(query, c or ""))

        @F.pandas_udf(StringType())
        def desc_udf(content: pd.Series) -> pd.Series:
            return content.map(lambda c: first_words(c or "", preview_words))

        joined = documents.join(
            F.broadcast(hits.select("rank", "doc_id", "score",
                                    *(["query_id"] if "query_id" in hits.columns else []))),
            "doc_id", "inner")
        return (joined
                .withColumn("preview", preview_udf(F.col("content")))
                .withColumn("description", desc_udf(F.col("content")))
                .select(*(["query_id"] if "query_id" in hits.columns else []),
                        "rank", "doc_id", "url", "domain", "title",
                        "description", "preview", "score")
                .orderBy(*(["query_id"] if "query_id" in hits.columns else []),
                         "rank"))

    # -- helpers ---------------------------------------------------------

    def _term_dfs(self, keys: set) -> dict:
        """Global df per (field, term): memoized driver-side pyarrow read
        of the term-sorted stats store (row-group pruned by the field/term
        predicate — the term-dictionary-lookup analog, not a Spark job).
        Generations are summed. The same read memoizes cf (total term
        frequency — see _term_cfs, the position-payload scale gate)."""
        missing = {k2 for k2 in keys if k2 not in self._df_cache}
        if missing:
            import pyarrow.dataset as pads

            fields = sorted({f for f, _ in missing})
            terms = sorted({t for _, t in missing})
            flt = pads.field("field").isin(fields) & pads.field("term").isin(terms)
            found: dict[tuple[str, str], int] = defaultdict(int)
            found_cf: dict[tuple[str, str], int] = defaultdict(int)
            for p in self._paths("term_stats"):
                tbl = pads.dataset(p, format="parquet").to_table(
                    columns=["field", "term", "df", "cf"], filter=flt)
                for f_, t_, d_, c_ in zip(tbl.column("field").to_pylist(),
                                          tbl.column("term").to_pylist(),
                                          tbl.column("df").to_pylist(),
                                          tbl.column("cf").to_pylist()):
                    if (f_, t_) in missing:
                        found[(f_, t_)] += int(d_)
                        found_cf[(f_, t_)] += int(c_ or 0)
            for k2 in missing:
                self._df_cache[k2] = found.get(k2, 0)
                self._cf_cache[k2] = found_cf.get(k2, 0)
        return {k2: self._df_cache[k2] for k2 in keys}

    def _term_cfs(self, keys: set) -> dict:
        """Global cf per (field, term) — populated by the same stats read
        as _term_dfs (call that first for any new keys)."""
        self._term_dfs(keys)
        return {k2: self._cf_cache.get(k2, 0) for k2 in keys}

    def _tombstone_plan(self) -> dict:
        """Tombstones for the scoring plan: the manifest's doc_id list is
        resolved once (bounded — caller-supplied ids), upsert side tables
        ship inline when small and are read part-pruned by the executors
        when large."""
        if self._tomb_cache is None:
            ords: set[int] = set()
            dirs: list[str] = []
            if self.manifest.tombstones:
                rows = (self._doc_meta_base
                        .filter(F.col("doc_id").isin(list(self.manifest.tombstones)))
                        .select("doc_ord").collect())
                ords |= {int(r["doc_ord"]) for r in rows}
            side = [f"{self.index_dir}/{d}" for d in self.manifest.tombstone_dirs]
            if side:
                dset = _open_parquet_dirs(side)
                n = dset.count_rows()
                if n <= TOMBSTONE_SHIP_MAX:
                    arr = dset.to_table(columns=["doc_ord"]).column("doc_ord")
                    ords |= {int(v) for v in arr.to_pylist()}
                else:
                    dirs = side
            self._tomb_cache = {
                "tombstone_ords": np.array(sorted(ords), dtype=np.int64),
                "tombstone_dirs": dirs,
            }
        return self._tomb_cache

    _HIT_SELECT = ("CAST(col1 AS LONG) AS query_id, CAST(col2 AS INT) AS rank, "
                   "col3 AS doc_id, col4 AS url, col5 AS domain, "
                   "col6 AS title, CAST(col7 AS STRING) AS description, "
                   "col8 AS tags, col9 AS score, CAST(col10 AS LONG) AS doc_ord")

    def _local_hits_df(self, rows: list[tuple]) -> DataFrame:
        """Driver-resident hit rows → DataFrame WITHOUT a Spark job.

        ``spark.createDataFrame`` from python ROWS parallelizes into an
        RDD, so the caller's ``collect()`` launches a
        (defaultParallelism-task) job just to read back ≤k local rows —
        ~0.3-0.9 s of pure scheduling on a warm local[32]. Two job-free
        LocalRelation paths instead:

        - Arrow (preferred): ``createDataFrame(pandas)`` with
          spark.sql.execution.arrow.pyspark.enabled converts the batch
          into a Catalyst LocalRelation directly (Spark 4 keeps local
          Arrow data under arrow.localRelationThreshold driver-side) —
          ~6x faster than parsing a VALUES literal at 640 rows (0.36 s →
          0.06 s) and NUL-safe, still ZERO jobs at collect (pinned by
          tests/test_search_parity.py::test_local_hits_values_roundtrip).
        - VALUES literal fallback when Arrow is off: strings are
          SQL-escaped; rows with characters the parser can't round-trip
          (NUL) fall back to a single-slice parallelize."""
        try:
            arrow_on = self.spark.conf.get(
                "spark.sql.execution.arrow.pyspark.enabled", "false") == "true"
        except Exception:
            arrow_on = False
        if arrow_on:
            pdf = pd.DataFrame(rows, columns=HIT_COLUMNS)
            return self.spark.createDataFrame(
                pdf, schema="query_id long, rank int, doc_id string, "
                "url string, domain string, title string, "
                "description string, tags array<long>, score float, "
                "doc_ord long")
        if any(isinstance(v, str) and "\x00" in v for r in rows for v in r):
            return self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(rows, 1),
                "query_id long, rank int, doc_id string, url string, "
                "domain string, title string, description string, "
                "tags array<long>, score float, doc_ord long")

        def s(v):  # string literal ('' and \ escaped; backslash-escape mode)
            if v is None:
                return "CAST(NULL AS STRING)"
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

        vals = []
        for qid, rank, did, url, dom, ti, desc, tags, score, ord_ in rows:
            tl = ("CAST(array() AS ARRAY<LONG>)" if not tags else
                  "array(" + ",".join(f"{int(t)}L" for t in tags) + ")")
            vals.append(
                f"({int(qid)},{int(rank)},{s(did)},{s(url)},{s(dom)},{s(ti)},"
                f"{s(desc)},{tl},CAST({float(score)!r} AS FLOAT),{int(ord_)}L)")
        return self.spark.sql(
            f"SELECT {self._HIT_SELECT} FROM (VALUES {','.join(vals)})")

    def _empty_result(self) -> DataFrame:
        # literal empty relation (LocalRelation — collect() runs no job)
        return self.spark.sql(
            "SELECT CAST(NULL AS LONG) AS query_id, CAST(NULL AS INT) AS rank, "
            "CAST(NULL AS STRING) AS doc_id, CAST(NULL AS STRING) AS url, "
            "CAST(NULL AS STRING) AS domain, CAST(NULL AS STRING) AS title, "
            "CAST(NULL AS STRING) AS description, "
            "CAST(NULL AS ARRAY<LONG>) AS tags, CAST(NULL AS FLOAT) AS score, "
            "CAST(NULL AS LONG) AS doc_ord WHERE 1=0")
