"""Distributed inverted-index builder — the Spark analog of the reference's
bulk-load pipeline (archive install → batched tokenize → writer.commit;
/root/reference/crates/spyglass/src/pipeline/cache_pipeline.rs:82-129,
documents/mod.rs:290-423), re-architected Spark-first:

  corpus/documents DataFrame
    → deterministic hash partitioning  part_id = sha256(url)[:60bits] % P
    → repartition(P, part_id)          (one task per doc partition: even
      makespan — hashing 4×P groups into the default shuffle-partition
      count gave ~2× balls-in-bins skew and halved 32-core throughput)
    → groupBy(part_id).applyInPandas   (Arrow-batched tokenize + local
      posting construction + delta/varint encode — "the 5,000-record batch"
      analog, vectorized at the plan level)
    → ONE kind-partitioned Parquet store write (postings + norms + fast
      fields + doc_meta + lineage emitted in the same pass — the store IS
      the stage-1 output; no second rewrite of the payload bytes)
    → a small term_stats aggregation job over the (field,term,df,cf)
      columns only (columnar pruning never touches the posting payloads).

Store layout per generation (tantivy's per-segment model, re-expressed as
a kind-partitioned Parquet dataset):

  {prefix}/store/wave=<w>/kind=0/   posting chunks, term-sorted per part
                          kind=1/   fieldnorm arrays per (part, field)
                          kind=2/   per-partition build lineage
                          kind=3/   doc_meta (stored fields incl. tags/dates)
                          kind=4/   fast fields (date columns as i64 arrays)
  {prefix}/term_stats/              global (field,term) → df/cf, term-sorted

Postings are term-sorted *within each part* (tantivy's per-segment term
dictionary): query-term scans prune via parquet row-group/page statistics
inside every part file instead of a global term sort, which would cost a
full extra shuffle of the payload bytes at build time. A hot term's chunks
live in different part files, so scans of skewed terms parallelize by
construction.

Doc ordinals: ``doc_ord = part_id * 2^40 + local_rank(url)``. Fully
deterministic with NO global pass: ordinals are identical at any
parallelism level (local[8] vs local[32] must produce identical top-k
tie-breaks). P (num_partitions) is an index property recorded in the
manifest, independent of cluster size.

Resumability: stage 1 runs in waves (part_id % waves); each completed wave
checkpoints. A restart skips completed waves (kill/resume test in
tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from itertools import chain
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis.analyzer import ANALYZER_KIND, tokenize_arrays
from .codecs import bulk_encode_postings
from .fieldnorm import fieldnorm_to_id
from .manifest import (Manifest, commit_manifest, history_path,
                       list_snapshots, load_checkpoint, load_manifest,
                       save_checkpoint)

ORD_SHIFT = 40  # doc_ord = part_id << 40 | local_rank

TEXT_FIELDS = {"content": "content", "title": "title", "id": "doc_id",
               "domain": "domain", "url": "url"}
ALL_FIELDS = ("content", "title", "id", "domain", "url", "tags")
# optional columns indexed when present: description (custom analyzer,
# schema.rs:174) and engine-configured custom u64 fields
# (Boost::CustomField, lib.rs:68, query.rs:124-130)
OPTIONAL_TEXT_FIELDS = {"description": "description"}
# date fast fields (µs since epoch) — published/lastmodified are indexed
# fast+stored in the reference schema (schema.rs:179-195)
DATE_FIELDS = ("published", "lastmodified")

NORMS_MARK = "\x01norms"
LINEAGE_MARK = "\x01lineage"
DOCMETA_MARK = "\x01docmeta"
FAST_MARK = "\x01fast"

# One schema for all stage-1 row kinds (postings / norms / lineage /
# doc_meta / fast fields) so the whole build is a single tokenize pass —
# nullable columns are near-free in Parquet.
SEGMENT_SCHEMA = (
    "kind int, part_id int, field string, term string, df_part long, cf_part long, "
    "n_local int, doc_bytes binary, tf_bytes binary, pos_bytes binary, "
    "meta_bytes binary, doc_id string, url string, domain string, "
    "title string, description string, content_sha256 string, local_ord int, "
    "tags array<long>, published long, lastmodified long"
)

KIND_POSTING, KIND_NORMS, KIND_LINEAGE, KIND_DOCMETA, KIND_FAST = 0, 1, 2, 3, 4

# Parquet physical tuning for the store write: small row groups + pages so
# query-term scans (field/term pushdown) prune within each part file via
# row-group stats and column indexes instead of reading a whole part.
STORE_BLOCK_BYTES = 8 * 1024 * 1024
STORE_PAGE_BYTES = 64 * 1024


def part_id_col(P: int, url_col: str = "url"):
    """Deterministic partition id from sha256(url) — computable identically
    in Spark, Python (oracle) and SQL."""
    return (F.conv(F.substring(F.sha2(F.col(url_col), 256), 1, 15), 16, 10)
            .cast("long") % F.lit(P)).cast("int")


def part_id_py(url: str, P: int) -> int:
    import hashlib

    return int(hashlib.sha256(url.encode("utf-8")).hexdigest()[:15], 16) % P


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of a 4-byte int column (seed 42) — the hash
    behind hashpartitioning/F.hash for int32 (tested against F.hash)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # fmix with length=4
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def identity_shuffle_keys(P: int) -> list[int]:
    """keys[p] = smallest int x with pmod(murmur3(x), P) == p.

    ``repartition(P, key)`` hashes keys with murmur3 — hashing the raw
    part_id scatters P distinct parts over P buckets balls-in-bins style
    (~37% empty buckets, busiest holding 3-5 parts: a 32-core makespan
    tail). Substituting these precomputed keys makes the exchange an
    IDENTITY mapping: exactly one doc partition per shuffle partition,
    so stage-1 tasks are uniform by construction at any P."""
    keys: list[int | None] = [None] * P
    found, x = 0, 0
    while found < P:
        p = _murmur3_int32(x) % P
        if keys[p] is None:
            keys[p] = x
            found += 1
        x += 1
    return keys  # type: ignore[return-value]


_OUT_COLUMNS = ["kind", "part_id", "field", "term", "df_part", "cf_part", "n_local",
                "doc_bytes", "tf_bytes", "pos_bytes", "meta_bytes",
                "doc_id", "url", "domain", "title", "description",
                "content_sha256", "local_ord", "tags", "published",
                "lastmodified"]


def _field_frame_arrays(field: str, vocab: list, term_starts: np.ndarray,
                        ords: np.ndarray, tfs: np.ndarray,
                        pos_concat: np.ndarray, norms_f: np.ndarray,
                        part_id: int, n: int) -> pd.DataFrame:
    """Encode one field's grouped posting arrays (sorted vocab,
    ``term_starts`` slicing ``ords``/``tfs``/``pos_concat`` per term) via
    the bulk codec into a postings DataFrame — byte-identical to per-term
    encoding, no per-token dict stage. Terms are emitted SORTED so
    parquet row-group/page stats are tight per part."""
    if not vocab:
        return pd.DataFrame(columns=_OUT_COLUMNS)
    norm_ids = norms_f[ords.astype(np.int64)]
    doc_b, tf_b, pos_b, meta_b = bulk_encode_postings(
        term_starts, ords, tfs, norm_ids, pos_concat)
    dfs = np.diff(term_starts)
    cfs = (np.add.reduceat(tfs, term_starts[:-1]) if ords.size else
           np.zeros(0, dtype=np.uint64))
    return pd.DataFrame({
        "kind": np.full(len(vocab), 0, dtype=np.int32),
        "part_id": np.full(len(vocab), part_id, dtype=np.int32),
        "field": field, "term": vocab,
        "df_part": dfs.astype(np.int64), "cf_part": cfs.astype(np.int64),
        "n_local": np.full(len(vocab), n, dtype=np.int32),
        "doc_bytes": doc_b, "tf_bytes": tf_b, "pos_bytes": pos_b,
        "meta_bytes": meta_b,
        "doc_id": None, "url": None, "domain": None, "title": None,
        "description": None, "content_sha256": None, "local_ord": None,
        "tags": None, "published": None, "lastmodified": None})


def _group_single_terms(values: np.ndarray, ords: np.ndarray):
    """Group (value, ord) pairs into sorted-vocab posting arrays for
    single-occurrence fields (tf=1): factorize(sort=True) gives the
    vocab in sorted() order; the stable argsort of the codes keeps ords
    ascending within each term — exactly the order the old per-row
    dict-append produced, with no per-row Python."""
    if len(values) == 0:
        return [], np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint64)
    codes, uniques = pd.factorize(values, sort=True)
    order = np.argsort(codes, kind="stable")
    dfs = np.bincount(codes, minlength=len(uniques)).astype(np.int64)
    term_starts = np.concatenate(([0], np.cumsum(dfs)))
    return [str(u) for u in uniques], term_starts, \
        ords[order].astype(np.uint64)


def _group_int_terms(vals: np.ndarray, ords: np.ndarray):
    """_group_single_terms for int-valued terms (tags / custom u64):
    numeric np.unique does the heavy grouping; only the (tiny) unique set
    is converted to decimal strings and re-ranked into the lexicographic
    vocab order the sorted-string term layout requires ("10" < "2")."""
    if len(vals) == 0:
        return [], np.zeros(1, dtype=np.int64), np.zeros(0, dtype=np.uint64)
    uvals, inverse, counts = np.unique(vals, return_inverse=True,
                                       return_counts=True)
    ustrs = uvals.astype("U21")
    str_order = np.argsort(ustrs, kind="stable")  # numeric-id -> string rank
    rank = np.empty_like(str_order)
    rank[str_order] = np.arange(len(str_order))
    codes = rank[inverse]
    order = np.argsort(codes, kind="stable")
    dfs = counts[str_order].astype(np.int64)
    term_starts = np.concatenate(([0], np.cumsum(dfs)))
    return [str(u) for u in ustrs[str_order]], term_starts, \
        ords[order].astype(np.uint64)


def _untokenized_frame(field: str, vocab: list, term_starts: np.ndarray,
                       ords: np.ndarray, norms_f: np.ndarray,
                       part_id: int, n: int) -> pd.DataFrame:
    """_field_frame_arrays for tf=1 fields (id/domain/url/tags/custom)."""
    tfs = np.ones(len(ords), dtype=np.uint64)
    return _field_frame_arrays(field, vocab, term_starts, ords, tfs, None,
                               norms_f, part_id, n)


def _marker_frame(kind: int, part_id: int, **cols) -> pd.DataFrame:
    """A non-posting row frame with the shared output schema."""
    n = len(next(iter(cols.values())))
    base = {
        "kind": np.full(n, kind, dtype=np.int32),
        "part_id": np.full(n, part_id, dtype=np.int32),
        "field": None, "term": None, "df_part": 0, "cf_part": 0,
        "n_local": 0, "doc_bytes": b"", "tf_bytes": b"", "pos_bytes": b"",
        "meta_bytes": b"", "doc_id": None, "url": None, "domain": None,
        "title": None, "description": None, "content_sha256": None,
        "local_ord": None, "tags": None, "published": None,
        "lastmodified": None}
    base.update(cols)
    return pd.DataFrame(base)[_OUT_COLUMNS]


def _build_segment(pdf: pd.DataFrame) -> pd.DataFrame:
    """Build one doc-partition's full postings (runs on executors inside
    applyInPandas; numpy bulk codecs over an Arrow batch)."""
    t0 = time.time()
    pdf = pdf.sort_values("url", kind="mergesort").reset_index(drop=True)
    part_id = int(pdf["part_id"].iloc[0])
    n = len(pdf)
    custom_fields = [c for c in pdf.columns if c.startswith("cf_")]
    positional_fields = ["content", "title"] + [
        f for f in OPTIONAL_TEXT_FIELDS if OPTIONAL_TEXT_FIELDS[f] in pdf.columns]
    all_fields = tuple(positional_fields) + ("id", "domain", "url", "tags") + \
        tuple(c[3:] for c in custom_fields)
    norms = {f: np.zeros(n, dtype=np.uint8) for f in all_fields}
    totals: dict[str, int] = defaultdict(int)
    frames = []
    n_postings = 0
    n_terms = 0

    # positional text fields: vectorized whole-batch tokenize → posting
    # arrays (one C regex pass + factorize + numpy sorts; the filter chain
    # runs over unique tokens only — no per-token Python)
    for field in positional_fields:
        col = pdf[{**TEXT_FIELDS, **OPTIONAL_TEXT_FIELDS}[field]].tolist()
        vocab, term_starts, ords_, tfs_, pos_, counts = tokenize_arrays(
            col, ANALYZER_KIND[field])
        totals[field] = int(counts.sum())
        norms[field][:] = fieldnorm_to_id(counts)
        n_postings += int(tfs_.sum())
        n_terms += len(vocab)
        frames.append(_field_frame_arrays(field, vocab, term_starts, ords_,
                                          tfs_, pos_, norms[field], part_id, n))

    # untokenized STRING fields: one term per doc, tf=1, position 0.
    # factorize(sort=True) + stable argsort replaces the per-row
    # dict-append loop: vocab comes out in the same sorted() order and
    # ords stay ascending within each term (byte-identical postings,
    # pinned by test_index_build/test_codecs)
    for field in ("id", "domain", "url"):
        s = pdf[TEXT_FIELDS[field]]
        mask = (s.notna() & (s != "")).to_numpy()
        ords_all = np.nonzero(mask)[0]
        vocab, term_starts, ords_ = _group_single_terms(
            s.to_numpy()[mask], ords_all)
        counts = mask.astype(np.int64)
        totals[field] = int(counts.sum())
        norms[field][:] = fieldnorm_to_id(counts)
        n_postings += totals[field]
        n_terms += len(vocab)
        frames.append(_untokenized_frame(field, vocab, term_starts, ords_,
                                         norms[field], part_id, n))

    # tags: u64 multi-value → decimal-string terms, tf=1. A flat
    # chain/repeat explode + lexsort dedupe replaces the per-row
    # set/sort/dict-append loop
    tag_col = pdf["tags"].to_numpy()
    t_lens = np.fromiter((0 if t is None else len(t) for t in tag_col),
                         dtype=np.int64, count=n)
    t_vals = np.fromiter(
        chain.from_iterable(t for t in tag_col if t is not None),
        dtype=np.int64, count=int(t_lens.sum()))
    t_ords = np.repeat(np.arange(n, dtype=np.int64), t_lens)
    # dedupe (ord, value) pairs, value-ascending within each ord
    order = np.lexsort((t_vals, t_ords))
    t_ords, t_vals = t_ords[order], t_vals[order]
    if len(t_ords):
        keep = np.ones(len(t_ords), dtype=bool)
        keep[1:] = (t_ords[1:] != t_ords[:-1]) | (t_vals[1:] != t_vals[:-1])
        t_ords, t_vals = t_ords[keep], t_vals[keep]
    tag_counts = np.bincount(t_ords, minlength=n).astype(np.int64)
    # per-doc tag lists for doc_meta: plain-list slicing (one bulk
    # tolist), ~3x cheaper than np.split into 200k tiny arrays
    _vals_list = t_vals.tolist()
    _starts = np.concatenate(([0], np.cumsum(tag_counts))).tolist()
    clean_tags = [_vals_list[_starts[i]:_starts[i + 1]] for i in range(n)]
    vocab, term_starts, ords_ = _group_int_terms(t_vals, t_ords)
    totals["tags"] = int(tag_counts.sum())
    norms["tags"][:] = fieldnorm_to_id(tag_counts)
    n_postings += totals["tags"]
    n_terms += len(vocab)
    frames.append(_untokenized_frame("tags", vocab, term_starts, ords_,
                                     norms["tags"], part_id, n))

    # custom u64 fields (columns named cf_<field>): each value → one
    # decimal-string term, tf=1 — Boost::CustomField parity
    for col_name in custom_fields:
        field = col_name[3:]
        s = pd.to_numeric(pdf[col_name], errors="coerce")
        mask = s.notna().to_numpy()
        ords_all = np.nonzero(mask)[0]
        ints = s.to_numpy()[mask].astype(np.int64)
        vocab, term_starts, ords_ = _group_int_terms(ints, ords_all)
        counts = mask.astype(np.int64)
        totals[field] = int(counts.sum())
        norms[field][:] = fieldnorm_to_id(counts)
        n_postings += totals[field]
        n_terms += len(vocab)
        frames.append(_untokenized_frame(field, vocab, term_starts, ords_,
                                         norms[field], part_id, n))

    # norms rows
    frames.append(_marker_frame(
        KIND_NORMS, part_id,
        field=[NORMS_MARK] * len(all_fields), term=list(all_fields),
        cf_part=[int(totals[f]) for f in all_fields],
        n_local=[n] * len(all_fields),
        doc_bytes=[norms[f].tobytes() for f in all_fields]))

    # date fast fields: per-part i64 column arrays in ordinal order — the
    # tantivy fast-field analog (schema.rs:179-195); range filters decode
    # these in-UDF during scoring
    present_dates = [d for d in DATE_FIELDS if d in pdf.columns]
    if present_dates:
        arrs = []
        for d in present_dates:
            v = pdf[d].to_numpy()
            a = np.where(pd.isna(v), np.int64(-1), v).astype(np.int64)
            arrs.append(a.tobytes())
        frames.append(_marker_frame(
            KIND_FAST, part_id,
            field=[FAST_MARK] * len(present_dates), term=present_dates,
            n_local=[n] * len(present_dates), doc_bytes=arrs))

    # doc_meta rows — same pass, no second scan over the corpus; carries
    # tags + dates so hits can return them (RetrievedDocument{..tags},
    # lib.rs:130-139)
    frames.append(_marker_frame(
        KIND_DOCMETA, part_id,
        field=[DOCMETA_MARK] * n,
        n_local=[n] * n,
        doc_id=pdf["doc_id"].values, url=pdf["url"].values,
        domain=pdf["domain"].values, title=pdf["title"].values,
        description=(pdf["description"].values
                     if "description" in pdf.columns else None),
        content_sha256=(pdf["content_sha256"].values
                        if "content_sha256" in pdf.columns else None),
        local_ord=np.arange(n, dtype=np.int32),
        tags=pd.Series(clean_tags, dtype="object"),
        published=(pdf["published"] if "published" in pdf.columns else None),
        lastmodified=(pdf["lastmodified"] if "lastmodified" in pdf.columns
                      else None)))

    elapsed = max(time.time() - t0, 1e-9)
    lineage = json.dumps({
        "part_id": part_id, "n_docs": n, "n_postings": int(n_postings),
        "n_terms": int(n_terms), "elapsed_sec": round(elapsed, 4),
        "docs_per_sec": round(n / elapsed, 2),
        "postings_per_sec": round(n_postings / elapsed, 2),
    })
    frames.append(_marker_frame(
        KIND_LINEAGE, part_id,
        field=[LINEAGE_MARK], term=[lineage],
        df_part=[n], cf_part=[int(n_postings)], n_local=[n]))
    out = pd.concat(frames, ignore_index=True)
    return out[_OUT_COLUMNS]


def read_store(spark: SparkSession, index_dir: str,
               prefix: str = "segments") -> DataFrame:
    """The kind-partitioned segment store of one generation (partition
    columns ``wave`` and ``kind`` are discovered from the layout)."""
    return spark.read.parquet(f"{index_dir}/{prefix}/store")


def doc_meta_view(spark: SparkSession, index_dir: str, gens: list[dict]) -> DataFrame:
    """Stored-field rows (kind=3) across generations, with doc_ord."""
    frames = [read_store(spark, index_dir, g["prefix"])
              .filter(F.col("kind") == KIND_DOCMETA) for g in gens]
    dm = reduce(DataFrame.unionByName, frames)
    return dm.select(
        "part_id", "local_ord", "doc_id", "url", "domain", "title",
        "description", "content_sha256", "tags", "published", "lastmodified",
        (F.col("part_id").cast("long") * F.lit(1 << ORD_SHIFT)
         + F.col("local_ord")).alias("doc_ord"))


def tombstone_view(spark: SparkSession, index_dir: str,
                   manifest: Manifest) -> DataFrame | None:
    """Union of the tombstone side tables (doc_ord long, part_id int), or
    None when no upsert-generated tombstones exist."""
    dirs = [d for d in manifest.tombstone_dirs
            if os.path.isdir(os.path.join(index_dir, d))]
    if not dirs:
        return None
    return spark.read.parquet(*[os.path.join(index_dir, d) for d in dirs])


def _build_generation(spark: SparkSession, documents: DataFrame,
                      index_dir: str, prefix: str,
                      num_partitions: int, part_offset: int, waves: int,
                      fail_after_wave: int | None) -> dict:
    """Build one segment generation under {index_dir}/{prefix}: the wave
    job(s) write the store in a single pass; a small follow-up job builds
    term_stats from the pruned (field,term,df,cf) columns. Returns
    aggregates for the manifest."""
    ckpt = load_checkpoint(index_dir)
    ckpt_key = f"completed_waves_{prefix}"
    ckpt.setdefault(ckpt_key, ckpt.pop("completed_waves", [])
                    if prefix == "segments" else [])
    t_start = time.time()

    docs = documents.withColumn(
        "part_id", (part_id_col(num_partitions) + F.lit(part_offset)).cast("int"))
    # identity exchange: one doc partition per shuffle partition (see
    # identity_shuffle_keys — raw part_id hashing gives a balls-in-bins
    # makespan tail at high core counts)
    skeys = identity_shuffle_keys(num_partitions)
    docs = docs.withColumn(
        "skey", F.element_at(F.array(*[F.lit(k) for k in skeys]),
                             F.col("part_id") - F.lit(part_offset) + 1))

    store_dir = f"{index_dir}/{prefix}/store"
    stats_dir = f"{index_dir}/{prefix}/term_stats"

    # ---- stage 1 = the store write: per-partition segments, in waves ----
    t_stage1 = time.time()
    for w in range(waves):
        if w in ckpt[ckpt_key]:
            continue
        (docs.filter((F.col("part_id") - part_offset) % waves == w)
             .repartition(num_partitions, "skey")
             .groupBy("skey")
             .applyInPandas(_build_segment, SEGMENT_SCHEMA)
             .write.mode("overwrite")
             .option("parquet.block.size", str(STORE_BLOCK_BYTES))
             .option("parquet.page.size", str(STORE_PAGE_BYTES))
             .partitionBy("kind")
             .parquet(f"{store_dir}/wave={w}"))
        ckpt[ckpt_key].append(w)
        save_checkpoint(index_dir, ckpt)
        if fail_after_wave is not None and w >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {w}")
    stage1_sec = time.time() - t_stage1

    store = spark.read.parquet(store_dir)
    results: dict = {}

    # ---- term_stats + manifest aggregates (tiny, payload-free jobs) ----
    def _w_stats():
        (store.filter(F.col("kind") == KIND_POSTING)
              .select("field", "term", "df_part", "cf_part")
              .groupBy("field", "term")
              .agg(F.sum("df_part").alias("df"), F.sum("cf_part").alias("cf"),
                   F.count("*").alias("n_chunks"))
              .repartitionByRange(
                  max(spark.sparkContext.defaultParallelism // 2, 1),
                  "field", "term")
              .sortWithinPartitions("field", "term")
              .write.mode("overwrite")
              .option("parquet.block.size", str(4 * 1024 * 1024))
              .parquet(stats_dir))
        st = spark.read.parquet(stats_dir)
        # field_totals: exact token totals per field (Σcf ≡ emitted tokens)
        results["totals"] = {
            r["field"]: int(r["total"]) for r in
            st.groupBy("field").agg(F.sum("cf").alias("total")).collect()}
        results["tf_stats"] = (
            st.filter(F.col("field") == "content")
              .agg(F.max("df").alias("max_df"),
                   F.avg("df").alias("avg_df")).collect()[0])

    def _w_lineage():
        results["agg"] = (
            store.filter(F.col("kind") == KIND_LINEAGE)
                 .agg(F.sum("df_part").alias("nd"),
                      F.sum("cf_part").alias("np"),
                      F.count("*").alias("parts"),
                      F.max("cf_part").alias("maxp"),
                      F.avg("cf_part").alias("avgp")).collect()[0])

    from concurrent.futures import ThreadPoolExecutor

    t_stats = time.time()
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(f) for f in (_w_stats, _w_lineage)]
        for fut in futs:
            fut.result()
    stats_sec = time.time() - t_stats

    totals, agg, tf_stats = results["totals"], results["agg"], results["tf_stats"]

    # on-disk footprint (compression evidence: delta+varint payloads +
    # parquet encoding vs 8 bytes/posting uncompressed docID alone)
    kind_names = {0: "postings", 1: "norms", 2: "lineage", 3: "doc_meta",
                  4: "fast"}
    store_bytes: dict[str, int] = {}
    for r, _, fs in os.walk(store_dir):
        seg = next((p for p in r.split(os.sep) if p.startswith("kind=")), None)
        name = kind_names.get(int(seg.split("=")[1]), "other") if seg else "other"
        for f in fs:
            store_bytes[name] = store_bytes.get(name, 0) + os.path.getsize(
                os.path.join(r, f))
    if os.path.isdir(stats_dir):
        store_bytes["term_stats"] = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(stats_dir) for f in fs)

    wall = time.time() - t_start
    return {
        "num_docs": int(agg["nd"] or 0),
        "field_totals": totals,
        "metrics": {
            "build_wall_sec": round(wall, 3),
            "stage1_sec": round(stage1_sec, 3),
            "stats_sec": round(stats_sec, 3),
            "docs_per_sec": round((agg["nd"] or 0) / wall, 2),
            "postings_per_sec": round((agg["np"] or 0) / wall, 2),
            "n_parts_built": int(agg["parts"] or 0),
            "partition_skew_ratio": round(
                float(agg["maxp"]) / max(float(agg["avgp"] or 1), 1e-9), 3)
            if agg["maxp"] is not None else None,
            "term_df_skew_ratio": round(
                float(tf_stats["max_df"]) / max(float(tf_stats["avg_df"] or 1), 1e-9), 3)
            if tf_stats["max_df"] is not None else None,
            "store_bytes": store_bytes,
            "index_bytes_per_doc": round(
                sum(store_bytes.values()) / max(int(agg["nd"] or 1), 1), 2),
            "postings_bytes_per_posting": round(
                store_bytes.get("postings", 0) / max(int(agg["np"] or 1), 1), 3),
        },
    }


def build_index(spark: SparkSession, documents: DataFrame, index_dir: str,
                num_partitions: int = 32, waves: int = 1,
                merge_partitions: int | None = None,
                fail_after_wave: int | None = None,
                applied_epoch: int | None = None) -> Manifest:
    """Build (or resume building) the index. ``documents`` must have columns
    doc_id, url, domain, title, content, tags (see corpus.to_documents);
    optional: content_sha256, description, published, lastmodified (µs),
    cf_<name> custom u64 fields.

    Resumable: completed stage-1 waves are skipped on restart.
    ``fail_after_wave`` injects a crash for the resume test.
    ``merge_partitions`` is accepted for API compatibility (the single-pass
    store has no merge stage)."""
    existing = load_manifest(index_dir)
    if existing is not None and existing.committed:
        return existing
    os.makedirs(index_dir, exist_ok=True)
    agg = _build_generation(spark, documents, index_dir, "segments",
                            num_partitions, 0, waves, fail_after_wave)
    m = Manifest(
        num_docs=agg["num_docs"],
        num_partitions=num_partitions,
        waves=waves,
        field_totals=agg["field_totals"],
        generations=[{"gen": 0, "prefix": "segments", "part_offset": 0,
                      "num_partitions": num_partitions,
                      "num_docs": agg["num_docs"]}],
        metrics=agg["metrics"],
    )
    if applied_epoch is not None:
        m.applied_epochs = [int(applied_epoch)]
    commit_manifest(index_dir, m)
    return m


def upsert_documents(spark: SparkSession, documents: DataFrame, index_dir: str,
                     num_partitions: int = 16,
                     applied_epoch: int | None = None,
                     max_generations: int | None = None) -> Manifest:
    """Upsert = delete existing docs with the same url, then index the new
    versions as a fresh delta generation (the reference's
    process_crawl_results: find-by-URL → delete_many_by_id → re-add,
    /root/reference/crates/spyglass/src/documents/mod.rs:135-195).

    Old copies are tombstoned by ORDINAL (precise — the re-added doc keeps
    the same UUIDv5 doc_id); the ordinals are written to a parquet side
    table by the cluster (never collected to the driver) and anti-joined /
    masked during scoring. Global stats N / df / avgdl keep counting the
    tombstoned docs until a merge, matching tantivy's max_doc model.

    ``max_generations`` is the auto-merge policy (tantivy's background
    segment merge, client/local.rs:191-203): after the delta commits, the
    two lowest generations in part space pairwise-merge until the count
    is back at the threshold — the ONE knob shared by the Python API, the
    CLI (``upsert --max-generations``) and the streaming micro-batcher. Each
    merge is itself an atomic manifest commit, so a crash mid-policy
    leaves a committed, searchable index with a few extra generations."""
    m = load_manifest(index_dir)
    if m is None or not m.committed:
        raise FileNotFoundError(f"no committed index at {index_dir}")

    gens = m.gen_list()
    gen_id = max(g["gen"] for g in gens) + 1

    # tombstone side table: matched old ordinals, sorted by part for
    # part-pruned reads at query time (at larger scale: bucket by part_id)
    tomb_rel = f"tombstones/gen{gen_id}"
    (doc_meta_view(spark, index_dir, gens)
     .join(documents.select("url").distinct(), "url", "leftsemi")
     .select("part_id", "doc_ord")
     .coalesce(max(spark.sparkContext.defaultParallelism // 8, 1))
     .sortWithinPartitions("part_id", "doc_ord")
     .write.mode("overwrite").parquet(f"{index_dir}/{tomb_rel}"))

    prefix = f"segments_gen{gen_id}"
    part_offset = m.next_part_offset()
    agg = _build_generation(spark, documents, index_dir, prefix,
                            num_partitions, part_offset, 1, None)

    m.generations = gens + [{"gen": gen_id, "prefix": prefix,
                             "part_offset": part_offset,
                             "num_partitions": num_partitions,
                             "num_docs": agg["num_docs"]}]
    m.num_docs += agg["num_docs"]
    for f_, v in agg["field_totals"].items():
        m.field_totals[f_] = m.field_totals.get(f_, 0) + v
    m.tombstone_dirs = sorted(set(m.tombstone_dirs) | {tomb_rel})
    m.metrics[f"gen{gen_id}"] = agg["metrics"]
    if applied_epoch is not None:
        # recorded in the SAME atomic commit as the generation so a crash
        # can never publish the generation without its epoch marker
        m.applied_epochs = sorted(set(m.applied_epochs) | {int(applied_epoch)})
    commit_manifest(index_dir, m)
    while max_generations and len(m.gen_list()) > max_generations:
        m = merge_generations(spark, index_dir)
    return m


def delete_by_ids(index_dir: str, doc_ids: list[str]) -> Manifest:
    """delete_many_by_id analog (client/local.rs:39-50): tombstone doc_ids
    in the manifest (postings untouched until a future merge — like
    tantivy's deletes-as-tombstones). N and df keep counting deleted docs,
    matching tantivy's max_doc-based stats (SURVEY §2.11). The id list is
    caller-supplied (already driver-resident); bulk deletions at scale
    should go through upsert/compaction instead."""
    m = load_manifest(index_dir)
    if m is None:
        raise FileNotFoundError(f"no committed index at {index_dir}")
    m.tombstones = sorted(set(m.tombstones) | set(doc_ids))
    commit_manifest(index_dir, m)
    return m


def _tombstone_commit(spark: SparkSession, index_dir: str,
                      select_docs, label: str) -> Manifest:
    """Shared ordinal-tombstone writer: ``select_docs(doc_meta)`` narrows
    the stored-field view to the doomed rows; their (part_id, doc_ord)
    pairs are written as a parquet side table CLUSTER-side (nothing
    collected to the driver — at 10^12 docs the predicate scan and the
    tombstone write are both distributed). The dir name carries the
    manifest's commit counter: gen_id alone does NOT advance on delete,
    so two deletes in a row would otherwise mode(overwrite) the SAME dir
    and the second would destroy the first's ordinals on disk (its docs
    would silently resurface)."""
    m = load_manifest(index_dir)
    if m is None or not m.committed:
        raise FileNotFoundError(f"no committed index at {index_dir}")
    gen_id = max(g["gen"] for g in m.gen_list()) + 1
    tomb_rel = (f"tombstones/{label}{gen_id}_"
                f"{getattr(m, 'commit_seq', 0)}")
    (select_docs(doc_meta_view(spark, index_dir, m.gen_list()))
     .select("part_id", "doc_ord")
     .coalesce(1)
     .sortWithinPartitions("part_id", "doc_ord")
     .write.mode("overwrite").parquet(f"{index_dir}/{tomb_rel}"))
    m.tombstone_dirs = sorted(set(m.tombstone_dirs) | {tomb_rel})
    commit_manifest(index_dir, m)
    return m


def delete_by_urls(spark: SparkSession, index_dir: str,
                   urls: list[str]) -> Manifest:
    """index.delete_document_by_url analog (spyglass-rpc/src/lib.rs:51-52):
    tombstone every live copy of the given urls by ORDINAL."""
    url_df = spark.createDataFrame([(u,) for u in urls], "url string")
    return _tombstone_commit(
        spark, index_dir,
        lambda dm: dm.join(F.broadcast(url_df), "url", "leftsemi"),
        "url_del")


def delete_where(spark: SparkSession, index_dir: str, predicate) -> Manifest:
    """Predicate-tombstone delete over the stored-field columns (url,
    domain, doc_id, title, tags, published, lastmodified). The reference
    composes these shapes driver-side — find matching rows in SQLite,
    then ``delete_many_by_id`` (api/handler/mod.rs:274-288) — which
    collects every doomed id; here the predicate is evaluated inside the
    doc-meta scan and only ordinals are written."""
    return _tombstone_commit(spark, index_dir,
                             lambda dm: dm.filter(predicate), "pred_del")


def delete_by_domain(spark: SparkSession, index_dir: str,
                     domain: str) -> Manifest:
    """``delete_domain`` RPC analog (api/handler/mod.rs:256-293): remove
    every indexed doc whose domain matches (the reference also clears its
    crawl queues — out of rebuild scope)."""
    return delete_where(spark, index_dir, F.col("domain") == domain)


def delete_by_tag(spark: SparkSession, index_dir: str,
                  tag_id: int) -> Manifest:
    """``uninstall_lens`` document cleanup analog (api/handler/
    mod.rs:586-632, indexed_document::find_by_lens → delete_many_by_id):
    a lens is a tag, so removing a lens tombstones every doc carrying its
    tag id."""
    return delete_where(spark, index_dir,
                        F.array_contains(F.col("tags"), F.lit(int(tag_id))))


def recover_compaction(index_dir: str) -> str:
    """Heal a compaction interrupted between its two directory renames —
    the one non-atomic window in the index lifecycle (every other commit
    is a single manifest rename). Idempotent; safe to call on a healthy
    index. Returns what happened: ``"none"`` (healthy, nothing stray),
    ``"cleaned"`` (healthy; stray .old/.compacting leftovers removed),
    ``"completed"`` (index dir was missing and the rebuilt sibling holds
    a committed manifest CONTINUING the old seq line — finish the swap),
    or ``"rolled_back"`` (index dir missing, rebuild absent or its seq
    line regressed — restore the pre-compaction directory).

    The seq comparison is what makes completion safe: compact_index
    re-commits the rebuild at old_seq+1 *before* the swap, so a rebuild
    whose seq does not exceed the old directory's was interrupted before
    that re-commit and must never win (its snapshot ids would alias the
    pre-compaction history)."""
    import shutil

    old_dir = index_dir.rstrip("/") + ".old"
    tmp_dir = index_dir.rstrip("/") + ".compacting"
    if load_manifest(index_dir) is not None:
        stray = False
        for d in (old_dir, tmp_dir):
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                stray = True
        return "cleaned" if stray else "none"
    old_m = load_manifest(old_dir) if os.path.isdir(old_dir) else None
    if old_m is None:
        return "none"  # nothing recoverable (never built, or foreign dir)
    tmp_m = load_manifest(tmp_dir) if os.path.isdir(tmp_dir) else None
    if tmp_m is not None and tmp_m.committed and \
            tmp_m.commit_seq > old_m.commit_seq:
        os.rename(tmp_dir, index_dir)
        shutil.rmtree(old_dir, ignore_errors=True)
        return "completed"
    os.rename(old_dir, index_dir)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return "rolled_back"


def compact_index(spark: SparkSession, documents: DataFrame, index_dir: str,
                  num_partitions: int | None = None) -> Manifest:
    """Whole-index rewrite merge: collapse all generations into one and
    drop tombstones — the reference's two merge shapes in one: tantivy's
    segment merges discard deleted docs, and schema migrations re-add every
    stored doc to a fresh index (/root/reference/crates/migrations/src/
    m20230315_000001_migrate_search_schema.rs:86-120). ``documents`` is the
    system of record (the stored row store, SURVEY §1.1); only rows whose
    url is live in the current index are re-indexed.

    The rebuilt index is prepared in a sibling directory and swapped in via
    directory rename + fresh manifest commit; a crash anywhere is healed
    by ``recover_compaction`` (run automatically here and by SearchEngine
    when the manifest is missing). Open SearchEngines must call
    ``refresh()`` (or be rebuilt) after a compaction."""
    import shutil

    recover_compaction(index_dir)
    m = load_manifest(index_dir)
    if m is None or not m.committed:
        raise FileNotFoundError(f"no committed index at {index_dir}")

    dm = doc_meta_view(spark, index_dir, m.gen_list())
    tomb = tombstone_view(spark, index_dir, m)
    if tomb is not None:
        dm = dm.join(tomb.select("doc_ord"), "doc_ord", "leftanti")
    if m.tombstones:
        dm = dm.filter(~F.col("doc_id").isin(list(m.tombstones)))
    live_urls = dm.select("url").distinct()
    live_docs = documents.join(F.broadcast(live_urls), "url", "leftsemi")

    tmp_dir = index_dir.rstrip("/") + ".compacting"
    shutil.rmtree(tmp_dir, ignore_errors=True)
    new = build_index(spark, live_docs, tmp_dir,
                      num_partitions=num_partitions or m.num_partitions,
                      waves=1)
    # Snapshot-id continuity across the swap: the rebuild starts a fresh
    # manifest whose commit_seq restarts at 1, so a seq pinned BEFORE the
    # compaction (as_of) would silently alias the NEW state after it.
    # Snapshot ids must be unique over the index's lifetime — drop the
    # rebuild's transient history entries and re-commit at old_seq + 1:
    # pre-compaction seqs now raise loudly (their segments are gone) and
    # the monotonic-seq cache-epoch invariant survives the rebuild.
    for s in list_snapshots(tmp_dir):
        os.unlink(history_path(tmp_dir, s))
    new.commit_seq = m.commit_seq
    commit_manifest(tmp_dir, new)
    old_dir = index_dir.rstrip("/") + ".old"
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(index_dir, old_dir)
    os.rename(tmp_dir, index_dir)
    shutil.rmtree(old_dir, ignore_errors=True)
    return new


# ---------------------------------------------------------------------------
# incremental generation-pair merge
# ---------------------------------------------------------------------------

def _merge_part_factory(dead_kind_docmeta: int):
    """Build the cogrouped merge kernel (captures only constants so Spark
    can pickle it cheaply)."""
    from .codecs import (decode_positions_selected, decode_postings,
                         encode_positions, encode_postings)

    def _merge_part(key, store_pdf: pd.DataFrame, tomb_pdf: pd.DataFrame
                    ) -> pd.DataFrame:
        store_pdf = store_pdf[_OUT_COLUMNS]
        dead = (np.unique(tomb_pdf["local_ord"].to_numpy(np.int64))
                if len(tomb_pdf) else np.empty(0, np.int64))
        if dead.size == 0:
            return store_pdf  # untouched part: byte-identical pass-through

        kind = store_pdf["kind"].to_numpy()
        norms_rows = store_pdf[kind == KIND_NORMS]
        norms_by_field = {
            t: np.frombuffer(b, dtype=np.uint8)
            for t, b in zip(norms_rows["term"], norms_rows["doc_bytes"])}

        removed_cf: dict[str, int] = defaultdict(int)
        post = store_pdf[kind == KIND_POSTING]
        keep_idx: list[int] = []
        rewritten: list[dict] = []
        for r in post.itertuples():
            ords, tfs = decode_postings(r.doc_bytes, r.tf_bytes)
            mask = ~np.isin(ords.astype(np.int64), dead)
            if mask.all():
                keep_idx.append(r.Index)
                continue
            kept = np.flatnonzero(mask)
            removed_cf[r.field] += int(tfs.sum() - tfs[kept].sum())
            if kept.size == 0:
                continue  # term's last docs died → drop the chunk
            new_ords, new_tfs = ords[kept], tfs[kept]
            positions = decode_positions_selected(r.pos_bytes, tfs, kept)
            narr = norms_by_field[r.field]
            doc_b, tf_b, meta_b = encode_postings(
                new_ords, new_tfs, narr[new_ords.astype(np.int64)])
            d = r._asdict()
            d.pop("Index", None)
            d.update(df_part=int(kept.size), cf_part=int(new_tfs.sum()),
                     doc_bytes=doc_b, tf_bytes=tf_b,
                     pos_bytes=encode_positions(positions), meta_bytes=meta_b)
            rewritten.append(d)

        dm = store_pdf[kind == dead_kind_docmeta]
        dm_keep = dm[~dm["local_ord"].isin(dead)]
        n_dropped = len(dm) - len(dm_keep)

        norms_out = norms_rows.copy()
        norms_out["cf_part"] = (
            norms_rows["cf_part"]
            - norms_rows["term"].map(dict(removed_cf)).fillna(0)).astype("int64")

        lin = store_pdf[kind == KIND_LINEAGE].copy()
        if len(lin):
            total_removed = int(sum(removed_cf.values()))
            lin["df_part"] = lin["df_part"] - n_dropped
            lin["cf_part"] = lin["cf_part"] - total_removed
            lin["term"] = [
                json.dumps({**json.loads(t), "n_docs": int(d_),
                            "n_postings": int(c_), "merged": True})
                for t, d_, c_ in zip(lin["term"], lin["df_part"],
                                     lin["cf_part"])]

        frames = [post.loc[keep_idx]]
        if rewritten:
            frames.append(pd.DataFrame(rewritten)[_OUT_COLUMNS])
        frames += [norms_out, lin, store_pdf[kind == KIND_FAST], dm_keep]
        return pd.concat(frames, ignore_index=True)[_OUT_COLUMNS]

    return _merge_part


def merge_generations(spark: SparkSession, index_dir: str,
                      gen_ids: list[int] | None = None,
                      fail_before_commit: bool = False) -> Manifest:
    """Incremental compaction: merge two (or more) generations into one,
    physically dropping their tombstone-covered docs and pruning the
    applied tombstone side tables — the pairwise analog of tantivy's
    background segment merges (IndexWriter merge policy,
    /root/reference/crates/spyglass-searcher/src/client/local.rs:191-203).

    Unlike ``compact_index`` this needs NO external row store: it rewrites
    the segment stores themselves, preserving every surviving doc's
    ordinal (part_id/local_ord unchanged — tombstones created later still
    resolve). Posting chunks with no dead docs pass through byte-identical;
    chunks with dead docs are decoded, filtered, re-encoded with the same
    codecs as the build (so block-max WAND metadata stays exact). Global
    stats (num_docs / field_totals / df / cf) stop counting the dropped
    docs, matching tantivy's merge semantics (deleted docs leave the
    stats at merge time, not before).

    Scale shape: one cogrouped shuffle of the two stores keyed by part_id
    (the same key they were written with), one stats aggregation over
    pruned columns — no driver state proportional to data.
    """
    import shutil

    m = load_manifest(index_dir)
    if m is None or not m.committed:
        raise FileNotFoundError(f"no committed index at {index_dir}")
    gens = sorted(m.gen_list(), key=lambda g: g["gen"])
    if len(gens) < 2:
        return m
    if gen_ids is None:
        # the two lowest in part space: a merged generation takes a new
        # gen id but keeps the lowest offset, so the two oldest by gen id
        # need not be neighbours
        sel = sorted(gens, key=lambda g: g["part_offset"])[:2]
    else:
        sel = [g for g in gens if g["gen"] in set(gen_ids)]
        if len(sel) < 2:
            raise ValueError(f"need ≥2 generations to merge, got {sel}")
    rest = [g for g in gens if g not in sel]

    # merged part space must be contiguous (offsets are allocated
    # sequentially, so consecutive generations always are)
    span_lo = min(g["part_offset"] for g in sel)
    span_hi = max(g["part_offset"] + g["num_partitions"] for g in sel)
    covered = sorted(x for g in sel
                     for x in range(g["part_offset"],
                                    g["part_offset"] + g["num_partitions"]))
    if covered != list(range(span_lo, span_hi)):
        raise ValueError("selected generations are not contiguous in part "
                         f"space: {sel}")

    gen_id = max(g["gen"] for g in gens) + 1
    prefix = f"segments_m{gen_id}"

    store = reduce(DataFrame.unionByName,
                   [read_store(spark, index_dir, g["prefix"]).select(_OUT_COLUMNS)
                    for g in sel])

    # every tombstone ordinal that lands in the merged part range, from the
    # side tables plus the doc_id-keyed manifest tombstones
    LOCAL_MASK = (1 << ORD_SHIFT) - 1
    tomb_frames = []
    tv = tombstone_view(spark, index_dir, m)
    if tv is not None:
        tomb_frames.append(tv.select("part_id", "doc_ord"))
    if m.tombstones:
        tomb_frames.append(
            doc_meta_view(spark, index_dir, sel)
            .filter(F.col("doc_id").isin(list(m.tombstones)))
            .select("part_id", "doc_ord"))
    if tomb_frames:
        tomb = (reduce(DataFrame.unionByName, tomb_frames)
                .filter((F.col("part_id") >= span_lo) & (F.col("part_id") < span_hi))
                .select("part_id",
                        F.col("doc_ord").bitwiseAND(F.lit(LOCAL_MASK))
                        .cast("long").alias("local_ord")))
    else:
        tomb = spark.createDataFrame([], "part_id int, local_ord long")

    store_dir = f"{index_dir}/{prefix}/store"
    stats_dir = f"{index_dir}/{prefix}/term_stats"
    (store.groupby("part_id").cogroup(tomb.groupby("part_id"))
          .applyInPandas(_merge_part_factory(KIND_DOCMETA), SEGMENT_SCHEMA)
          .write.mode("overwrite")
          .option("parquet.block.size", str(STORE_BLOCK_BYTES))
          .option("parquet.page.size", str(STORE_PAGE_BYTES))
          .partitionBy("kind")
          .parquet(f"{store_dir}/wave=0"))

    merged_store = spark.read.parquet(store_dir)
    (merged_store.filter(F.col("kind") == KIND_POSTING)
     .select("field", "term", "df_part", "cf_part")
     .groupBy("field", "term")
     .agg(F.sum("df_part").alias("df"), F.sum("cf_part").alias("cf"),
          F.count("*").alias("n_chunks"))
     .repartitionByRange(max(spark.sparkContext.defaultParallelism // 2, 1),
                         "field", "term")
     .sortWithinPartitions("field", "term")
     .write.mode("overwrite")
     .option("parquet.block.size", str(4 * 1024 * 1024))
     .parquet(stats_dir))

    # stats deltas: old selected-gen totals vs merged totals, per field
    def _totals(paths: list[str]) -> dict[str, int]:
        st = spark.read.parquet(*paths)
        return {r["field"]: int(r["t"]) for r in
                st.groupBy("field").agg(F.sum("cf").alias("t")).collect()}

    old_totals = _totals([f"{index_dir}/{g['prefix']}/term_stats" for g in sel])
    new_totals = _totals([stats_dir])
    new_docs = int(merged_store.filter(F.col("kind") == KIND_LINEAGE)
                   .agg(F.sum("df_part")).collect()[0][0] or 0)
    old_docs = sum(g["num_docs"] for g in sel)

    # prune applied tombstones: keep only rows outside the merged range
    new_tomb_dirs: list[str] = []
    if tv is not None:
        remaining = tv.filter((F.col("part_id") < span_lo)
                              | (F.col("part_id") >= span_hi))
        if not remaining.isEmpty():
            rel = f"tombstones/postmerge{gen_id}"
            (remaining.coalesce(1).sortWithinPartitions("part_id", "doc_ord")
             .write.mode("overwrite").parquet(f"{index_dir}/{rel}"))
            new_tomb_dirs = [rel]
    old_tomb_dirs = list(m.tombstone_dirs)

    if fail_before_commit:  # crash-safety test hook: everything is
        # written but the manifest still references the old generations
        raise RuntimeError("injected failure before merge commit")

    merged_entry = {"gen": gen_id, "prefix": prefix, "part_offset": span_lo,
                    "num_partitions": span_hi - span_lo, "num_docs": new_docs}
    m.generations = sorted(rest + [merged_entry], key=lambda g: g["gen"])
    m.num_docs += new_docs - old_docs
    for f_ in set(old_totals) | set(new_totals):
        m.field_totals[f_] = (m.field_totals.get(f_, 0)
                              - old_totals.get(f_, 0) + new_totals.get(f_, 0))
    m.tombstone_dirs = new_tomb_dirs
    if not rest:
        # every generation is merged → doc_id tombstones are now physical
        m.tombstones = []
    m.metrics[f"merge_gen{gen_id}"] = {
        "merged": [g["gen"] for g in sel],
        "docs_dropped": old_docs - new_docs,
    }
    commit_manifest(index_dir, m)

    # old generation dirs + applied tombstone tables are garbage after the
    # atomic manifest commit; a crash before this point leaves them in
    # place (still referenced by the previous manifest — safe either way)
    for g in sel:
        shutil.rmtree(os.path.join(index_dir, g["prefix"]), ignore_errors=True)
    for d in old_tomb_dirs:
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    return m
