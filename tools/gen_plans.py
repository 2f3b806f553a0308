import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import functions as F

from spyglass_spark.session import get_spark

spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from spyglass_spark.corpus import load_corpus, to_documents
from spyglass_spark.index import builder as B

SF = "/root/testdata/sf0.001"
eng = E._get_engine(spark, SF)


def fmt_plan(df, max_lines=40):
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    lines = p.splitlines()
    head = []
    for ln in lines:
        head.append(ln)
        if len(head) >= max_lines:
            head.append("   ... (truncated)")
            break
    return "\n".join(head)


out = io.StringIO()
out.write("""# PLANS — physical-plan audit (generated)

`.explain("formatted")` captures for the engine's key operators, with the
properties that matter at 100 TB called out. Regenerate with
`python tools/gen_plans.py`.

""")


def section(title, df, notes, max_lines=40):
    out.write(f"## {title}\n\n{notes}\n\n```\n{fmt_plan(df, max_lines)}\n```\n\n")


postings = eng._postings_base.filter(
    (F.col("field") == "content") & (F.col("term") == "spark"))
section("Query-term postings scan (kind-partitioned store)", postings,
        "- Partition pruning on kind=0 (postings) via the directory layout;\n"
        "  `PushedFilters` on (field, term) reach the Parquet scan, and the\n"
        "  store is term-sorted PER PART with small row groups/pages, so\n"
        "  min/max stats prune chunks inside every part file.\n"
        "- ReadSchema carries only the scanned columns — payload bytes of\n"
        "  other kinds/terms are never read.")

scoring = eng._partial_frame(
    {"queries": [], "caches": {}, "limit": 10, "algo": "auto",
     "store_dirs": [], "store_epoch": ""},
    ["content"], ["spark"], False)
section("Search scoring stage (range-driven, no scan)", scoring,
        "- ONE stage, NO exchange, NO scan: Range emits one row per task\n"
        "  (min(parts, defaultParallelism) tasks), and each MapInPandas\n"
        "  task scores every n-th part with the driver-local reader and\n"
        "  kernel — a part/field/term-pruned pyarrow read of the posting\n"
        "  store plus the part's norms. No posting byte crosses the\n"
        "  JVM→Python boundary, and AQE has nothing to re-plan.", 30)

section("SQL-form BM25 top-k (pure DataFrame plan)", E.q_bm25_topk_simple(spark, SF),
        "- Whole-stage codegen end to end — zero Python in the plan.\n"
        "- Partial (map-side) aggregation before both shuffles; the tiny\n"
        "  corpus-stats side arrives via BroadcastExchange, and TakeOrderedAndProject\n"
        "  replaces a global sort for the top-k.", 60)

section("MinHash-LSH dedup", E.q_dedup_minhash_lsh(spark, SF),
        "- JVM expressions only (md5/concat/least): no BatchEvalPython/ArrowEvalPython.\n"
        "- The band join is a hash join on (band, sig); AQE may re-plan at runtime.", 60)

docs = to_documents(load_corpus(spark, SF)).withColumn("part_id", B.part_id_col(8))
skeys = B.identity_shuffle_keys(8)
docs = docs.withColumn("skey", F.element_at(
    F.array(*[F.lit(k) for k in skeys]), F.col("part_id") + 1))
stage1 = (docs.repartition(8, "skey").groupBy("skey")
          .applyInPandas(B._build_segment, B.SEGMENT_SCHEMA))
section("Index build stage 1 (tokenize + encode, identity exchange)", stage1,
        "- Exactly ONE shuffle: Catalyst recognizes repartition(P, skey)\n"
        "  satisfies the groupBy distribution, so no second exchange. The\n"
        "  skey values are murmur3 preimages — hash(skey) % P is the\n"
        "  IDENTITY map, one doc partition per task (uniform makespan).\n"
        "- A single FlatMapGroupsInPandas (Arrow-batched) does tokenize +\n"
        "  posting construction + codec — the only Python in the build.\n"
        "- Upstream: scan + derivation stay in codegen; uuid5 is the one\n"
        "  ArrowEvalPython (vectorized).", 45)

dm = eng._doc_meta_base.select("doc_ord", "doc_id")
section("doc_meta projection", dm,
        "- Column pruning: ReadSchema fetches only the projected columns\n"
        "  (+ partition metadata) — display-only fields are never read for\n"
        "  joins; kind=3 directory pruning skips the posting payloads.", 22)

section("Lens URL-rule filter", E.q_lens_url_filter(spark, SF),
        "- The compiled allow/skip regexes collapse to one codegen'd RLIKE\n"
        "  conjunction evaluated streaming in the scan stage — no shuffle,\n"
        "  no Python, no materialization of non-matching rows.", 30)

emb = spark.read.parquet(f"{SF}/embeddings.parquet")
qv = [0.1] * 64
from spyglass_spark.ops.similarity import l2_topk

section("ANN L2 top-k (semantic-boost distance source)", l2_topk(emb, qv, k=10),
        "- zip_with/aggregate JVM expressions (no UDF); TakeOrderedAndProject\n"
        "  keeps the top-k per partition then merges — no global sort.", 30)

section("IVF ANN probe over persisted lists (partition-pruned)",
        E.q_ann_ivf_indexed(spark, SF),
        "- The list table is hive-partitioned by centroid\n"
        "  (write_ivf_lists); the nprobe filter lands as PartitionFilters\n"
        "  on the scan, so only the probed list directories are read —\n"
        "  per-query cost O(nprobe x list size), not O(N). The unindexed\n"
        "  ivf_cosine_topk recomputes assignment per query and cannot\n"
        "  prune; tests/test_ops.py proves the pruning functionally\n"
        "  (non-probed partitions corrupted, probe still answers).", 30)

from spyglass_spark.ops.context import document_distance, segment_documents

cdocs = E._seg_frame(spark, SF)[1]
section("Embedding segmentation (sequence/explode, codegen)",
        segment_documents(to_documents(load_corpus(spark, SF))
                          .select("doc_id", "url",
                                  F.col("content")), max_tokens=16),
        "- Pure projection: sequence + explode + substring stay inside\n"
        "  whole-stage codegen; no Python, no shuffle. Row-multiplying —\n"
        "  repartition a single-file input upstream (CLAUDE.md gotcha).", 25)

section("Segment k-NN → per-doc rank-1 (get_document_distance analog)",
        document_distance(cdocs, E._seg_qvec(), top_x=10),
        "- The k=3·top_x k-NN is TakeOrderedAndProject (per-partition\n"
        "  top-k, driver merge of P·k rows) — never a full sort/shuffle.\n"
        "- The per-document ROW_NUMBER window then runs on ≤k constant\n"
        "  rows; at billion-segment scale the scan slice swaps for the\n"
        "  IVF-indexed candidate stream with the same downstream plan.", 45)

section("Facet counts over a driver-local match frame",
        eng.facet_counts("spark merge join"),
        "- Below the driver-local gate the match frame is built on the\n"
        "  driver and crosses to the JVM as one Arrow LocalRelation,\n"
        "  coalesced to ONE partition (no shuffle). Coalesce 1 reports\n"
        "  SinglePartition, which satisfies the groupBy's clustered and\n"
        "  the orderBy's ordered distribution, so the plan has NO\n"
        "  Exchange: the partial and final aggregates and the sort run\n"
        "  in one single-task stage, one Spark job per collect.", 30)

# The match-frame notes from here to the count collector describe the
# distributed frame, the path above the driver-local gate (the 100 TB
# path). sf0.001 passes that gate, so pin the distributed path for these
# captures and restore the gate afterwards.
from spyglass_spark.query import executor as X

_local_parts = X.LOCAL_EXEC_MAX_PARTS
X.LOCAL_EXEC_MAX_PARTS = 0

section("Facet counts over the full match set",
        eng.facet_counts("spark merge join"),
        "- Term-pruned posting scan → Arrow-batched decode → distinct\n"
        "  union; Musts/MustNots as leftsemi/leftanti hash joins on\n"
        "  doc_ord; tags from the doc-meta scan of matched ords; final\n"
        "  O(#tags) partial-aggregated groupBy. No scoring pass, no\n"
        "  position decode, no driver materialization.", 50)

section("Date-histogram over the full match set",
        eng.date_histogram("spark merge join",
                           interval_us=7 * 86_400_000_000),
        "- Same match-set subtree as facet_counts; the bucket expression\n"
        "  is exact integer `div` arithmetic inside whole-stage codegen\n"
        "  (no UDF, no float floor); ONE partial-aggregated groupBy on\n"
        "  doc-local bucket keys -> skew-free shuffle, O(#buckets) rows.", 50)

section("Field stats (StatsAggregation analog) over the full match set",
        eng.field_stats("spark merge join"),
        "- Single partial->final hash agg in codegen; sum accumulates in\n"
        "  decimal(38,0) (order-independent, overflow-safe) and avg is\n"
        "  one double division in the final project. Output is ONE row;\n"
        "  nothing scales with the corpus past the match-set subtree.", 50)

section("Percentiles (PercentilesAggregation analog) over the match set",
        eng.percentiles("spark merge join"),
        "- Exact form: Spark's `percentile` merges a value->count map\n"
        "  across partitions (partial_percentile in the plan), then ONE\n"
        "  double interpolation -- partition-order independent, bitwise\n"
        "  equal to the scalar formula (test_facets pins it). Memory is\n"
        "  O(#distinct) in the final buffer; the approx_accuracy path\n"
        "  switches to approx_percentile (Greenwald-Khanna sketch,\n"
        "  bounded memory) for 100 TB high-cardinality columns --\n"
        "  the same exact-baseline/sketch-scale split tantivy makes.", 50)

section("Facet terms + nested stats metric over the match set",
        eng.facet_stats("spark merge join"),
        "- Doc-local explode then ONE partial->final hash agg keyed on\n"
        "  the facet value: doc_count/n/min/max in codegen, sum in\n"
        "  decimal(38,0), avg one double division in the final project.\n"
        "  Same match-set subtree as facet_counts; output O(#facets).", 50)

section("Range buckets (RangeAggregation analog) over the match set",
        eng.range_agg("spark merge join",
                      ranges=(("old", None, 1_650_000_000_000_000),
                              ("new", 1_650_000_000_000_000, None),
                              ("all", None, None))),
        "- Membership = array-literal filter/transform + explode, pure\n"
        "  codegen; doc-local bucket indexes -> skew-free ONE groupBy of\n"
        "  O(#ranges) output; the request frame is a job-free VALUES\n"
        "  LocalRelation joined broadcast to the counts (empty buckets\n"
        "  survive as n=0). Nothing scales past the match-set subtree.", 50)

section("Cardinality metric (exact two-phase distinct) over the match set",
        eng.cardinality("spark merge join", col="domain",
                        facet_col="tags"),
        "- Exact form: count_distinct = two HashAggregate pairs (value\n"
        "  de-dup then count) -- exact at any partitioning, shuffle\n"
        "  O(#distinct). The rsd form swaps in approx_count_distinct\n"
        "  (HyperLogLog++: fixed-size sketch, ONE partial->final agg,\n"
        "  no value shuffle) for 100 TB cardinalities.", 50)

section("Extended stats (ExtendedStatsAggregation analog) over the match set",
        eng.extended_stats("spark merge join",
                           shift=1_577_836_800_000_000),
        "- ONE partial->final hash agg in codegen: every sum is an exact\n"
        "  decimal aggregate (order-independent); avg/variance/std and\n"
        "  the sigma bounds are a fixed double expression tree in the\n"
        "  final project -- hash-gradeable at any partitioning. The\n"
        "  epoch shift keeps sum((x-c)^2) inside decimal(38,0) at any\n"
        "  match count; the raw sum-of-squares column degrades to NULL\n"
        "  via try_sum instead of erroring. Output is ONE row.", 50)

section("Top-hits sub-aggregation under the terms bucket",
        eng.top_hits("spark merge join"),
        "- Exact per-facet top-k with NO window over the full match\n"
        "  set: phase 1 groups on (tag, doc_ord mod S) and keeps a\n"
        "  k-clamped sorted array per salted bucket, phase 2 merges\n"
        "  <= S*k rows per tag the same way -- a hot tag never\n"
        "  materializes its full match list on one reducer. All\n"
        "  array_sort/slice in codegen; shuffle O(matched doc-tag\n"
        "  pairs), output O(#tags * k).", 50)

section("Order-by-fast-field search (TopDocs::order_by_u64_field analog)",
        eng.search_sorted("spark merge join", k=5, offset=2),
        "- The match-set semijoin feeds ONE global TakeOrderedAndProject\n"
        "  of limit offset+k: each partition keeps its local head, the\n"
        "  driver merges O(P*(offset+k)) rows; the rank window then runs\n"
        "  over that clamped frame only. No full sort of the match set\n"
        "  at any scale; deep offsets belong to the cursor API instead.", 50)

section("Sorted-collector cursor page (search_sorted after=...)",
        eng.search_sorted("spark merge join", k=5,
                          after=(1_700_000_000_000_000, "")),
        "- The (col,url) cursor is a strict scan predicate Catalyst\n"
        "  pushes below the TakeOrderedAndProject of limit k: a page at\n"
        "  ANY depth merges parts*k rows, vs offset's parts*(offset+k).\n"
        "  Same O(k)-per-page shape as the BM25 search_after cursor.", 50)

section("Gap-filled date histogram (min_doc_count=0, tantivy's default)",
        eng.date_histogram("spark merge join",
                           interval_us=7 * 86_400_000_000,
                           min_doc_count=0),
        "- Occupied counts from the usual ONE hash agg; the empty-\n"
        "  bucket grid comes from a sequence/explode over a single\n"
        "  (min,max) agg row with the 65536-bucket limit guard folded\n"
        "  into the sequence bound (an unused assert column would be\n"
        "  pruned by Catalyst). Grid LEFT-joins the counts; both join\n"
        "  sides are O(#buckets), never O(matches).", 50)

section("Terms aggregation (size + sum_other_doc_count)",
        eng.terms_agg("spark merge join", size=5),
        "- facet_counts' single partial->final hash agg over the\n"
        "  exploded (doc,tag) pairs, then the top-size limit, ONE 1-row\n"
        "  total over all buckets and ONE broadcast crossJoin of it onto\n"
        "  the top rows; the kept sum is a window over those <= size\n"
        "  rows, whose limit output is already one partition, so the\n"
        "  window plans no exchange. Everything after the agg runs on\n"
        "  O(#distinct tags) rows; the ES-contract other-count costs no\n"
        "  second match-set pass.", 50)

section("Generic histogram with the full knob set (offset + bounds)",
        eng.histogram("spark merge join", interval=7 * 86_400_000_000,
                      offset=3 * 86_400_000_000 + 54_321,
                      hard_bounds=(1_664_000_000_000_000,
                                   1_704_067_200_000_000),
                      extended_bounds=(1_664_000_000_000_000,
                                       1_704_067_200_000_000),
                      min_doc_count=0),
        "- Same ONE-hash-agg shape as the date histogram: the floor-mod\n"
        "  bucket key (value - pmod(value-offset, interval)) is pure\n"
        "  codegen integer arithmetic, the hard_bounds cut is a plain\n"
        "  Filter BEFORE the agg (rows outside never reach it), and the\n"
        "  extended bounds fold into the grid's least/greatest on the\n"
        "  single (min,max) row -- no extra pass for any knob.", 55)

section("Nested stats under histogram buckets (histogram_stats)",
        eng.histogram_stats("spark merge join",
                            interval=7 * 86_400_000_000,
                            min_doc_count=0),
        "- ONE partial->final hash agg on the doc-local bucket key\n"
        "  computes doc_count AND the nested (n, min, max, decimal-\n"
        "  exact sum) together -- the sub-aggregation costs no second\n"
        "  match-set traversal; the gap-fill grid LEFT-join runs on\n"
        "  O(#buckets) rows as in the plain histogram.", 55)

section("Pipeline aggregation (derivative over sibling buckets)",
        eng.derivative(eng.date_histogram("spark merge join",
                                          interval_us=7 * 86_400_000_000,
                                          min_doc_count=0)),
        "- The ES parent-pipeline property in the plan: the input is the\n"
        "  SIBLING bucket frame, so the window (lag over bucket asc)\n"
        "  sits on O(#buckets) rows above the bucket agg -- the match\n"
        "  set's scan/agg subtree appears ONCE. The single-partition\n"
        "  window is bounded by the 65536 max_buckets guard.", 60)

section("Percentile ranks (inverse percentiles, no sort / no value map)",
        eng.percentile_ranks("spark merge join",
                             values=(1_600_000_000_000_000,
                                     1_680_000_000_000_000)),
        "- Per probe only THREE conditional aggregates (count <= v,\n"
        "  max <= v, min > v) in the usual single partial->final pass;\n"
        "  the inverse interpolation is a projection on the one agg\n"
        "  row. No sort, no percentile value->count map: the agg buffer\n"
        "  is O(#probes) at any data size (exact percentiles is\n"
        "  O(#distinct) and needs the sketch fallback at 100 TB; ranks\n"
        "  never do).", 55)

section("Filters buckets (ES `filters` agg: named predicates + _other_)",
        eng.filters_agg("spark merge join", specs={
            "src0": (("domain", "eq", "src0"),),
            "y24": (("lastmodified", "gte", 1_704_067_200_000_000),)},
            other_bucket=True),
        "- The per-bucket membership test is ONE when()-chain array\n"
        "  literal + explode inside whole-stage codegen (no UDF, no\n"
        "  second match-set pass); bucket ids are doc-local -> the\n"
        "  single groupBy shuffles O(#buckets x partitions) partial\n"
        "  rows. The request-order frame is a literal VALUES\n"
        "  LocalRelation (job-free) broadcast-joined to the counts.", 45)

section("Rare terms (ES `rare_terms`: exact long tail of the facet)",
        eng.rare_terms("spark merge join", max_doc_count=30),
        "- terms_agg's partial->final hash agg with the OPPOSITE count\n"
        "  filter -- exact where ES ships a CuckooFilter approximation,\n"
        "  same single shuffle. The count cut sits above the final agg\n"
        "  on O(#distinct values) rows; output is the tail side of the\n"
        "  vocabulary, so renderers cap downstream with limit().", 40)

section("Composite aggregation page (multi-source keys + after-cursor)",
        eng.composite_agg("spark merge join", sources=(
            {"name": "dom", "col": "domain"},
            {"name": "month", "col": "lastmodified",
             "kind": "date_histogram", "interval": 2_592_000_000_000}),
            size=4, after=("src0", 1_640_736_000_000_000)),
        "- Both source keys are doc-local codegen expressions (raw\n"
        "  column / floor-mod bucket) -> ONE skew-free groupBy; the\n"
        "  page is a TakeOrderedAndProject of limit size (per-partition\n"
        "  local top-size, O(parts x size) driver merge). The\n"
        "  strict-lexicographic after predicate lands even lower than\n"
        "  designed: the keys are deterministic, so Catalyst pushes the\n"
        "  cursor THROUGH the aggregate into the doc-meta scan Filter\n"
        "  (visible in (2) below) -- pre-cursor docs never even reach\n"
        "  the hash agg, page depth never raises cost, and no stage\n"
        "  holds the full bucket set (the scale-safe bucket EXPORT,\n"
        "  unlike terms/histogram whose final orderBy frame is\n"
        "  O(#buckets)).", 50)

section("Adjacency matrix (named filters + '&' pair intersections)",
        eng.adjacency_matrix("spark merge join", specs={
            "src0": (("domain", "eq", "src0"),),
            "y24": (("lastmodified", "gte", 1_704_067_200_000_000),)}),
        "- The matched-filter ids are the same ONE when()-chain array\n"
        "  as filters_agg; singleton AND pair bucket keys are emitted\n"
        "  doc-locally from it via transform/slice/flatten -- pure\n"
        "  codegen, no UDF, ONE match-set pass, one groupBy of\n"
        "  O(#buckets x partitions) partials with #buckets <=\n"
        "  k(k+1)/2.", 40)

section("Boxplot metric (exact quartiles + Tukey whiskers)",
        eng.boxplot("spark merge join"),
        "- Two chained aggregates in ONE lazy plan: the quartile row\n"
        "  (exactly-merged percentile map) broadcasts into a second\n"
        "  conditional min/max pass for the whisker values -- no sort,\n"
        "  no driver materialization between them; the match-set\n"
        "  subtree feeds both via the shared persisted frame under\n"
        "  aggregate(). median_absolute_deviation chains the same\n"
        "  way (median -> |x - med| -> median).", 45)

from spyglass_spark.ops.percolate import percolate as _percolate

section("Percolator (stored queries vs a documents frame, no index)",
        _percolate(spark, to_documents(load_corpus(spark, SF)), [
            {"key": "alert", "query": "merge join table"},
            {"key": "tagged", "query": "spark key",
             "filters": [("tag", 4)]}]),
        "- ONE tokenize pass (the index build's vectorized kernel in\n"
        "  mapInPandas) emits distinct (url, field, term) triples; the\n"
        "  compiled queries flatten into kilobyte VALUES LocalRelations\n"
        "  that BROADCAST into every join (should/must/must_not) -- the\n"
        "  document side never shuffles more than its own term triples,\n"
        "  and clause counting is partial->final on doc-local keys.\n"
        "  No per-doc query loop, no per-query scan: Q queries x M\n"
        "  docs costs one job.", 60)

section("Rescore phase (top-window weighted re-rank, ES rescore)",
        eng.search_rescore("spark merge join", "window sort",
                           window_size=10, rescore_weight=2.0, k=5),
        "- Cheap-retrieval / expensive-rerank split: the primary\n"
        "  window is a TakeOrderedAndProject of O(window) tiny\n"
        "  (doc_ord, score) rows; the secondary's O(matches) score\n"
        "  frame attaches by a broadcast LEFT join onto that window\n"
        "  (missing -> 0); the float32 weighted sum and the final\n"
        "  top-k both run on O(window) rows. Neither pass decodes\n"
        "  positions or payloads outside the scoring kernel.", 55)

section("Field collapsing (best hit per group, ES collapse)",
        eng.search_collapse("spark merge join", k=5),
        "- The per-group argmax is a partial->final hash agg (min of a\n"
        "  (-score, url) struct, lexicographic): map-side combine\n"
        "  applies, so a HOT group (one domain dominating the match\n"
        "  set) reduces per-partition before the exchange -- no\n"
        "  window, no per-group sort. The page is a\n"
        "  TakeOrderedAndProject of offset+k over O(#groups) rows.", 50)

section("Auto date histogram (ladder rung + gap-filled grid)",
        eng.auto_date_histogram("spark merge join", target_buckets=12),
        "- The rung choice reads ONE (min,max) row driver-side (O(1)\n"
        "  data); the emitted plan is the standard gap-filled\n"
        "  histogram at the chosen rung -- doc-local floor-mod keys,\n"
        "  one groupBy, sequence/explode grid -- plus a constant\n"
        "  interval echo column.", 45)

from spyglass_spark.query.compiler import compile_query

_exp_urls = eng._match_doc_meta(
    compile_query("spark merge join"), caller="plans").select(
    "url").distinct()
_exp_docs = to_documents(load_corpus(spark, SF))
section("Export sink (match set -> parquet dataset of full rows)",
        eng._export_frame(_exp_urls, _exp_docs,
                          ["url", "content_sha256"], broadcast=True),
        "- The match-set urls are ONE distinct column; broadcast below\n"
        "  the limit makes the (100 TB) documents side a map-side\n"
        "  BroadcastHashJoin LeftSemi -- NO exchange of the big side\n"
        "  anywhere in the plan, and its scan keeps column pruning\n"
        "  (ReadSchema carries only the exported columns). Above the\n"
        "  limit the same frame degrades to a shuffle-hash leftsemi.\n"
        "- At run time the url set is persisted across the count and\n"
        "  the join, so the posting-union match machinery runs once.", 50)

section("Scored export (relevance-weighted extraction sink)",
        _exp_docs.join(
            F.broadcast(eng.score_matches("spark merge join")
                        .select("url", "score")), "url"),
        "- score_matches: the SAME scan->score shape as search but with\n"
        "  no per-part truncation (exhaustive, limit=None) -- per-part\n"
        "  output is O(matches) tiny (doc_ord, score) rows, joined to\n"
        "  the column-pruned doc_meta metadata for urls. The (url,\n"
        "  score) frame then broadcasts, so the system-of-record side\n"
        "  joins map-side with NO exchange and keeps column pruning --\n"
        "  identical scale shape to the unscored export.", 55)

section("Count collector (full-match-set size, no scoring)",
        eng.count_matches("spark merge join"),
        "- ONE partial->final HashAggregate pair over the shared\n"
        "  match-set frame; the postings scan is column-pruned to\n"
        "  doc_ord (payload/positions never in ReadSchema) and nothing\n"
        "  is decoded or scored -- the cheapest full-match pass at any\n"
        "  scale. Output is exactly one row.", 50)

X.LOCAL_EXEC_MAX_PARTS = _local_parts

from spyglass_spark.index.fsck import fsck

section("Index integrity audit (fsck)",
        fsck(spark, eng.index_dir),
        "- Heavy pass: kind-pruned store scan -> mapInPandas, NO exchange:\n"
        "  payload bytes are read once and never shuffled (each chunk\n"
        "  audits independently; per-part fieldnorms come from the query\n"
        "  path's per-worker fragment-mapped pyarrow reads). Memory = one\n"
        "  scan batch.\n"
        "- All cross-chunk checks (norms totals, doc_meta ordinals,\n"
        "  term_stats) are column-pruned metadata joins - the payload\n"
        "  columns never appear in their ReadSchema.", 60)

open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                  "PLANS.md"), "w").write(out.getvalue())
print("written")
spark.stop()
