#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Covers the BASELINE.md targets:
  - index-build throughput (docs/sec, tokens/sec, skew ratios)
  - scaling efficiency between two parallelism levels, lo = N/4 and
    hi = N cores (N = SPARK_GRAFT_CPUS, default the host's CPU count),
    run as separate JVMs via subprocess on the SAME input
  - headline query latencies: BM25 search (hot term / phrase / batch),
    SQL-oracle-form BM25, minhash-LSH dedup, ANN cosine top-k.

The host is measured as it is, and the variance is reported beside each
number:
  - legs are INTERLEAVED (lo, hi, lo, hi, ...) for exactly LEG_ROUNDS
    rounds so noise hits both levels; each level keeps its best leg and
    reports build_sec_spread_{c}c = [min, median, max] over its rounds;
  - a pure tokenize+encode kernel at lo and hi concurrent processes is
    the control: if the kernel itself doesn't scale, the host was
    saturated and the end-to-end ratio is not interpretable. It runs
    KERNEL_SAMPLES times per level and round; kernel_tokens_per_sec_{c}p
    keeps the best sample, kernel_tokens_per_sec_spread_{c}p reports
    [min, median, max];
  - each leg also times a small warmup build of the IDENTICAL derivation
    (1/REPLICAS of the docs): the marginal throughput
    (docs_big − docs_small) / (T_big − T_small) cancels fixed per-build
    orchestration cost to first order, isolating the scalable portion —
    reported as scaling_efficiency_marginal_{lo}_to_{hi};
  - the headline query set runs three times on the same engine:
    ``queries`` is the first pass, ``queries_spread`` the
    [min, median, max] of each query over the three;
  - right after engine open, FLOOR_JOBS no-op mapInPandas jobs of
    defaultParallelism tasks give ``python_task_floor_ms``
    [min, median, max]: the per-task floor of a distributed search;
  - the four aggregation kinds of perfbench's bulk workload run AGG_PASSES
    times per query of AGG_QUERIES, whose match sets fall under and above
    the driver-local match-frame gate: ``agg_ms`` is each call's
    [min, median, max] ms (frame build plus collect), ``agg_spark_jobs``
    its median Spark job count.
At N = 32 the build keys are the historical _8c/_32c names, so the
BENCH_r0*.json rows stay comparable on a 32-core host.

Corpus: deterministic derivation of {sf_dir}/documents.parquet, replicated
REPLICAS× with per-doc content repeated CONTENT_REPEAT× (real source files
are KBs, not 300 bytes — token-level work must dominate row overhead for
the scaling measurement to mean anything). No external data.

Work dirs default to /dev/shm: tmpfs stands in for per-executor local
disks, so the build legs measure CPU work rather than one shared block
device.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
REPLICAS = int(os.environ.get("SPYGLASS_BENCH_REPLICAS", "64"))
# one round keeps a full run under 10 min on a 4-CPU host (7.5 min end
# to end with one round, 11.7 min with two: the 1-core leg alone builds
# for 140-165 s); more rounds give the build_sec spreads real width
LEG_ROUNDS = int(os.environ.get("SPYGLASS_BENCH_LEG_RUNS", "1"))
CONTENT_REPEAT = int(os.environ.get("SPYGLASS_BENCH_CONTENT_REPEAT", "16"))
NUM_PARTS = int(os.environ.get("SPYGLASS_BENCH_PARTS", "128"))
WORK_DIR = os.environ.get("SPYGLASS_BENCH_DIR",
                          "/dev/shm/spyglass_bench"
                          if os.path.isdir("/dev/shm") else "/tmp/spyglass_bench")
HEADLINE_PASSES = 3
KERNEL_SAMPLES = 3
FLOOR_JOBS = 5
AGG_PASSES = 3
# "dup" is in 5 % of the base documents, so its match set stays under
# MERGE_COLLECT_MAX and the frame is built on the driver; "join" is in
# 77 %, over that bound at the default REPLICAS, so its frame is distributed
AGG_QUERIES = ("dup", "join")
AGG_CALLS = {"count_matches": {}, "facet_counts": {},
             "terms_agg": {"facet_col": "domain"}, "date_histogram": {}}


def _leg_session(cores: int):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.appName(f"bench-build-{cores}")
            .master(f"local[{cores}]")
            .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.local.dir", f"{WORK_DIR}/spark_local")
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate())


def _bench_docs(spark, replicas: int):
    from pyspark.sql import functions as F

    from spyglass_spark.corpus import load_corpus, to_documents

    c = load_corpus(spark, SF_DIR, replicas=replicas)
    if CONTENT_REPEAT > 1:
        c = c.withColumn("content",
                         F.repeat(F.concat(F.col("content"), F.lit(" ")),
                                  CONTENT_REPEAT))
    return to_documents(c)


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def build_leg(cores: int, out_path: str) -> None:
    """Child process: timed small build (1/REPLICAS of the docs — doubles
    as warmup AND the fixed-cost probe for the marginal methodology), then
    the timed full build."""
    from spyglass_spark.index.builder import build_index

    spark = _leg_session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = f"{WORK_DIR}/warm_c{cores}"
    shutil.rmtree(warm_dir, ignore_errors=True)
    # throwaway: spawn python workers + codegen + parquet codepaths
    build_index(spark, _bench_docs(spark, 1), f"{warm_dir}0",
                num_partitions=32, waves=1)
    t0 = time.time()
    m_small = build_index(spark, _bench_docs(spark, 1), warm_dir,
                          num_partitions=32, waves=1)
    small_sec = time.time() - t0

    index_dir = f"{WORK_DIR}/index_c{cores}"
    shutil.rmtree(index_dir, ignore_errors=True)
    docs = _bench_docs(spark, REPLICAS)
    t0 = time.time()
    m = build_index(spark, docs, index_dir, num_partitions=NUM_PARTS, waves=1)
    elapsed = time.time() - t0
    marginal = marginal_rate(m.num_docs - m_small.num_docs,
                             elapsed - small_sec)
    with open(out_path, "w") as f:
        json.dump({"cores": cores, "n_docs": m.num_docs, "build_sec": elapsed,
                   "docs_per_sec": m.num_docs / elapsed,
                   "small_docs": m_small.num_docs, "small_sec": small_sec,
                   "marginal_docs_per_sec": marginal,
                   "tokens_per_sec": m.field_totals.get("content", 0) / elapsed,
                   "postings_per_sec": m.metrics.get("postings_per_sec"),
                   "stage1_sec": m.metrics.get("stage1_sec"),
                   "stats_sec": m.metrics.get("stats_sec"),
                   "partition_skew_ratio": m.metrics.get("partition_skew_ratio"),
                   "term_df_skew_ratio": m.metrics.get("term_df_skew_ratio"),
                   "index_dir": index_dir}, f)
    spark.stop()


def marginal_rate(extra_docs: int, extra_sec: float) -> float | None:
    """Docs/sec of the full build beyond the small one; None when it is
    not measurable: the two builds index the same docs, or the full
    build was no slower than the small one."""
    if extra_docs <= 0 or extra_sec <= 0:
        return None
    return extra_docs / extra_sec


def _run_leg(cores: int) -> dict:
    out = f"{WORK_DIR}/leg_{cores}.json"
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", SF_DIR)
    subprocess.run([sys.executable, os.path.abspath(__file__),
                    "--build-leg", str(cores), out], check=True, env=env,
                   stdout=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def leg_levels(cpus: int) -> tuple[int, int]:
    """The two build parallelism levels: (N/4, N), floored at 1."""
    return max(1, cpus // 4), cpus


def spread(values) -> list:
    """[min, median, max] — the variance every repeated number reports."""
    return [min(values), statistics.median(values), max(values)]


def _best_leg(legs: list[dict], cores: int) -> dict:
    return min((g for g in legs if g["cores"] == cores),
               key=lambda r: r["build_sec"])


def _round(v, digits: int):
    return None if v is None else round(v, digits)


def summarize_legs(legs: list[dict], kernel: dict[int, float],
                   lo: int, hi: int,
                   kernel_samples: dict[int, list] | None = None) -> dict:
    """Build-leg summary keyed by core count: each level keeps its
    fastest leg (by build_sec) plus the [min, median, max] build_sec
    over all its legs; ratios are divided by hi/lo so 1.0 is linear
    scaling, and a marginal rate that is not measurable (None, see
    marginal_rate) makes its ratio None too. ``kernel`` is the best
    control throughput per level; ``kernel_samples``, when given, adds
    each level's [min, median, max] over all its control samples."""
    b_lo, b_hi = _best_leg(legs, lo), _best_leg(legs, hi)
    m_lo, m_hi = b_lo["marginal_docs_per_sec"], b_hi["marginal_docs_per_sec"]
    ideal = hi / lo
    out = {
        "n_docs": b_hi["n_docs"],
        f"docs_per_sec_{lo}c": round(b_lo["docs_per_sec"], 1),
        f"docs_per_sec_{hi}c": round(b_hi["docs_per_sec"], 1),
        f"tokens_per_sec_{hi}c": round(b_hi["tokens_per_sec"], 1),
        f"build_sec_{lo}c": round(b_lo["build_sec"], 2),
        f"build_sec_{hi}c": round(b_hi["build_sec"], 2),
        f"stage1_sec_{hi}c": b_hi.get("stage1_sec"),
        f"stats_sec_{hi}c": b_hi.get("stats_sec"),
        f"scaling_efficiency_{lo}_to_{hi}": round(
            (b_hi["docs_per_sec"] / b_lo["docs_per_sec"]) / ideal, 3),
        f"marginal_docs_per_sec_{lo}c": _round(m_lo, 1),
        f"marginal_docs_per_sec_{hi}c": _round(m_hi, 1),
        f"scaling_efficiency_marginal_{lo}_to_{hi}": (
            None if m_lo is None or m_hi is None
            else round((m_hi / m_lo) / ideal, 3)),
        f"kernel_tokens_per_sec_{lo}p": round(kernel[lo], 1),
        f"kernel_tokens_per_sec_{hi}p": round(kernel[hi], 1),
        f"kernel_scaling_efficiency_{lo}_to_{hi}": round(
            (kernel[hi] / kernel[lo]) / ideal, 3),
        f"postings_per_sec_{hi}c": b_hi["postings_per_sec"],
        "partition_skew_ratio": b_hi["partition_skew_ratio"],
        "term_df_skew_ratio": b_hi["term_df_skew_ratio"],
    }
    for c in (lo, hi):
        out[f"build_sec_spread_{c}c"] = [round(v, 2) for v in spread(
            [g["build_sec"] for g in legs if g["cores"] == c])]
        if kernel_samples:
            out[f"kernel_tokens_per_sec_spread_{c}p"] = [
                round(v, 1) for v in spread(kernel_samples[c])]
    return out


_KERNEL_CODE = """
import sys, time
sys.path.insert(0, {repo!r})
import duckdb, numpy as np
texts = [r[0]*{rep} for r in duckdb.sql(
    "SELECT text FROM '{sf}/documents.parquet'").fetchall()]
from spyglass_spark.analysis.analyzer import tokenize_arrays
from spyglass_spark.index.codecs import bulk_encode_postings
t0 = time.time()
vocab, starts, ords, tfs, pos, counts = tokenize_arrays(texts, "en")
bulk_encode_postings(starts, ords, tfs, np.ones(ords.size, np.uint8), pos)
print(int(counts.sum()) / (time.time() - t0))
"""


def _kernel_throughput(procs: int) -> float:
    """Aggregate tokenize+encode tokens/sec across N concurrent processes
    — the data-parallel portion of the build, free of Spark/host-IO noise."""
    code = _KERNEL_CODE.format(repo=REPO, sf=SF_DIR, rep=CONTENT_REPEAT)
    ps = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
          for _ in range(procs)]
    return sum(float(p.communicate()[0]) for p in ps)


def python_task_floor(spark, jobs: int = FLOOR_JOBS) -> list:
    """Wall seconds of each of ``jobs`` no-op mapInPandas jobs of
    defaultParallelism tasks: the fixed Python-task cost under every
    distributed search batch."""
    from spyglass_spark.query.executor import _identity_batches

    n = spark.sparkContext.defaultParallelism
    secs = []
    for _ in range(jobs):
        t0 = time.perf_counter()
        spark.range(0, n, 1, n).mapInPandas(_identity_batches,
                                            "id long").count()
        secs.append(time.perf_counter() - t0)
    return secs


def task_floor_ms(secs) -> list:
    """python_task_floor_ms: [min, median, max] of the floor jobs, ms."""
    return [round(v * 1000, 1) for v in spread(secs)]


def run_agg_pass(spark, eng, n: int) -> dict:
    """Pass ``n`` of AGG_CALLS over every query of AGG_QUERIES:
    {query: {kind: (ms, Spark jobs)}}, the ms covering the frame build
    and the collect, the jobs counted with a job group of its own."""
    sc = spark.sparkContext
    out: dict = {}
    for q in AGG_QUERIES:
        for kind, params in AGG_CALLS.items():
            group = f"bench-agg{n}-{q}-{kind}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                getattr(eng, kind)(q, **params).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            ms = (time.perf_counter() - t0) * 1000
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            out.setdefault(q, {})[kind] = (ms, jobs)
    return out


def summarize_aggs(passes: list[dict]) -> dict:
    """``agg_ms``: {query: {kind: [min, median, max] ms}} and
    ``agg_spark_jobs``: {query: {kind: median jobs}} over the passes of
    run_agg_pass."""
    cells = passes[0]
    return {"agg_ms": {q: {k: [round(v, 1) for v in
                               spread([p[q][k][0] for p in passes])]
                           for k in cells[q]} for q in cells},
            "agg_spark_jobs": {q: {k: statistics.median(p[q][k][1]
                                                        for p in passes)
                                   for k in cells[q]} for q in cells}}


def run_headline_queries(spark, eng, best_of: int = 1) -> dict:
    """The headline query set (names are the BASELINE.md contract). With
    best_of > 1 each query keeps its fastest of N runs — the spot-capture
    mode that rides out sub-second neighbor bursts."""
    import __spark_entry__ as E

    timings: dict[str, float] = {}

    def timed(name, fn):
        best = float("inf")
        for _ in range(best_of):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    # warmup python workers + parquet footers + per-worker norm caches
    # (a matching term touches every partition; a miss warms nothing)
    eng.search("spark table", k=5).collect()

    timed("search_hot_term", lambda: eng.search("join", k=10).collect())
    # jobs-per-search evidence (round-5 target: ONE scoring job, result
    # returned as a LocalRelation → caller collect launches none)
    timings["_single_search_spark_jobs"] = eng.last_meta.get("spark_jobs")
    timed("search_multi_phrase",
          lambda: eng.search("the fast key order sort", k=10).collect())
    timed("search_batch8", lambda: eng.search_many(
        [{"query": q} for q in ["spark", "merge join", "window filter agg",
                                "the fast key", "scan table", "batch stream",
                                "customer line", "hash part"]], k=10).collect())
    # throughput path: 64 distinct queries in ONE job (8 templates × 8
    # deterministic word pairings)
    words = ["spark", "merge", "join", "filter", "scan", "sort", "key",
             "order", "batch", "stream", "hash", "part", "fast", "table",
             "window", "agg"]
    batch64 = [{"query": f"{words[i % 16]} {words[(i * 7 + 3) % 16]}"}
               for i in range(64)]
    timed("search_batch64", lambda: eng.search_many(batch64, k=10).collect())
    timed("bm25_sql_oracle_form",
          lambda: E.q_bm25_topk_simple(spark, SF_DIR).collect())
    timed("dedup_minhash_lsh",
          lambda: E.q_dedup_minhash_lsh(spark, SF_DIR).collect())
    timed("ann_cosine_topk", lambda: E.q_ann_cosine_topk(spark, SF_DIR).collect())
    timed("dedup_exact", lambda: E.q_dedup_exact(spark, SF_DIR).collect())
    return timings


def main() -> None:
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    os.makedirs(WORK_DIR, exist_ok=True)

    # --- scaling legs: interleaved rounds at lo and hi cores -------------
    lo, hi = leg_levels(CPUS)
    legs: list[dict] = []
    kernel: dict[int, list] = {lo: [], hi: []}
    for _ in range(LEG_ROUNDS):
        for cores in sorted({lo, hi}):
            legs.append(_run_leg(cores))
            kernel[cores] += [_kernel_throughput(cores)
                              for _ in range(KERNEL_SAMPLES)]
    build = summarize_legs(legs, {c: max(v) for c, v in kernel.items()},
                           lo, hi, kernel)
    index_dir = _best_leg(legs, hi)["index_dir"]

    # --- headline queries on the hi-core index ---------------------------
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.session import get_spark

    spark = get_spark("bench-queries", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    eng = SearchEngine(spark, index_dir)
    floor = python_task_floor(spark)
    timings = run_headline_queries(spark, eng)
    passes = [timings] + [run_headline_queries(spark, eng)
                          for _ in range(HEADLINE_PASSES - 1)]
    agg = summarize_aggs([run_agg_pass(spark, eng, n)
                          for n in range(AGG_PASSES)])
    total = round(sum(v for k2, v in timings.items()
                      if not k2.startswith("_")), 3)
    result = {
        "metric": "headline_suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_spread": {k2: spread([p[k2] for p in passes])
                           for k2 in timings if not k2.startswith("_")},
        "python_task_floor_ms": task_floor_ms(floor),
        **agg,
        "sf": _sf_of(SF_DIR),
        "index_build": {
            "replicas": REPLICAS,
            "content_repeat": CONTENT_REPEAT,
            "num_partitions": NUM_PARTS,
            "leg_rounds": LEG_ROUNDS,
            **build,
        },
    }
    spark.stop()
    shutil.rmtree(WORK_DIR, ignore_errors=True)  # free the tmpfs footprint
    print(json.dumps(result))


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--build-leg":
        build_leg(int(sys.argv[2]), sys.argv[3])
    else:
        main()
