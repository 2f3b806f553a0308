#!/usr/bin/env python
"""Per-query isolation bench + plan capture for the optimization round.

NOT the headline harness (that is bench.py): this file exists to
  - time each headline query in isolation (best-of-N, labeled jobs),
  - dump .explain("formatted") for the declared entry queries to
    plans/r06/<name>_{before|after}.txt,
  - time entry queries with the noop sink (guide §1.4) so the
    computation is measured, not the collect/driver path, where that
    distinction matters.

Usage:
  python bench_extra.py --queries [N]        # headline latencies, best-of-N
  python bench_extra.py --plans LABEL q1 q2  # dump plans/r06/<q>_<LABEL>.txt
  python bench_extra.py --noop N q1 q2       # noop-sink timing for entries
The spot index in SPOT_DIR (default /dev/shm/spyglass_spot, or
$SPYGLASS_SPOT_DIR) is built on demand (identical shape to bench.py's:
REPLICAS x CONTENT_REPEAT at NUM_PARTS parts).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
SPOT_DIR = os.environ.get("SPYGLASS_SPOT_DIR",
                          "/dev/shm/spyglass_spot"
                          if os.path.isdir("/dev/shm") else "/tmp/spyglass_spot")
PLANS_DIR = os.path.join(REPO, "plans", "r06")

ENTRY_QUERIES = ("bm25_sql_oracle_form", "dedup_minhash_lsh",
                 "ann_cosine_topk", "dedup_exact")


def _spot_engine():
    import bench as B
    from spyglass_spark.index.builder import build_index
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.session import get_spark

    spark = get_spark("bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    index_dir = f"{SPOT_DIR}/index"
    m = load_manifest(index_dir)
    if m is None or not m.committed:
        docs = B._bench_docs(spark, B.REPLICAS)
        t0 = time.time()
        build_index(spark, docs, index_dir,
                    num_partitions=B.NUM_PARTS, waves=1)
        print(f"built spot index in {time.time()-t0:.1f}s", file=sys.stderr)
    return spark, SearchEngine(spark, index_dir)


def _entry_df(spark, name):
    import __spark_entry__ as E

    fns = {"bm25_sql_oracle_form": E.q_bm25_topk_simple,
           "dedup_minhash_lsh": E.q_dedup_minhash_lsh,
           "ann_cosine_topk": E.q_ann_cosine_topk,
           "dedup_exact": E.q_dedup_exact}
    return fns[name](spark, SF_DIR)


def run_queries(best_of: int = 3) -> None:
    import bench as B

    spark, eng = _spot_engine()
    timings = B.run_headline_queries(spark, eng, best_of=best_of)
    total = round(sum(v for k, v in timings.items()
                      if not k.startswith("_")), 3)
    print(json.dumps({"kind": "bench_extra_queries", "best_of": best_of,
                      "queries": timings, "total_sec": total,
                      "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          time.gmtime())}))
    spark.stop()


def dump_plans(label: str, names: list[str]) -> None:
    os.makedirs(PLANS_DIR, exist_ok=True)
    spark, eng = _spot_engine()
    for name in names:
        df = _entry_df(spark, name)
        path = os.path.join(PLANS_DIR, f"{name}_{label}.txt")
        with open(path, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


def run_noop(n: int, names: list[str]) -> None:
    spark, eng = _spot_engine()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"noop:{name}")
        best = float("inf")
        for _ in range(n):
            t0 = time.time()
            df = _entry_df(spark, name)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"kind": "bench_extra_noop", "n": n, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--queries":
        run_queries(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif len(sys.argv) >= 3 and sys.argv[1] == "--plans":
        dump_plans(sys.argv[2], sys.argv[3:] or list(ENTRY_QUERIES))
    elif len(sys.argv) >= 3 and sys.argv[1] == "--noop":
        run_noop(int(sys.argv[2]), sys.argv[3:] or list(ENTRY_QUERIES))
    else:
        print(__doc__)
