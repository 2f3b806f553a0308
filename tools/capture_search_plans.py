#!/usr/bin/env python
"""Capture scoring-stage plans + job-structure evidence for the bench
search queries into plans/r06/search_*_{before,after}.txt.

NOT a timing harness: plan capture only (bench.py stays the graded
harness). Works at both the round-start commit (label=before, run from a
worktree) and HEAD (label=after): it hooks SearchEngine._partial_frame —
present in both versions — to capture the distributed scoring plan, runs
each bench search shape verbatim, and records last_meta (spark_jobs /
merge path / wand counters). On the HEAD version each shape is run twice:
once as the bench runs it (driver-local path may engage) and once with
executor.LOCAL_EXEC_MAX_PARTS = 0 to show the distributed plan the same
shape takes above the gates.

Usage: python tools/capture_search_plans.py before|after
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PLANS_DIR = os.path.join(REPO, "plans", "r06")

SHAPES = {
    "search_hot_term": lambda eng: eng.search("join", k=10).collect(),
    "search_multi_phrase": lambda eng: eng.search(
        "the fast key order sort", k=10).collect(),
    "search_batch8": lambda eng: eng.search_many(
        [{"query": q} for q in ["spark", "merge join", "window filter agg",
                                "the fast key", "scan table", "batch stream",
                                "customer line", "hash part"]],
        k=10).collect(),
}
_words = ["spark", "merge", "join", "filter", "scan", "sort", "key",
          "order", "batch", "stream", "hash", "part", "fast", "table",
          "window", "agg"]
_batch64 = [{"query": f"{_words[i % 16]} {_words[(i * 7 + 3) % 16]}"}
            for i in range(64)]
SHAPES["search_batch64"] = lambda eng: eng.search_many(_batch64,
                                                       k=10).collect()


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main(label: str) -> None:
    import bench_extra as BX
    from spyglass_spark.query.executor import SearchEngine

    os.makedirs(PLANS_DIR, exist_ok=True)
    spark, eng = BX._spot_engine()
    sc = spark.sparkContext

    captured: list[str] = []
    orig_partial = SearchEngine._partial_frame

    def hook(self, *args):
        df = orig_partial(self, *args)
        captured.append(_explain(df))
        return df

    SearchEngine._partial_frame = hook
    try:
        # warmup exactly as bench.py does (python workers, footers, norms)
        eng.search("spark table", k=5).collect()
        for name, fn in SHAPES.items():
            lines = [f"# {name} — scoring-path capture ({label})",
                     f"# ts: {time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime())}",
                     ""]
            captured.clear()
            j0 = len(sc.statusTracker().getJobIdsForGroup(None) or [])
            fn(eng)
            meta = dict(eng.last_meta)
            lines.append("## run as the bench runs it")
            lines.append(f"last_meta: { {k: v for k, v in meta.items() if not k.startswith('_')} }")
            lines.append(f"spark_jobs this search: {meta.get('spark_jobs')}")
            if captured:
                lines.append("")
                lines.append("## distributed scoring-stage plan "
                             "(_partial_frame output)")
                lines.append(captured[-1].rstrip())
            else:
                lines.append("(no _partial_frame call — driver-local "
                             "execution path: pyarrow kind/field/term-pruned "
                             "posting read + the identical _score_partition "
                             "kernel, zero Spark jobs)")
            # HEAD only: show the distributed plan for the same shape
            if not captured and hasattr(eng, "_score_local"):
                import spyglass_spark.query.executor as X
                prev = X.LOCAL_EXEC_MAX_PARTS
                X.LOCAL_EXEC_MAX_PARTS = 0
                try:
                    captured.clear()
                    fn(eng)
                    meta2 = dict(eng.last_meta)
                    lines.append("")
                    lines.append("## same shape with LOCAL_EXEC_MAX_PARTS"
                                 " = 0 (the >gates / 100 TB path)")
                    lines.append(f"spark_jobs: {meta2.get('spark_jobs')}")
                    if captured:
                        lines.append(captured[-1].rstrip())
                finally:
                    X.LOCAL_EXEC_MAX_PARTS = prev
            path = os.path.join(PLANS_DIR, f"{name}_{label}.txt")
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
            print(f"wrote {path}", file=sys.stderr)
    finally:
        SearchEngine._partial_frame = orig_partial
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "after")
