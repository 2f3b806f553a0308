"""Per-layer metrics of a traced run, all per op unless the name says so.

Every workload reports every ``per_layer`` name of BENCHMARK.json, the
one list of names, units and directions. A layer the workload does not
reach reads 0; a write-cycle figure whose cycle did not complete reads
NaN, which the report turns into its failure value. Driver-side layers
come from the spans ``spans.py`` records, Python-worker and JVM work from
Spark's stage metrics, engine open and first-op costs from the set-up
timings.
"""

from __future__ import annotations

import statistics

OP_KINDS = ("search", "search_prefix", "search_fuzzy", "search_many", "agg")
FIRST_OPS = ("build", "search", "search_prefix", "search_fuzzy",
             "search_many", "search_many_wide", "count_matches",
             "facet_counts", "terms_agg", "date_histogram", "upsert",
             "delete", "merge_policy", "refresh")
NAN = float("nan")


def per_layer(res: dict) -> dict[str, float]:
    tr = res["layers"]
    n = max(tr["ops"], 1)
    layer = tr["layers"]

    def self_ms(name: str) -> float:
        return layer.get(name, [0.0, 0, 0])[0] * 1e3 / n

    def calls(name: str) -> float:
        return layer.get(name, [0.0, 0, 0])[1] / n

    records = [r for r in res["records"] if "traced_ms" in r]
    spark = tr["spark"]
    searches = [(r, s) for r, s in zip(records, spark)
                if r["kind"] != "search_many" and r["kind"].startswith("search")]
    batches = [r for r in records if r["kind"] == "search_many" and r["out"]]
    v: dict[str, float] = {
        "compile.ms": self_ms("compile"),
        "expand.ms": self_ms("expand"),
        "expand.terms": layer.get("expand", [0, 0, 0])[2] / n,
        "plan.ms": self_ms("plan"),
        "local.read_ms": self_ms("local"),
        "local.share": (sum(1 for _, s in searches if s["jobs"] == 0)
                        / len(searches)) if searches else 0.0,
        "kernel.ms": self_ms("kernel"),
        "kernel.calls": calls("kernel"),
        "decode.calls": calls("decode"),
        "decode.ms": self_ms("decode"),
        "phrase.ms": self_ms("phrase"),
        "merge.ms": self_ms("merge"),
        "doc_meta.ms": self_ms("doc_meta"),
        "local_relation.ms": self_ms("local_relation"),
        "doc_meta.distributed_share": (
            sum(1 for r in batches if r["out"]["distinct_docs"] > 512)
            / len(batches)) if batches else 0.0,
        "distributed.wait_ms": self_ms("distributed"),
        "match_frame.ms": self_ms("match_frame"),
        "collect.ms": self_ms("collect"),
    }
    for key in ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms",
                "shuffle_bytes", "input_bytes"):
        v[f"spark.{key}"] = sum(s[key] for s in spark) / n
    opened = tr["open_layers"]
    v["session.ms"] = res["session_ms"]
    v["open.ms"] = res["open_ms"]
    v["open.prewarm_session_ms"] = opened.get("prewarm_session",
                                              [0.0])[0] * 1e3
    v["open.prewarm_local_ms"] = opened.get("prewarm_local", [0.0])[0] * 1e3
    cycles = res.get("cycles", [])
    first = dict(res["first_op_ms"])
    for step in ("upsert", "delete", "merge_policy", "refresh"):
        first[step] = cycles[0].get(step + "_ms", NAN) if cycles else NAN
    for op in FIRST_OPS:
        v[f"first_op_ms.{op}"] = first.get(op, 0.0)
    v["tokenize.tokens_per_s"] = res["micro"]["tokens_per_s"]
    v["encode.postings_per_s"] = res["micro"]["postings_per_s"]
    v["build.stage1_s"] = res["build"]["stage1_s"] or 0.0
    v["build.stats_s"] = res["build"]["stats_s"] or 0.0
    for kind in ("postings", "doc_meta", "norms", "fast", "term_stats"):
        v[f"store_bytes.{kind}"] = res["build"]["store_bytes"].get(kind, 0)
    # steady cycles: every completed cycle after the first, which pays
    # cold costs
    steady = [c for c in cycles[1:] if "visible_ms" in c]
    done = [c for c in cycles if "visible_ms" in c]

    def cyc(key: str) -> float:
        return statistics.median(c[key] for c in steady) if steady else NAN

    v["upsert.ms"] = cyc("upsert_ms")
    v["upsert.spark_jobs"] = cyc("upsert_jobs")
    v["delete.ms"] = cyc("delete_ms")
    v["merge_policy.ms"] = cyc("merge_policy_ms")
    v["merges.count"] = float(sum(c["merges"] for c in done)) \
        if done else NAN
    v["merges.bytes_rewritten"] = float(sum(c["merge_bytes"] for c in done)) \
        if done else NAN
    v["commit.ms"] = cyc("commit_ms")
    v["refresh.ms"] = cyc("refresh_ms")
    v["fresh_search.ms"] = cyc("fresh_search_ms")
    v["commit_visible.ms"] = cyc("visible_ms")
    mem = res["mem"]
    v["mem.driver_mb"] = mem["driver"]
    v["mem.workers_mb"] = mem["workers"]
    v["mem.jvm_mb"] = mem["jvm"]
    for kind in OP_KINDS:
        v[f"op_ms.{kind}"] = tr["op_ms"].get(kind, 0.0)
        v[f"unattributed_ms.{kind}"] = tr["unattributed_ms"].get(kind, 0.0)
    v["trace.overhead_pct"] = tr["overhead_pct"]
    return {name: float(x) for name, x in v.items()}
