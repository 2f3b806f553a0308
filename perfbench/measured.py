"""The measured process: one Spark session, set-up, then one closed-loop
client for the run's seconds.

Run by ``run.py`` as ``python3 measured.py <spec.json> <spawn time>``; it
writes its timings, the results the oracle will check and, in a traced
run, the per-layer summary to the spec's ``result_path``. The oracle
never runs here, so its memory and CPU stay out of every number.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from spans import Tracer, next_job_id, spark_stage_metrics

KIND_OF_OP = {"count_matches": "agg", "facet_counts": "agg",
              "terms_agg": "agg", "date_histogram": "agg"}
DOC_SCHEMA = ("doc_id string, url string, domain string, title string, "
              "content string, tags array<bigint>, content_sha256 string, "
              "published bigint, lastmodified bigint")


def collect(df) -> list:
    return df.collect()


def run_op(eng, op: dict, k: int, collect=collect):
    """Issue one op and collect its rows; returns the compact result the
    oracle check compares."""
    kind, q = op["kind"], op.get("query")
    if kind == "search":
        rows = collect(eng.search(q, k=k))
    elif kind == "search_prefix":
        rows = collect(eng.search_prefix(q, k=k))
    elif kind == "search_fuzzy":
        rows = collect(eng.search_fuzzy(q, distance=1, k=k))
    elif kind == "search_many":
        rows = collect(eng.search_many([{"query": x} for x in op["queries"]],
                                       k=k))
        hits: dict[int, list] = {}
        for r in rows:
            hits.setdefault(int(r["query_id"]), []).append(
                [r["doc_id"], float(r["score"])])
        return {"hits": {str(qid): h for qid, h in hits.items()},
                "distinct_docs": len({r["doc_id"] for r in rows})}
    elif kind == "count_matches":
        return {"n": int(collect(eng.count_matches(q))[0]["n"])}
    elif kind == "facet_counts":
        return {"counts": {str(r["tag_id"]): int(r["n"])
                           for r in collect(eng.facet_counts(q))}}
    elif kind == "terms_agg":
        rows = collect(eng.terms_agg(q, facet_col="domain", size=10))
        return {"buckets": [[str(r["tag_id"]), int(r["doc_count"])]
                            for r in rows],
                "other": int(rows[0]["sum_other_doc_count"]) if rows else 0}
    elif kind == "date_histogram":
        return {"counts": {str(r["bucket"]): int(r["n"])
                           for r in collect(eng.date_histogram(q))
                           if r["n"]}}
    else:
        raise ValueError(f"unknown op kind {kind!r}")
    return {"hits": [[r["doc_id"], float(r["score"])] for r in rows]}


def proc_memory() -> dict:
    """VmHWM in MB of this process, of its Python descendants (the
    pyspark daemon and workers) and of its JVM descendants."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        fields = dict(line.split(":", 1) for line in status.splitlines()
                      if ":" in line)
        hwm = fields.get("VmHWM", "0 kB").split()[0]
        table[int(pid)] = (int(fields["PPid"]), cmd, int(hwm) / 1024.0)
    me = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out = {"driver": table[me][2], "workers": 0.0, "jvm": 0.0}
    todo = list(children.get(me, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        _, cmd, hwm = table[pid]
        if "java" in cmd.split(" ", 1)[0]:
            out["jvm"] += hwm
        elif "pyspark" in cmd:
            out["workers"] += hwm
    return out


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def main() -> None:
    spec_path, t_spawn = sys.argv[1], float(sys.argv[2])
    with open(spec_path) as f:
        spec = json.load(f)
    tracer = None
    if spec["trace"]:
        tracer = Tracer()
        tracer.install()
        traced_collect = tracer.wrap(collect, "collect")

    from pyspark.sql import functions as F

    from spyglass_spark.corpus import load_corpus, to_documents
    from spyglass_spark.index.builder import build_index
    from spyglass_spark.query.executor import SearchEngine
    from spyglass_spark.session import get_spark

    res: dict = {"first_op_ms": {}}
    t = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{spec['cpus']}]")
    spark.sparkContext.setLogLevel("ERROR")
    res["session_ms"] = (time.perf_counter() - t) * 1e3
    sc = spark.sparkContext

    # bench.py's corpus derivation over the seeded base table
    corpus = load_corpus(spark, spec["sf_dir"])
    corpus = corpus.withColumn(
        "content", F.repeat(F.concat(F.col("content"), F.lit(" ")),
                            spec["content_repeat"]))
    docs = to_documents(corpus)
    idx = spec["index_dir"]
    t = time.perf_counter()
    m = build_index(spark, docs, idx, num_partitions=spec["parts"])
    res["first_op_ms"]["build"] = (time.perf_counter() - t) * 1e3
    res["build"] = {"num_docs": m.num_docs,
                    "stage1_s": m.metrics.get("stage1_sec"),
                    "stats_s": m.metrics.get("stats_sec"),
                    "store_bytes": m.metrics.get("store_bytes", {}),
                    "index_bytes": tree_bytes(idx)}

    if tracer:
        tracer.recording, tracer.op_id = True, -1
    t = time.perf_counter()
    eng = SearchEngine(spark, idx)
    res["open_ms"] = (time.perf_counter() - t) * 1e3
    if tracer:
        tracer.op_id = -2
    k = spec["k"]
    for name, op in spec["warm_ops"]:
        t = time.perf_counter()
        run_op(eng, op, k)
        if name:
            res["first_op_ms"].setdefault(
                name, (time.perf_counter() - t) * 1e3)
    if tracer:
        tracer.recording, tracer.op_id = False, None
    res["setup_s"] = time.time() - t_spawn

    ops = spec["ops"]
    records = []
    deadline = time.perf_counter() + spec["seconds"]
    i = 0
    # the loop issues whole units (a bulk unit is one rotation of batch
    # shapes and aggregation kinds), so every run times the same mix
    while time.perf_counter() < deadline or i % spec["unit"]:
        op = ops[i % len(ops)]
        # a traced run times every op twice, untraced and traced, in
        # alternating order, so the tracing overhead is measured on the
        # same ops; each mode keeps its own output and error
        modes = ([False, True] if i % 2 == 0 else [True, False]) \
            if tracer else [False]
        rec = {"i": i, "kind": op["kind"]}
        for on in modes:
            if tracer:
                tracer.recording, tracer.op_id = on, i
                j0 = next_job_id(sc)
            t0 = time.perf_counter()
            try:
                out = run_op(eng, op, k,
                             traced_collect if on else collect)
                err = None
            except Exception as e:  # a failed op is counted, not fatal
                out, err = None, f"{type(e).__name__}: {e}"
            ms = (time.perf_counter() - t0) * 1e3
            if tracer:
                tracer.recording = False
                if on:
                    rec["jobs"] = [j0, next_job_id(sc)]
            prefix = "traced_" if on else ""
            rec[prefix + "ms"] = ms
            rec[prefix + "out"], rec[prefix + "error"] = out, err
        records.append(rec)
        i += 1
    res["records"] = records

    if tracer:
        res["layers"] = trace_summary(tracer, records, sc)
        res["micro"] = micro_rates(spec)
        res["cycles"] = write_cycles(spark, eng, idx, spec, tracer)
    res["mem"] = proc_memory()
    tmp = spec["result_path"] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, spec["result_path"])
    spark.stop()


def trace_summary(tracer, records, sc) -> dict:
    traced = [r for r in records if "traced_ms" in r]
    by_kind: dict[str, set] = {}
    for r in traced:
        by_kind.setdefault(KIND_OF_OP.get(r["kind"], r["kind"]),
                           set()).add(r["i"])
    out = {"ops": len(traced),
           "layers": dict(tracer.layer_totals({r["i"] for r in traced})),
           "open_layers": dict(tracer.layer_totals({-1})),
           "op_ms": {kind: statistics.fmean(
               r["traced_ms"] for r in traced if r["i"] in ids)
               for kind, ids in by_kind.items()},
           "unattributed_ms": {}}
    # an op's own time outside every wrapped layer: its latency minus the
    # top-level spans recorded under it
    for kind, ids in by_kind.items():
        top = sum(end - start for name, start, end, parent, op, _
                  in tracer.spans if op in ids and parent == -1
                  and end is not None)
        lat = sum(r["traced_ms"] for r in traced if r["i"] in ids)
        out["unattributed_ms"][kind] = (lat - top * 1e3) / len(ids)
    ratios = [r["traced_ms"] / r["ms"] for r in traced if r["ms"] > 0]
    out["overhead_pct"] = (statistics.median(ratios) - 1) * 100 \
        if ratios else 0.0
    out["spark"] = spark_stage_metrics(sc, [tuple(r["jobs"])
                                            for r in traced])
    return out


def micro_rates(spec) -> dict:
    """Driver-timed analysis and codec rates on a fixed corpus sample."""
    import numpy as np

    from spyglass_spark.analysis.analyzer import tokenize_arrays
    from spyglass_spark.index.codecs import bulk_encode_postings

    import inputs

    texts = [r["content"] for r in
             inputs.corpus_rows(inputs.base_table())[:2000]]
    tok, enc = [], []
    for _ in range(3):
        t = time.perf_counter()
        vocab, starts, ords, tfs, pos, counts = tokenize_arrays(texts, "en")
        tok.append(time.perf_counter() - t)
        norms = np.zeros(ords.size, dtype=np.uint8)
        t = time.perf_counter()
        bulk_encode_postings(starts, ords, tfs, norms, pos)
        enc.append(time.perf_counter() - t)
    return {"tokens_per_s": int(pos.size) / statistics.median(tok),
            "postings_per_s": int(ords.size) / statistics.median(enc)}


def write_cycles(spark, eng, idx, spec, tracer) -> list[dict]:
    """Upsert an edited slice, delete a few of its URLs, run the log merge
    policy, refresh, then check that search sees exactly the edits."""
    out = []
    for c, cyc in enumerate(spec["write_cycles"]):
        # a cycle takes ~10 s warm and up to ~20 s cold; one the run's
        # budget cannot hold is not run but reported, and counts as failed
        if time.time() + 25 > spec["deadline"]:
            out.append({"cycle": c, "ok": False, "skipped": True})
            continue
        try:
            out.append(write_cycle(spark, eng, idx, c, cyc, tracer))
        except Exception as e:  # a failed cycle is counted, not fatal
            tracer.recording = False
            out.append({"cycle": c, "ok": False,
                        "error": f"{type(e).__name__}: {e}"})
    return out


def write_cycle(spark, eng, idx, c: int, cyc: dict, tracer) -> dict:
    from spyglass_spark.index.builder import delete_by_urls, upsert_documents
    from spyglass_spark.index.manifest import load_manifest
    from spyglass_spark.index.merge_policy import apply_log_merge_policy

    sc = spark.sparkContext
    op_id = -10 - c
    edited = spark.createDataFrame(cyc["rows"], DOC_SCHEMA)
    rec = {"cycle": c}
    tracer.recording, tracer.op_id = True, op_id
    t0 = time.perf_counter()
    for step, fn in (
            ("upsert", lambda: upsert_documents(spark, edited, idx)),
            ("delete", lambda: delete_by_urls(spark, idx, cyc["delete"])),
            ("merge_policy", lambda: apply_log_merge_policy(spark, idx)),
            ("refresh", eng.refresh)):
        if step == "merge_policy":
            before = {g["prefix"] for g in load_manifest(idx).gen_list()}
        j0 = next_job_id(sc)
        t = time.perf_counter()
        with tracer.span(step + "_op"):
            fn()
        rec[step + "_ms"] = (time.perf_counter() - t) * 1e3
        rec[step + "_jobs"] = next_job_id(sc) - j0
        if step == "merge_policy":
            new = [g["prefix"] for g in load_manifest(idx).gen_list()
                   if g["prefix"] not in before]
            rec["merge_bytes"] = sum(tree_bytes(f"{idx}/{p}") for p in new)
    t = time.perf_counter()
    with tracer.span("fresh_search_op"):
        rows = eng.search(cyc["marker"], k=len(cyc["rows"]) + 10).collect()
    rec["fresh_search_ms"] = (time.perf_counter() - t) * 1e3
    rec["visible_ms"] = (time.perf_counter() - t0) * 1e3
    tracer.recording = False
    totals = tracer.layer_totals({op_id})
    rec["commit_ms"] = totals["commit"][0] * 1e3 if "commit" in totals \
        else 0.0
    rec["merges"] = totals["merge_generations"][1] \
        if "merge_generations" in totals else 0
    expected = {r["url"] for r in cyc["rows"]} - set(cyc["delete"])
    got = {r["url"] for r in rows}
    rec["ok"] = got == expected
    rec["missing"] = len(expected - got)
    rec["unexpected"] = len(got - expected)
    return rec


if __name__ == "__main__":
    main()
