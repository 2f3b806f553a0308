"""spyglass-on-spark benchmark: one workload, one seed, one JSON verdict.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run from the repository root. The script derives every input from the
seed, starts the measured process (``measured.py``: one Spark session at
local[2], index build, engine open, warm-up, then one closed-loop
client for ``--seconds``), samples nothing itself while that runs, and
afterwards checks a seeded sample of the outputs against the pure-Python
oracle (``spyglass_spark/oracle/engine.py``) in this process, outside the
measured one. It prints a readable report and, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See README.md in this directory for the workloads, the
metrics and what each layer should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402

WORKLOADS = ("interactive", "bulk")
# wall-clock budget of one invocation; the measured process gets what is
# left after the reserve for the oracle check
BUDGET_S = 170
ORACLE_RESERVE_S = 25
ORACLE_SAMPLE = {"interactive": 12, "bulk": 16}
TRACE_CYCLES = 2
# Spark task threads. A bulk op is mostly fixed per-job cost and took as
# long on two task threads as on four; two leave CPUs of a 4-CPU host to
# the driver, the JVM's own threads and the Python workers, instead of
# running more busy threads than there are CPUs.
SPARK_THREADS = 2
# stands in for a latency when the ops that set it failed
FAILED_VALUE = 1e12


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def percentile_tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (percent, value); the maximum when there are ten samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    idx = n - 11  # ten samples strictly above this one
    return 100.0 * (idx + 1) / n, s[idx]


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``. The pyspark daemons start their
    own process groups, so killing the measured group alone can miss
    them."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            if child not in out:
                out.add(child)
                todo.append(child)
    return out


def stop_all(proc: subprocess.Popen, tree: set[int]) -> None:
    """Stop the measured process, its group and every process seen below
    it, then wait until all of them are gone."""
    pids = {proc.pid} | tree | descendants(proc.pid)
    deadline = time.time() + 15
    sig = signal.SIGTERM
    while time.time() < deadline:
        for target in [("group", proc.pid)] + [("pid", p) for p in pids]:
            try:
                if target[0] == "group":
                    os.killpg(target[1], sig)
                elif target[1] != proc.pid or proc.poll() is None:
                    os.kill(target[1], sig)
            except (ProcessLookupError, PermissionError):
                pass
        proc.poll()
        alive = [p for p in pids if p != proc.pid and os.path.exists(
            f"/proc/{p}")] + ([proc.pid] if proc.returncode is None else [])
        if not alive:
            break
        time.sleep(0.5)
        sig = signal.SIGKILL
    proc.wait()


def declared_metrics() -> dict[str, list[dict]]:
    """BENCHMARK.json's ``end_to_end`` and ``per_layer`` lists: the names,
    units and directions a run must report."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {"end_to_end": bench["end_to_end"], "per_layer": bench["per_layer"]}


def edited_rows(docs: list[dict], cycles: list[dict]) -> list[dict]:
    import hashlib

    out = []
    for cyc in cycles:
        rows = []
        for i in cyc["docs"]:
            d = dict(docs[i])
            d["content"] = f"{d['content']} {cyc['marker']}"
            d["content_sha256"] = hashlib.sha256(
                d["content"].encode()).hexdigest()
            rows.append({k: d[k] for k in (
                "doc_id", "url", "domain", "title", "content", "tags",
                "content_sha256", "published", "lastmodified")})
        out.append({"marker": cyc["marker"], "rows": rows,
                    "delete": [docs[i]["url"] for i in cyc["delete"]]})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isfile(os.path.join(ROOT, "spyglass_spark", "__init__.py")):
        fail(f"no spyglass_spark package next to {HERE}; run from a checkout")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        fail("pyspark is not importable")

    if not os.path.isfile(os.path.join(inputs.SF_DIR, "documents.parquet")):
        fail(f"no documents.parquet in {inputs.SF_DIR}")
    declared = declared_metrics()

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    ok = False
    try:
        ok = run(args, work, t_start, declared)
    finally:
        if ok:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run's directory is still there
                pass
    if not ok:
        sys.exit(1)


def run(args, work: str, t_start: float, declared: dict) -> bool:
    base = inputs.base_table()
    words = inputs.hot_words(base)
    # the traced run's write cycles edit these documents; otherwise they
    # are derived after the measured process, for the oracle only
    docs = inputs.oracle_documents(base) if args.trace else None
    cpus = min(SPARK_THREADS, len(os.sched_getaffinity(0)))
    k = inputs.K_INTERACTIVE if args.workload == "interactive" \
        else inputs.K_BULK
    ops = (inputs.interactive_ops(args.seed, words, len(base))
           if args.workload == "interactive"
           else inputs.bulk_ops(args.seed, words))
    spec = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "sf_dir": inputs.SF_DIR,
        "index_dir": os.path.join(work, "index"),
        "result_path": os.path.join(work, "result.json"),
        "content_repeat": inputs.CONTENT_REPEAT,
        "parts": inputs.PARTS, "k": k, "ops": ops,
        "warm_ops": inputs.warm_ops(args.workload, args.seed, words,
                                    len(base)),
        "unit": 1 if args.workload == "interactive" else inputs.BULK_ROTATION,
        "write_cycles": edited_rows(docs, inputs.write_cycles(
            args.seed, TRACE_CYCLES, len(docs))) if args.trace else [],
    }
    deadline = t_start + BUDGET_S - ORACLE_RESERVE_S
    spec["deadline"] = deadline
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark_local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # one string-hash seed for every run, so set and dict order in the
        # driver and the workers is not one more thing that differs
        "PYTHONHASHSEED": "0",
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
                               f"-Djava.io.tmpdir={work}/tmp pyspark-shell",
    })
    log_path = os.path.join(work, "measured.log")
    with open(log_path, "wb") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measured.py"), spec_path,
             repr(t_spawn)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
    tree: set[int] = set()
    try:
        # the oracle check may start once the result is written, while the
        # measured process is still shutting Spark down
        while (proc.poll() is None and time.time() < deadline
               and not os.path.exists(spec["result_path"])):
            time.sleep(0.1)
        tree = descendants(proc.pid)
        if not os.path.exists(spec["result_path"]):
            with open(log_path, errors="replace") as f:
                tail = f.read()[-4000:]
            why = "timed out" if proc.returncode is None or \
                time.time() >= deadline else f"exited with {proc.returncode}"
            print(f"perfbench: measured process {why}; log tail:\n{tail}",
                  file=sys.stderr)
            return False
        with open(spec["result_path"]) as f:
            res = json.load(f)

        from oracle_check import check

        for r in res["records"]:
            r["op"] = ops[r["i"] % len(ops)]
        docs = docs or inputs.oracle_documents(base)
        verdicts = check(args.workload, args.seed, docs, res["records"], k,
                         ORACLE_SAMPLE[args.workload])
        try:
            proc.wait(timeout=max(deadline + ORACLE_RESERVE_S - time.time(),
                                  1))
        except subprocess.TimeoutExpired:
            pass
    finally:
        stop_all(proc, tree)
    report(args, res, docs, verdicts, declared)
    return True


def input_bytes(docs: list[dict]) -> int:
    return sum(len(d[f].encode()) for d in docs
               for f in ("doc_id", "url", "domain", "title", "content"))


def report(args, res: dict, docs: list[dict], verdicts: dict,
           declared: dict) -> None:
    records = res["records"]
    # a traced run's op fails if either of its two modes raised
    failed_ids = {r["i"] for r in records
                  if r["error"] or r.get("traced_error")} | set(
        verdicts["mismatched"])
    cycles = res.get("cycles", [])
    attempted = len(records) + len(cycles)
    failed = len(failed_ids) + sum(1 for c in cycles if not c["ok"])
    inf = float("inf")

    def lat(r):
        return inf if r["i"] in failed_ids else r["ms"]

    lines = [f"perfbench workload={args.workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace} "
             f"docs={res['build']['num_docs']}"]
    shown: list[tuple[str, float, str]] = []
    if args.workload == "interactive":
        lats = [lat(r) for r in records]
        done = [r for r in records if r["i"] not in failed_ids]
        latency = statistics.median(lats)
        qps = len(done) / (sum(r["ms"] for r in records) / 1e3)
        pct, tail = percentile_tail(lats)
        shown += [(f"search_p{pct:.0f}_ms", tail, "ms"),
                  ("searches", len(records), "count")]
    else:
        aggs = [r for r in records if r["kind"] != "search_many"]
        batches = [r for r in records if r["kind"] == "search_many"]
        # every run times whole rotations, one call of each aggregation
        # kind per rotation, so the median compares like with like
        latency = statistics.median(lat(r) for r in aggs)
        done_q = sum(inputs.BATCH for r in batches if r["i"] not in failed_ids)
        batch_qps = done_q / (sum(r["ms"] for r in batches) / 1e3)
        # gated throughput: queries answered over the whole rotation, each
        # aggregation call one query; it averages six ops, where the batch
        # rate alone rests on one wide batch and spread ~30 % run to run
        done = sum(1 for r in aggs if r["i"] not in failed_ids) + done_q
        qps = done / (sum(r["ms"] for r in records) / 1e3)
        wide = [r for r in batches if r["out"] and
                r["out"]["distinct_docs"] > 512]
        shown += [("agg_mean_ms", statistics.fmean(lat(r) for r in aggs),
                   "ms"),
                  ("qps", batch_qps, "1/s"),
                  ("batches", len(batches), "count"),
                  ("agg_calls", len(aggs), "count"),
                  ("batches_over_512_docs_share",
                   len(wide) / max(len(batches), 1), "ratio")]
    mem = res["mem"]
    e2e = {
        "latency_ms": (latency, "ms"),
        "queries_per_s": (qps, "1/s"),
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (mem["driver"] + mem["workers"], "MB"),
        "index_bytes_per_input_byte": (
            res["build"]["index_bytes"] / input_bytes(docs), "ratio"),
    }
    for name, (v, unit) in e2e.items():
        lines.append(f"  {name:<34} {v:>14.4f} {unit}")
    shown += [("setup.session_s", res["session_ms"] / 1e3, "s"),
              ("setup.build_s", res["first_op_ms"]["build"] / 1e3, "s"),
              ("setup.open_s", res["open_ms"] / 1e3, "s")]
    shown += [(f"first_op_ms.{op}", ms, "ms")
              for op, ms in res["first_op_ms"].items() if op != "build"]
    for name, v, unit in shown:
        lines.append(f"  {name:<34} {v:>14.4f} {unit}")
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r["kind"], []).append(r["ms"])
    for kind, ms in kinds.items():
        lines.append(f"  {kind}: n={len(ms)} p50={statistics.median(ms):.1f} ms "
                     f"min={min(ms):.1f} max={max(ms):.1f}")
    lines.append(f"  oracle: {verdicts['checked']} sampled ops checked, "
                 f"{len(verdicts['mismatched'])} mismatched")
    for cause in verdicts["causes"][:10]:
        lines.append(f"    mismatch: {cause}")
    for r in records:
        for mode in ("", "traced_"):
            if r.get(mode + "error"):
                lines.append(f"    op {r['i']} ({r['kind']}, "
                             f"{mode or 'untraced_'}run) failed: "
                             f"{r[mode + 'error']}")
    if cycles:
        ryw = sum(1 for c in cycles if c["ok"])
        lines.append(f"  read-your-writes: {ryw}/{len(cycles)} cycles see "
                     "exactly their edits and deletes")
        for c in cycles:
            if c.get("skipped"):
                lines.append(f"    cycle {c['cycle']}: skipped (budget)")
            elif c.get("error"):
                lines.append(f"    cycle {c['cycle']} failed: {c['error']}")
            elif not c["ok"]:
                lines.append(f"    cycle {c['cycle']}: {c['missing']} edits "
                             f"missing, {c['unexpected']} unexpected hits")
    lines.append(f"  ops attempted {attempted}, failed {failed}")

    if args.trace:
        from layers import per_layer

        values = per_layer(res)
        wanted = declared["per_layer"]
    else:
        values = {name: v for name, (v, _) in e2e.items()}
        wanted = declared["end_to_end"]
    names = [m["name"] for m in wanted]
    if set(values) != set(names):
        fail("metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(names) - set(values))}, undeclared "
             f"{sorted(set(values) - set(names))}")
    metrics = {}
    for m in wanted:
        v = values[m["name"]]
        # a figure the failed ops left unset reads as the worst value
        if not math.isfinite(v):
            v = FAILED_VALUE if m["better"] == "lower" else 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        if args.trace:
            lines.append(f"  {m['name']:<34} {v:>14.4f} {m['unit']}")
    print("\n".join(lines))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
