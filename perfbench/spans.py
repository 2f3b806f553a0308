"""In-memory span recorder that wraps the engine's layer entry points.

Only the traced run installs it. Each wrapped function records one span
(layer name, start, end, parent span, op id) while recording is on; spans
stay in memory and are summarised once the run ends. A layer's self time
is its span minus the time its child spans cover.

Wrappers copy the wrapped function's module and qualified name, so a
wrapped module function that a Spark closure references still pickles by
reference: Python workers run the original, and only driver-side calls
are traced. Work inside Python workers is taken from Spark's own stage
metrics instead (see ``spark_stage_metrics``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request
from collections import defaultdict

# (module path, attribute owner or None for the module itself, attribute,
# layer) for every wrapped entry point
EXECUTOR = "spyglass_spark.query.executor"
TARGETS = [
    (EXECUTOR, None, "compile_query", "compile"),
    (EXECUTOR, None, "compile_expanded", "compile"),
    ("spyglass_spark.query.parser", None, "parse_with_filters", "compile"),
    (EXECUTOR, None, "expand_prefix", "expand"),
    (EXECUTOR, None, "expand_fuzzy", "expand"),
    (EXECUTOR, "SearchEngine", "_build_scoring_plan", "plan"),
    (EXECUTOR, "SearchEngine", "_score_local", "local"),
    (EXECUTOR, None, "_score_partition", "kernel"),
    (EXECUTOR, None, "varint_decode", "decode"),
    (EXECUTOR, None, "decode_postings", "decode"),
    (EXECUTOR, None, "decode_positions_selected", "decode"),
    (EXECUTOR, None, "decode_positions_stream", "decode"),
    (EXECUTOR, None, "sloppy_phrase_counts_batch", "phrase"),
    (EXECUTOR, None, "phrase_position_keys", "phrase"),
    (EXECUTOR, "SearchEngine", "_merge_driver", "distributed"),
    (EXECUTOR, "SearchEngine", "_merge_window", "distributed"),
    (EXECUTOR, "SearchEngine", "_merge_driver_pdf", "merge"),
    (EXECUTOR, "SearchEngine", "_doc_meta_pyarrow", "doc_meta"),
    (EXECUTOR, "SearchEngine", "_local_hits_df", "local_relation"),
    (EXECUTOR, "SearchEngine", "_match_doc_meta", "match_frame"),
    (EXECUTOR, "SearchEngine", "_prewarm_session", "prewarm_session"),
    (EXECUTOR, "SearchEngine", "_prewarm_local_exec", "prewarm_local"),
    (EXECUTOR, "SearchEngine", "refresh", "refresh"),
    ("spyglass_spark.index.builder", None, "_build_generation", "build_generation"),
    ("spyglass_spark.index.builder", None, "commit_manifest", "commit"),
    ("spyglass_spark.index.builder", None, "merge_generations", "merge_generations"),
]


class Tracer:
    def __init__(self) -> None:
        self.recording = False
        self.op_id: int | None = None
        self.spans: list[list] = []  # [name, start, end, parent, op_id, n]
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.op_id, 0])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            idx = tracer._open(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            if layer == "expand":
                tracer.spans[idx][5] = len(out)
            return out

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, owner, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            holder = getattr(mod, owner) if owner else mod
            fn = getattr(holder, attr)
            traced = self.wrap(fn, layer)
            setattr(holder, attr, traced)
            # a function imported from another module is pickled by the
            # name it has there: point that name at the wrapper too, or
            # Spark would pickle the wrapper by value
            home = importlib.import_module(fn.__module__)
            if owner is None and getattr(home, fn.__qualname__, None) is fn:
                setattr(home, fn.__qualname__, traced)

    def layer_totals(self, op_ids: set[int]) -> dict:
        """Per layer, over the spans of the given ops: self seconds, span
        count and the summed ``n`` payload."""
        child_time = defaultdict(float)
        for name, start, end, parent, op, _ in self.spans:
            if parent >= 0 and end is not None:
                child_time[parent] += end - start
        out: dict[str, list] = defaultdict(lambda: [0.0, 0, 0])
        for i, (name, start, end, parent, op, n) in enumerate(self.spans):
            if op not in op_ids or end is None:
                continue
            acc = out[name]
            acc[0] += (end - start) - child_time[i]
            acc[1] += 1
            acc[2] += n
        return out


def next_job_id(sc) -> int:
    """Id the next Spark job will get: jobs started between two reads are
    the ids in between, whichever thread or caller started them."""
    nxt = sc._jsc.sc().dagScheduler().nextJobId()
    return int(nxt if isinstance(nxt, int) else nxt.get())


def _rest(sc, path: str):
    base = sc.uiWebUrl.rsplit(":", 1)
    url = f"http://127.0.0.1:{base[1]}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_stage_metrics(sc, job_ranges: list[tuple[int, int]]) -> list[dict]:
    """Per job-id range: jobs, tasks and the summed stage metrics that the
    local UI's REST API reports once the jobs have ended."""
    jobs = {j["jobId"]: j for j in _rest(sc, "/jobs")}
    by_stage = defaultdict(list)  # one entry per stage attempt
    for s in _rest(sc, "/stages"):
        by_stage[s["stageId"]].append(s)
    out = []
    for lo, hi in job_ranges:
        acc = {"jobs": 0, "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
               "gc_ms": 0.0, "shuffle_bytes": 0, "input_bytes": 0}
        for jid in range(lo, hi):
            acc["jobs"] += 1
            job = jobs.get(jid)
            if job is None:
                continue
            for sid in job.get("stageIds", []):
                for s in by_stage.get(sid, []):
                    if s.get("status") == "SKIPPED":
                        continue
                    acc["tasks"] += s.get("numCompleteTasks", 0)
                    acc["run_ms"] += s.get("executorRunTime", 0)
                    acc["cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
                    acc["gc_ms"] += s.get("jvmGcTime", 0)
                    acc["shuffle_bytes"] += (s.get("shuffleReadBytes", 0)
                                             + s.get("shuffleWriteBytes", 0))
                    acc["input_bytes"] += s.get("inputBytes", 0)
        out.append(acc)
    return out
