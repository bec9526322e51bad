"""Traced run: spans around the program's public functions, joined to the
Spark jobs each one ran.

The tracer patches each wrapped name where the program looks it up (module
attributes, class attributes, and the names ``client.py`` imports
directly).  A span sets ``spark.jobGroup.id`` to its own id for its extent
and restores its parent's group on exit, so every job Spark submits from the
main thread carries the innermost open span.  After the session stops, the
uncompressed event log gives each job's wall time and its tasks' metrics.
Jobs submitted from other threads (the program's staged-write thread pools
do not inherit the group) land in an explicit ``unattributed`` bucket.

Spans are kept in memory and written as JSON at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager

# Layers whose spans run Spark jobs; each gets the executor/driver family.
JOB_LAYERS = (
    "client", "history", "score", "wand", "blocks", "vector", "build",
    "delta_store", "incremental",
)
JOB_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "driver_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
_COUNTS = ("client.reopens", "cache.hits", "cache.misses", "history.jobs",
           "score.jobs", "score.tasks", "score.batch_stages", "wand.jobs",
           "wand.tasks", "vector.jobs", "delta_store.merges",
           "delta_store.segments", "incremental.diff_jobs", "unattributed.jobs",
           "trace.spans")
_RATIOS = ("cache.hit_ratio", "delta_store.write_amp")
_OTHER = (
    "session.open_s", "client.self_s", "client.reopen_s", "history.log_s",
    "score.plan_s", "score.collect_s", "score.shuffle_bytes", "score.batch_plan_s",
    "score.batch_collect_s", "wand.plan_s", "wand.collect_s", "blocks.build_s",
    "blocks.update_s", "blocks.bytes", "vector.build_s", "vector.ann_build_s",
    "vector.search_plan_s", "vector.search_collect_s", "build.build_index_s",
    "build.stage_docs_s", "build.stage_postings_s", "build.stage_termstats_s",
    "delta_store.apply_update_s", "delta_store.merge_segments_s",
    "delta_store.compact_s", "incremental.update_full_s",
    "unattributed.executor_run_s", "trace.search_p50_s", "trace.self_s",
)


def _unit(name: str) -> str:
    if name in _COUNTS:
        return "count"
    if name in _RATIOS:
        return "ratio"
    return "s" if name.endswith("_s") else "bytes"


# every per-layer metric (name -> unit), in report order
PER_LAYER = {
    n: _unit(n)
    for n in sorted(_COUNTS + _RATIOS + _OTHER
                    + tuple(f"{la}.{f}" for la in JOB_LAYERS for f in JOB_FIELDS))
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans -----------------------------------------------------------

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str):
        if threading.current_thread() is not threading.main_thread():
            # the stack and the job group belong to the main thread
            yield None
            return
        t = time.perf_counter()
        rec = {
            "id": f"pb-{len(self.spans)}",
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        self.self_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.self_s += time.perf_counter() - t

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name, collect: str | None = None) -> None:
        """Replace ``owner.attr`` by a spanned twin.  ``name`` is a span
        name or a function of the call's kwargs returning one.  With
        ``collect``, the DataFrame the call returns gets a spanned
        ``collect`` too (plan construction and execution become two
        spans)."""
        raw = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = raw.__func__ if isinstance(raw, classmethod) else raw
        tracer = self

        def wrapper(*args, **kwargs):
            label = name(kwargs) if callable(name) else name
            with tracer.span(label):
                out = fn(*args, **kwargs)
            if collect is not None:
                inner = out.collect

                def spanned_collect():
                    with tracer.span(collect):
                        return inner()

                out.collect = spanned_collect
            return out

        wrapper.__wrapped__ = fn
        setattr(owner, attr, classmethod(wrapper) if isinstance(raw, classmethod) else wrapper)
        self._patches.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def instrument(self) -> None:
        """Wrap the public entry points of every layer the benchmark
        reports on."""
        from bm25_index_tool_spark import blocks, build, client, delta_store
        from bm25_index_tool_spark import history, incremental, score, vector, wand

        C = client.BM25SparkClient
        self.wrap(C, "search", "client.search")
        self.wrap(C, "batch_search_rows", "client.batch")
        self.wrap(C, "search_semantic", "client.semantic")
        self.wrap(C, "create_index", "client.create")
        self.wrap(C, "update_index", "client.update")
        self.wrap(C, "compact_index", "client.compact")
        self.wrap(C, "build_vector_ann", "client.ann")
        self.wrap(score.LoadedIndex, "open", "client.reopen")
        self.wrap(history.SearchHistory, "log", "history.log")
        # client.py binds these two by name at import
        self.wrap(client, "score_query", "score.plan", collect="score.collect")
        self.wrap(client, "score_query_batch", "score.batch_plan",
                  collect="score.batch_collect")
        self.wrap(wand, "wand_search", "wand.plan", collect="wand.collect")
        self.wrap(vector, "semantic_search_index", "vector.search_plan",
                  collect="vector.search_collect")
        self.wrap(vector, "build_vector_index", "vector.build")
        self.wrap(vector, "build_vector_ann", "vector.ann_build")
        self.wrap(blocks, "build_blocks", "blocks.build")
        self.wrap(blocks, "update_blocks", "blocks.update")
        self.wrap(build, "build_index", "build.build_index")
        self.wrap(incremental, "apply_update",
                  lambda kw: "incremental.update_full"
                  if kw.get("mode", "full") == "full" else "incremental.upsert")
        self.wrap(delta_store, "apply_update_append", "delta_store.apply_update")
        self.wrap(delta_store, "merge_segments", "delta_store.merge_segments")
        self.wrap(delta_store, "compact_index", "delta_store.compact")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- event log ---------------------------------------------------------------

def _events(log_dir: str):
    """Every event of the one application logged under ``log_dir``; Spark
    4.x writes a rolling ``eventlog_v2_<app>/events_<n>_<app>`` directory."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no rolling event log under {log_dir}")
    files.sort(key=lambda p: int(re.search(r"events_(\d+)_", p).group(1)))
    for p in files:
        with open(p) as f:
            for line in f:
                yield json.loads(line)


def read_jobs(log_dir: str) -> list[dict]:
    """Jobs with their group, wall time and summed task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            j = jobs[e["Job ID"]] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": e["Submission Time"] / 1000.0,
                "tasks": 0, "stages": set(),
                **{f: 0.0 for f in JOB_FIELDS if f != "driver_s"},
            }
            for s in e["Stage IDs"]:
                stage_job[s] = e["Job ID"]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            j = jobs.get(stage_job.get(e["Stage ID"]))
            if j is None:
                continue
            m = e["Task Metrics"]
            sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
            j["tasks"] += 1
            j["stages"].add(e["Stage ID"])
            j["executor_run_s"] += m["Executor Run Time"] / 1e3
            j["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            j["gc_s"] += m["JVM GC Time"] / 1e3
            j["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            j["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            j["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
            j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return list(jobs.values())


# -- per-layer metrics ---------------------------------------------------------

def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(spans: list[dict], jobs: list[dict], extra: dict) -> dict[str, float]:
    """The per-layer metric set (see README.md).  Times are per operation
    of the layer unless the README notes a per-run total.  ``extra`` carries
    values the workload measured itself (cache counters, segments, bytes)."""
    by_id = {s["id"]: s for s in spans}
    own: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    unattributed = []
    for j in jobs:
        (own[j["group"]] if j["group"] in own else unattributed).append(j)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def wall(s):
        return s["end"] - s["start"]

    def subtree_jobs(s):
        out = list(own[s["id"]])
        for c in spans:
            if c["parent"] == s["id"]:
                out += subtree_jobs(c)
        return out

    def per_call(plan, collect, key):
        """Per call of ``plan``: a job field (or the job count) summed over
        its own and its collect's jobs."""
        calls = named(plan)
        total = sum(1 if key == "jobs" else j[key]
                    for s in calls + named(collect) for j in own[s["id"]])
        return total / len(calls) if calls else 0.0

    child_wall: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + wall(s)

    def self_s(s):
        return wall(s) - child_wall.get(s["id"], 0.0)

    searches = named("client.search")
    reopens = named("client.reopen")
    batches = named("score.batch_plan")
    upsert_ids = {s["id"] for s in named("incremental.upsert")}
    full = named("incremental.update_full")
    builds = named("build.build_index")

    m: dict[str, float] = {
        "session.open_s": _mean(wall(s) for s in named("session.open")),
        "client.self_s": _mean(self_s(s) for s in searches),
        "client.reopen_s": _mean(wall(s) for s in reopens),
        "client.reopens": len(reopens),
        "history.log_s": _mean(wall(s) for s in named("history.log")),
        "history.jobs": per_call("history.log", None, "jobs"),
        "score.plan_s": _mean(wall(s) for s in named("score.plan")),
        "score.collect_s": _mean(wall(s) for s in named("score.collect")),
        "score.jobs": per_call("score.plan", "score.collect", "jobs"),
        "score.tasks": per_call("score.plan", "score.collect", "tasks"),
        "score.shuffle_bytes": per_call("score.plan", "score.collect",
                                            "shuffle_write_bytes"),
        "score.batch_plan_s": _mean(wall(s) for s in batches),
        "score.batch_collect_s": _mean(wall(s) for s in named("score.batch_collect")),
        "score.batch_stages": (
            sum(len(j["stages"]) for s in batches + named("score.batch_collect")
                for j in own[s["id"]]) / len(batches) if batches else 0.0
        ),
        "wand.plan_s": _mean(wall(s) for s in named("wand.plan")),
        "wand.collect_s": _mean(wall(s) for s in named("wand.collect")),
        "wand.jobs": per_call("wand.plan", "wand.collect", "jobs"),
        "wand.tasks": per_call("wand.plan", "wand.collect", "tasks"),
        "blocks.build_s": sum(wall(s) for s in named("blocks.build")),
        "blocks.update_s": _mean(wall(s) for s in named("blocks.update")),
        "vector.build_s": sum(wall(s) for s in named("vector.build")),
        "vector.ann_build_s": sum(wall(s) for s in named("vector.ann_build")),
        "vector.search_plan_s": _mean(wall(s) for s in named("vector.search_plan")),
        "vector.search_collect_s": _mean(wall(s) for s in named("vector.search_collect")),
        "vector.jobs": per_call("vector.search_plan", "vector.search_collect", "jobs"),
        "build.build_index_s": sum(wall(s) for s in builds),
        "delta_store.apply_update_s": _mean(
            wall(s) for s in named("delta_store.apply_update") if s["parent"] in upsert_ids
        ),
        "delta_store.merge_segments_s": _mean(wall(s) for s in named("delta_store.merge_segments")),
        "delta_store.merges": len(named("delta_store.merge_segments")),
        "delta_store.compact_s": _mean(wall(s) for s in named("delta_store.compact")),
        "incremental.update_full_s": _mean(wall(s) for s in full),
        "incremental.diff_jobs": _mean(len(subtree_jobs(s)) for s in full),
        "unattributed.jobs": len(unattributed),
        "unattributed.executor_run_s": sum(j["executor_run_s"] for j in unattributed),
        "trace.spans": len(spans),
    }
    # the executor/driver family per layer: the layer's own jobs over its
    # operations (its outermost spans); driver_s = the self time of its
    # spans minus the wall of the jobs they ran
    for layer in JOB_LAYERS:
        mine = [s for s in spans if s["name"].split(".")[0] == layer]
        ops = [s for s in mine if s["parent"] is None
               or by_id[s["parent"]]["name"].split(".")[0] != layer]
        ljobs = [j for s in mine for j in own[s["id"]]]
        n = len(ops)
        for f in JOB_FIELDS:
            if f == "driver_s":
                v = sum(self_s(s) for s in mine) - sum(j["end"] - j["start"] for j in ljobs)
            else:
                v = sum(j[f] for j in ljobs)
            m[f"{layer}.{f}"] = v / n if n else 0.0
    m.update(extra)
    return {k: float(v) for k, v in m.items()}
