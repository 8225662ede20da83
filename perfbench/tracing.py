"""Per-layer tracing from outside the engine.

Each call into an engine module runs under its own Spark job group. Spans
(layer, measure, start, end, job group) stay in memory; after the session
stops, the Spark event log that the traced run enabled at launch is read
and every job, stage and task is attributed to its span by job group.
With tracing off every method is a plain call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

#: Per-layer metrics printed by a traced run: name -> unit. Layers a
#: workload does not exercise read 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "corpus.tokenize.exec_s": "s",
    "corpus.tokenize.task_skew": "ratio",
    "tfidf.tfidf.construct_s": "s",
    "tfidf.tfidf.exec_s": "s",
    "tfidf.tfidf.jobs": "count",
    "tfidf.tfidf.shuffle_bytes": "bytes",
    "tfidf.tfidf.task_skew": "ratio",
    "sinks.write_parquet.exec_s": "s",
    "sinks.write_parquet.stored_bytes": "bytes",
    "search.search_rank.construct_s": "s",
    "search.search_rank.exec_s": "s",
    "search.search_rank.jobs": "count",
    "search.search_rank.stages": "count",
    "index_store.build_knn_index.exec_s": "s",
    "index_store.build_knn_index.jobs": "count",
    "index_store.build_knn_index.driver_s": "s",
    "index_store.load_index_s": "s",
    "index_store.serve_knn.construct_s": "s",
    "index_store.serve_knn.exec_s": "s",
    "index_store.serve_knn.jobs": "count",
    "index_store.serve_knn.task_skew": "ratio",
    "index_store.extend_index.exec_s": "s",
    "index_store.extend_index.jobs": "count",
    "index_store.stored_bytes": "bytes",
    "text.annotate.exec_s": "s",
    "text.contamination_bloom.construct_s": "s",
    "text.contamination_bloom.exec_s": "s",
    "dedup.minhash_lsh_dedup.exec_s": "s",
    "dedup.minhash_lsh_dedup.shuffle_bytes": "bytes",
    "dedup.minhash_lsh_dedup.task_skew": "ratio",
    "dedup.minhash_lsh_dedup.pairs": "count",
    "pipeline.curate_corpus.construct_s": "s",
    "pipeline.curate_corpus.exec_s": "s",
    "pipeline.curate_corpus.jobs": "count",
}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants:
    the benchmark process, the engine's JVM with all its threads, PySpark's
    worker daemon and its Python workers (which run in process groups of
    their own), plus children they have reaped. Unlike wall time it does
    not grow while a shared host runs other tenants' work."""
    me = os.getpid()
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and process-tree CPU seconds since construction."""

    def __init__(self):
        self.wall0, self.cpu0 = time.perf_counter(), tree_cpu_s()

    def stop(self) -> tuple[float, float]:
        return time.perf_counter() - self.wall0, tree_cpu_s() - self.cpu0


class Call:
    """One call into a layer: its plan construction and its execution run
    under one job group, so every job the call starts is counted."""

    def __init__(self, tracer: "Tracer", layers: tuple[str, ...], group: str | None):
        self.tracer, self.layers, self.group = tracer, layers, group
        self.spans: list[tuple[str, float, float]] = []

    def _run(self, measure, fn, args, kwargs):
        if self.group is None:
            return fn(*args, **kwargs)
        sc = self.tracer.spark.sparkContext if self.tracer.spark is not None else None
        if sc is not None:
            sc.setJobGroup(self.group, "/".join(self.layers) + ":" + measure)
        t0 = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setJobGroup("perfbench-idle", "outside traced calls")
            self.spans.append((measure, t0, t1))

    def construct(self, fn, *args, **kwargs):
        """Time the Python call that returns a lazy DataFrame."""
        return self._run("construct", fn, args, kwargs)

    def execute(self, fn, *args, **kwargs):
        """Time the action that executes the layer's plan."""
        return self._run("exec", fn, args, kwargs)


class Tracer:
    """Hands out :class:`Call` objects; records them when ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        #: (wall, cpu) seconds spent in probes, which no end-to-end metric
        #: includes
        self.probe_s = [0.0, 0.0]
        self.spark = None
        self.calls: list[Call] = []
        self.values: dict[str, list[float]] = defaultdict(list)

    def start(self, *layers: str) -> Call:
        if not self.enabled:
            return Call(self, layers, None)
        call = Call(self, layers, f"perfbench-{len(self.calls)}")
        self.calls.append(call)
        return call

    def call(self, layers, fn, *args, **kwargs):
        """An eager call: the whole call is the layer's execution."""
        layers = (layers,) if isinstance(layers, str) else layers
        return self.start(*layers).execute(fn, *args, **kwargs)

    def probe(self, target, fn, *args, **kwargs):
        """A traced-only extra execution that isolates one layer's plan
        (e.g. a noop write of the tokenized corpus), as a new call of the
        layer named by ``target`` or as the execution of the
        :class:`Call` ``target``. Skipped untraced, and excluded from every
        end-to-end timing."""
        if not self.enabled:
            return None
        call = target if isinstance(target, Call) else self.start(target)
        clock = Clock()
        try:
            return call.execute(fn, *args, **kwargs)
        finally:
            wall, cpu = clock.stop()
            self.probe_s[0] += wall
            self.probe_s[1] += cpu

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(float(value))

    def layer_metrics(self, event_dir: str) -> dict[str, float]:
        """Per-layer metrics, each the median over the layer's calls."""
        jobs, stages, tasks = _read_event_log(event_dir)
        group_jobs, group_stages = defaultdict(list), defaultdict(list)
        for j in jobs.values():
            group_jobs[j["group"]].append(j)
        for st in stages.values():
            group_stages[st["group"]].append(st["id"])
        vals: dict[str, list[float]] = defaultdict(list)
        for k, v in self.values.items():
            vals[k].extend(v)
        for call in self.calls:
            if not call.spans:
                continue
            gj = group_jobs.get(call.group, [])
            stage_tasks = [tasks.get(sid, []) for sid in group_stages.get(call.group, [])]
            lo = min(t0 for _, t0, _ in call.spans)
            hi = max(t1 for _, _, t1 in call.spans)
            busy = _union_len([(j["start"], j["end"]) for j in gj], (lo, hi))
            # skew of the stage that carried the most task time
            heavy = max(stage_tasks, key=lambda ts: sum(t["dur"] for t in ts), default=[])
            for layer in call.layers:
                for measure, t0, t1 in call.spans:
                    vals[f"{layer}.{measure}_s"].append(t1 - t0)
                vals[f"{layer}_s"].append(hi - lo)
                vals[f"{layer}.jobs"].append(len(gj))
                vals[f"{layer}.stages"].append(len(stage_tasks))
                vals[f"{layer}.shuffle_bytes"].append(
                    sum(t["shuffle"] for ts in stage_tasks for t in ts))
                vals[f"{layer}.task_s"].append(
                    sum(t["dur"] for ts in stage_tasks for t in ts))
                vals[f"{layer}.task_skew"].append(_skew(heavy) if len(heavy) > 1 else 1.0)
                vals[f"{layer}.driver_s"].append(max(0.0, (hi - lo) - busy))
        return {
            name: (statistics.median(vals[name]) if vals.get(name) else 0.0)
            for name in PER_LAYER
        }


def _skew(task_list: list[dict]) -> float:
    durs = [t["dur"] for t in task_list]
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def _union_len(intervals, span) -> float:
    """Seconds of ``span`` covered by the union of job intervals."""
    lo, hi = span
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _read_event_log(event_dir: str):
    """Jobs, stages and per-stage tasks from a Spark JSON event log."""
    jobs, stages, tasks = {}, {}, defaultdict(list)
    files = [
        f for f in glob.glob(f"{event_dir}/**", recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    ]
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": ev["Submission Time"] / 1000.0,
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    props = ev.get("Properties") or {}
                    stages[info["Stage ID"], info["Stage Attempt ID"]] = {
                        "id": info["Stage ID"],
                        "group": props.get("spark.jobGroup.id"),
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks[ev["Stage ID"]].append({
                        "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                        "shuffle": sw,
                    })
    return jobs, stages, tasks
