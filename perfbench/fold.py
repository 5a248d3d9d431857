"""Layer spans around dot_spark's public entry points, and the fold of
Spark's event log into per-layer counters.

Spans are recorded from outside the package: `Tracer.install` replaces
the public functions and methods of each layer module with timing
wrappers. It must run before `dot_spark.queries` is imported, because
that module binds `load_table`, `dedupe_keep_latest` and the relational
helpers by name at import. Only the outermost call per layer is a span,
so a layer function calling its own siblings is not double counted.

Jobs are attributed to spans by submission time, not by job group:
Structured Streaming replaces the job group with its run id.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import time
from dataclasses import dataclass, field

# layer name -> (module, class whose public methods are the layer, or
# None for the module's public functions)
LAYERS: dict[str, tuple[str, str | None]] = {
    "sources": ("dot_spark.sources.registry", None),
    "sources.rest": ("dot_spark.sources.rest", None),
    "operators.graph": ("dot_spark.operators.graph", None),
    "operators.textdedup": ("dot_spark.operators.textdedup", None),
    "operators.woo_flatten": ("dot_spark.operators.woo_flatten", None),
    "operators.flatten": ("dot_spark.operators.flatten", None),
    "loads": ("dot_spark.loads", "Warehouse"),
    "txlog": ("dot_spark.txlog", "TxTable"),
    "pipelines": ("dot_spark.pipelines", None),
}
# `sources` is reported as one layer: the registry scan plus the REST
# data source's driver-side registration
MERGED = {"sources.rest": "sources"}

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"  # ms, like the two below
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
MB = 1e6


@dataclass
class Span:
    layer: str
    start: float  # epoch seconds, comparable with the event log's ms
    end: float


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    commits: list[float] = field(default_factory=list)  # epoch seconds
    _depth: dict[str, int] = field(default_factory=dict)

    def span(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = self._depth.get(layer, 0)
            self._depth[layer] = depth + 1
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[layer] = depth
                if depth == 0:
                    self.spans.append(Span(layer, start, time.time()))

        return wrapper

    def install(self) -> None:
        wrapped: dict[int, object] = {}
        for layer, (modname, clsname) in LAYERS.items():
            mod = importlib.import_module(modname)
            name = MERGED.get(layer, layer)
            owner = getattr(mod, clsname) if clsname else mod
            for attr, fn in list(vars(owner).items()):
                if attr.startswith("_") or not inspect.isfunction(fn):
                    continue
                if clsname is None and fn.__module__ != modname:
                    continue  # a name the module imported, not its own
                wrapper = self.span(name, fn)
                setattr(owner, attr, wrapper)
                wrapped[id(fn)] = wrapper
        # modules imported above may have bound a layer function by
        # name before it was wrapped: point those names at the wrapper
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("dot_spark") and mod is not None:
                for attr, value in list(vars(mod).items()):
                    if id(value) in wrapped and value is not wrapped[id(value)]:
                        setattr(mod, attr, wrapped[id(value)])
        # a successful manifest claim is one txlog commit
        from dot_spark.txlog import TxTable

        claim = TxTable._try_claim

        def counted_claim(table, version, manifest):
            ok = claim(table, version, manifest)
            if ok:
                self.commits.append(time.time())
            return ok

        TxTable._try_claim = counted_claim


def read_events(event_dir: str, app_id: str) -> list[dict]:
    """Every event of one application's uncompressed event log, single
    file or rolling (`eventlog_v2_<app>/events_<n>_<app>`)."""
    paths = []
    for name in sorted(os.listdir(event_dir)):
        full = os.path.join(event_dir, name)
        if app_id not in name:
            continue
        if os.path.isdir(full):
            parts = sorted(
                (p for p in os.listdir(full) if p.startswith("events_")),
                key=lambda p: int(p.split("_")[1]),
            )
            paths += [os.path.join(full, p) for p in parts]
        else:
            paths.append(full)
    events = []
    for path in paths:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def fold(
    events: list[dict],
    windows: list[tuple[float, float]],
    spans: list[Span],
    cores: int,
) -> tuple[dict[str, float], dict[str, int]]:
    """Totals over the given wall-clock windows (epoch seconds; one per
    timed item) of every event-log counter, and the jobs of each span
    layer.

    A job belongs to a window, and to a span, when its submission time
    falls inside it; its stages and tasks follow the job."""

    def inside(t: float, ivs) -> bool:
        return any(lo <= t <= hi for lo, hi in ivs)

    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_iv: dict[int, tuple[float, float]] = {}
    tasks: list[dict] = []
    progress: list[dict] = []
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_iv[info["Stage ID"]] = (
                    info["Submission Time"] / 1000.0,
                    info["Completion Time"] / 1000.0,
                )
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress.append(ev["progress"])

    jobs = {j for j, t in job_submit.items() if inside(t, windows)}
    stages = {s for s, j in stage_job.items() if j in jobs and s in stage_iv}
    out: dict[str, float] = {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
    }
    ivs = [stage_iv[s] for s in stages]
    stage_s = sum(_union(_clip(ivs, lo, hi)) for lo, hi in windows)
    out["spark.stage_s"] = stage_s
    out["spark.driver_gap_s"] = sum(hi - lo for lo, hi in windows) - stage_s

    n_tasks = failed = 0
    run_ms = cpu_ns = gc_ms = queue_ms = 0.0
    shuffle_w = shuffle_r = spill = sent = returned = 0.0
    py_ms: dict[str, float] = {}
    for ev in tasks:
        if ev["Stage ID"] not in stages:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        n_tasks += 1
        failed += bool(info.get("Failed"))
        queue_ms += info["Launch Time"] - stage_iv[ev["Stage ID"]][0] * 1000.0
        run_ms += m.get("Executor Run Time", 0)
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        shuffle_r += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        spill += m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            name, update = acc.get("Name", ""), acc.get("Update")
            if not isinstance(update, (int, float, str)) or "Python" not in name:
                continue
            value = float(update)
            if name == PY_SENT:
                sent += value
            elif name == PY_RETURNED:
                returned += value
            elif name in (PY_START, PY_INIT, PY_RUN):
                py_ms[name] = py_ms.get(name, 0.0) + value
    out.update(
        {
            "spark.tasks": n_tasks,
            "spark.tasks_failed": failed,
            "spark.task_queue_s": queue_ms / 1000.0,
            "spark.executor_run_s": run_ms / 1000.0,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.gc_s": gc_ms / 1000.0,
            "spark.slot_util": (run_ms / 1000.0) / (stage_s * cores) if stage_s else 0.0,
            "spark.shuffle_write_mb": shuffle_w / MB,
            "spark.shuffle_read_mb": shuffle_r / MB,
            "spark.spill_mb": spill / MB,
            "python.sent_mb": sent / MB,
            "python.returned_mb": returned / MB,
            "python.start_s": (py_ms.get(PY_START, 0.0) + py_ms.get(PY_INIT, 0.0)) / 1000.0,
            "python.run_s": py_ms.get(PY_RUN, 0.0) / 1000.0,
        }
    )

    batches = [
        p for p in progress
        if inside(_iso_epoch(p["timestamp"]), windows)
    ]
    durations = [p.get("durationMs") or {} for p in batches]
    out["streaming.batches"] = len(batches)
    empty = sum(
        sum(src.get("numInputRows", 0) for src in p.get("sources", [])) == 0 for p in batches
    )
    out["streaming.empty_batch_share"] = empty / len(batches) if batches else 0.0
    out["streaming.trigger_s"] = sum(d.get("triggerExecution", 0) for d in durations) / 1000.0
    out["streaming.wal_commit_s"] = sum(d.get("walCommit", 0) for d in durations) / 1000.0

    layer_jobs = {}
    for layer in {s.layer for s in spans}:
        mine = [(s.start, s.end) for s in spans if s.layer == layer]
        layer_jobs[layer] = sum(inside(job_submit[j], mine) for j in jobs)
    return out, layer_jobs


def _iso_epoch(stamp: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    from datetime import datetime, timezone

    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp()
