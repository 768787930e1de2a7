"""Spans and layer counters for the traced run.

Spans (name, start, end, parent, run id, counters) are held in memory
and written once when the run ends. The counters are read where the
work happens, from Spark's own bookkeeping:

- the status tracker and status store, per job group, for jobs,
  stages, tasks, executor run and GC time, shuffle, spill and input bytes;
- the action's ``QueryExecution`` for Catalyst phase times and the SQL
  metrics of the executed plan (bytes crossing the Python boundary,
  files read by a scan);
- ``StreamingQuery.recentProgress`` for per-micro-batch phase times and
  state-store figures.

Only the benchmark's own calls into each layer are wrapped; nothing in
``sanctum_spark`` is patched except a timing wrapper around the codec
round trip the spell runtime imports.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Iterator

import metrics


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    no-op that still yields a counter dict, so untraced passes run the
    same code path minus the bookkeeping."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        counters: dict = dict(attrs)
        if not self.enabled:
            yield counters
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start_s": time.perf_counter() - self._t0,
            "end_s": None,
            "counters": counters,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield counters
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self._t0

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, f, indent=1)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def job_group_exec(sc, group: str) -> dict:
    """Execution counters of every job launched under ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        (
            "exec.jobs",
            "exec.stages",
            "exec.tasks",
            "exec.run_s",
            "exec.gc_s",
            "exec.shuffle_read_bytes",
            "exec.shuffle_write_bytes",
            "exec.spill_bytes",
            "io.input_bytes",
        ),
        0,
    )
    task_status = getattr(store, "stageData$default$3")()
    quantiles = getattr(store, "stageData$default$5")()
    seen: set[int] = set()  # a stage shared by two jobs of the group counts once
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["exec.jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            for st in _seq(store.stageData(sid, False, task_status, False, quantiles)):
                if st.status().toString() == "SKIPPED":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numCompleteTasks()
                out["exec.run_s"] += st.executorRunTime() / 1000.0
                out["exec.gc_s"] += st.jvmGcTime() / 1000.0
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.spill_bytes"] += st.diskBytesSpilled()
                out["io.input_bytes"] += st.inputBytes()
    return out


def plan_phases_s(qe) -> float:
    """Catalyst analysis + optimization + planning time of one
    ``QueryExecution``, from its planning tracker."""
    phases = qe.tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        if ph.isDefined():
            total += ph.get().durationMs()
    return total / 1000.0


_PLAN_METRICS = {
    "pythonDataSent": "python.bytes_in",
    "pythonDataReceived": "python.bytes_out",
    "pythonTotalTime": "python.time_s",
    "numFiles": "scan.files",
}


def plan_metrics(qe) -> dict:
    """Sum selected SQL metrics over the executed plan (through adaptive
    and query-stage wrappers)."""
    out = dict.fromkeys(_PLAN_METRICS.values(), 0)
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        m = node.metrics()
        for key, name in _PLAN_METRICS.items():
            opt = m.get(key)
            if opt.isDefined():
                v = opt.get().value()
                out[name] += v / 1000.0 if name.endswith("_s") else v
        todo.extend(_seq(node.children()))
    return out


def stream_progress(query) -> dict:
    """Digest of one drained ``StreamingQuery``'s per-batch progress."""
    progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in progress]
    triggers = [d.get("triggerExecution", 0) for d in dur]
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    return {
        "stream.batches": len(progress),
        "stream.latest_offset_ms": sum(d.get("latestOffset", 0) for d in dur),
        "stream.get_batch_ms": sum(d.get("getBatch", 0) for d in dur),
        "stream.planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "stream.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "stream.wal_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        "stream.trigger_p50_ms": metrics.median(triggers) if triggers else 0.0,
        "stream.trigger_max_ms": max(triggers, default=0),
        "state.rows_total": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state.memory_bytes": sum(op.get("memoryUsedBytes", 0) for op in last_ops),
        "state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
        "state.updates_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
        "state.dropped_by_watermark": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }
