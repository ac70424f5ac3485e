"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent span and cycle id. Spans live in
memory; ``write_jsonl`` writes them when the run ends. Spark work is
attributed from outside the engine: after a traced cycle the tracer
drains the listener bus, reads every new job and its stages from the
driver's AppStatusStore, and hands each job to the innermost span that
was open when the job was submitted (job submission times and span
times share the wall clock). Nothing in the engine is patched.

With ``enabled=False`` a span costs one attribute test, so the untraced
cycles of a run measure the engine alone.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.cycle: int | str = "setup"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._store = None
        self._next_job = 0

    def attach(self, spark) -> None:
        """Follow a (new) SparkContext: job ids restart at 0 in each."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        s = {
            "id": self._next_id,
            "name": name,
            "cycle": self.cycle,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.spans.append(s)

    # -- Spark accounting ----------------------------------------------------

    def harvest(self) -> dict:
        """Attach every job submitted since the last harvest to its span
        and return the cycle's totals: jobs, stages, tasks, shuffle
        bytes, task seconds and the job intervals (for the driver gap).
        With tracing off for this cycle the new jobs are only skipped,
        so the next traced cycle starts from a clean mark."""
        totals = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "task_s": 0.0, "intervals": []}
        if self._store is None:
            return totals
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        if jobs.size() == 0:
            return totals
        newest = jobs.apply(0).jobId()
        if not self.enabled:
            self._next_job = newest + 1
            return totals
        cycle_spans = [s for s in self.spans if s["cycle"] == self.cycle]
        for jid in range(self._next_job, newest + 1):
            try:
                j = self._store.job(jid)
            except Exception:  # noqa: BLE001 - evicted from the store: count nothing
                continue
            sub = j.submissionTime()
            comp = j.completionTime()
            if not sub.isDefined():
                continue
            t0 = sub.get().getTime() / 1000.0
            t1 = comp.get().getTime() / 1000.0 if comp.isDefined() else t0
            job = {"stages": 0, "tasks": 0, "shuffle_bytes": 0, "task_s": 0.0}
            sids = j.stageIds()
            for i in range(sids.size()):
                attempts = self._store.stageData(sids.apply(i), False, None, False, None)
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    job["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                    job["task_s"] += sd.executorRunTime() / 1000.0
            owner = _innermost(cycle_spans, t0)
            if owner is not None:
                for k in ("stages", "tasks", "shuffle_bytes", "task_s"):
                    owner[f"self_{k}"] = owner.get(f"self_{k}", 0) + job[k]
                owner["self_jobs"] = owner.get("self_jobs", 0) + 1
            totals["jobs"] += 1
            for k in ("stages", "tasks", "shuffle_bytes", "task_s"):
                totals[k] += job[k]
            totals["intervals"].append((t0, t1))
        self._next_job = newest + 1
        _roll_up(cycle_spans)
        return totals

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, default=str) + "\n")


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _roll_up(spans: list[dict]) -> None:
    """Give every span its inclusive Spark totals (own jobs plus its
    descendants') and its self time (duration minus the union of its
    children's intervals)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in sorted(spans, key=lambda s: s["end"] - s["start"]):
        kids = children.get(s["id"], [])
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "task_s"):
            s[k] = s.get(f"self_{k}", 0) + sum(c.get(k, 0) for c in kids)
        s["self_s"] = (s["end"] - s["start"]) - union_length([(c["start"], c["end"]) for c in kids])


def union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
