"""Spans around the runner's calls into the engine, with Spark counters.

A span has a name, start, end, parent and run id. When tracing is on,
each span sets the Spark job group, and at its end the tracer waits for
the listener bus to drain and reads every job that started inside it
from the JVM status store (this works with ``spark.ui.enabled=false``).
Jobs are attributed by id range, not by job group, because the engine
launches some jobs from its own worker threads, which do not inherit the
caller's group. The runner is one closed-loop client, so every job that
starts between a span's start and end belongs to that span.

Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

#: counters summed over a span's jobs
COUNTERS = (
    "tasks", "exec_run_s", "exec_cpu_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "bytes_written",
)
#: counters also kept per call-site group of a span's jobs
SITE_COUNTERS = ("exec_run_s", "exec_cpu_s", "shuffle_write_bytes")
#: cpu_per_run below this marks a span whose tasks mostly wait
LOW_CPU = 0.1

_PY_SITE = re.compile(r"([\w.]+)\.py:\d+")
#: modules of this benchmark: a job launched from one of them is an
#: action the runner called on a frame the engine built lazily
RUNNER_MODULES = ("workloads", "checks", "run")


def cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the box so far, from /proc/stat: the
    stolen share is time the hypervisor gave this box's CPUs to others."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def job_site(name: str) -> str:
    """Call-site group of a Spark job name: the Python module that
    launched it (``collect at .../operators/retrieval.py:247`` ->
    ``retrieval``; the runner's own actions -> ``action``), else the JVM
    call site's method name (``parquet``), or ``async`` for the jobs
    Spark launches from its own threads (adaptive query stages and
    broadcast builds), whose call site names no caller."""
    m = _PY_SITE.search(name or "")
    if m:
        return "action" if m.group(1) in RUNNER_MODULES else m.group(1)
    if "withThreadLocalCaptured" in (name or ""):
        return "async"
    return (name or "unknown").split(" at ")[0]


class Tracer:
    """Records spans; a disabled tracer records nothing and costs a
    context-manager entry per call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        self._sc = None
        self._store = None
        self._bus = None
        self._last_job = -1
        self._jobs: dict[int, dict] = {}

    def attach(self, spark) -> None:
        """Start reading counters from ``spark`` (spans opened before
        this, such as the session start itself, carry wall time only)."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._last_job = self._settle()

    @contextmanager
    def span(self, name: str, **extra):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            **extra,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self._sc is not None:
            self._sc.setJobGroup(f"{self.run_id}/{rec['id']}", name)
        first_job = self._last_job + 1
        overhead_at_start = self.overhead_s
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["wall_s"] = rec["end"] - rec["start"] - (self.overhead_s - overhead_at_start)
            self._stack.pop()
            t = time.perf_counter()
            if self._sc is not None:
                last = self._settle()
                rec["job_ids"] = list(range(first_job, last + 1))
                for jid in rec["job_ids"]:
                    self._job(jid)  # read now: the store keeps only recent jobs
                self._last_job = last
                if parent is not None:
                    self._sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
                else:
                    self._sc._jsc.clearJobGroup()
            else:
                rec["job_ids"] = []
            self.overhead_s += time.perf_counter() - t

    @contextmanager
    def paused(self):
        """Run a block untraced: no span opens inside it, and the jobs it
        launched are skipped when tracing resumes."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was
            if was and self._sc is not None:
                self._last_job = self._settle()

    def _settle(self) -> int:
        """Wait until the status store has seen every posted event and
        return the id of the newest job (-1 before the first)."""
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def _job(self, jid: int) -> dict:
        if jid in self._jobs:
            return self._jobs[jid]
        jd = self._store.job(jid)
        rec = {"id": jid, "name": str(jd.name()), "site": job_site(str(jd.name()))}
        rec.update({c: 0 for c in COUNTERS})
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            try:
                sd = self._store.lastStageAttempt(int(stage_ids.apply(i)))
            except Exception:  # noqa: BLE001 - a stage that never ran has no attempt
                continue
            if str(sd.status()) != "COMPLETE":
                continue  # skipped stages reuse an earlier job's output
            rec["tasks"] += int(sd.numCompleteTasks())
            rec["exec_run_s"] += int(sd.executorRunTime()) / 1e3
            rec["exec_cpu_s"] += int(sd.executorCpuTime()) / 1e9
            rec["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            rec["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            rec["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
            rec["bytes_written"] += int(sd.outputBytes())
        self._jobs[jid] = rec
        return rec

    def finish(self) -> list[dict]:
        """Resolve every span's counters (inclusive of its children, with
        self time and self jobs net of them) and return the spans."""
        if not self.enabled:
            return []
        for rec in self.spans:
            jobs = [self._jobs[j] for j in rec.pop("job_ids", [])]
            rec["jobs"] = len(jobs)
            for c in COUNTERS:
                rec[c] = sum(j[c] for j in jobs)
            rec["cpu_per_run"] = rec["exec_cpu_s"] / rec["exec_run_s"] if rec["exec_run_s"] else None
            rec["low_cpu"] = rec["cpu_per_run"] is not None and rec["cpu_per_run"] < LOW_CPU
            sites: dict[str, dict] = {}
            for j in jobs:
                s = sites.setdefault(j["site"], {"jobs": 0, **{c: 0 for c in SITE_COUNTERS}})
                s["jobs"] += 1
                for c in SITE_COUNTERS:
                    s[c] += j[c]
            rec["sites"] = sites
        for rec in self.spans:
            kids = [k for k in self.spans if k["parent"] == rec["id"]]
            rec["self_s"] = rec["wall_s"] - sum(k["wall_s"] for k in kids)
            rec["self_jobs"] = rec["jobs"] - sum(k["jobs"] for k in kids)
        return self.spans


def per_call(spans: list[dict], name: str, field: str, parent: str | None = None) -> float:
    """Median of ``field`` over the spans called ``name`` outside any
    warm-up (only those under a parent span called ``parent``, when
    given); 0 when no such span ran in this workload."""
    by_id = {s["id"]: s for s in spans}

    def in_warmup(s: dict) -> bool:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s["name"].startswith("warmup"):
                return True
        return False

    calls = [
        s for s in spans
        if s["name"] == name
        and (parent is None or (s["parent"] is not None and by_id[s["parent"]]["name"] == parent))
        and not in_warmup(s)
    ]
    vals = [s[field] for s in calls if s.get(field) is not None]
    return float(statistics.median(vals)) if vals else 0.0
