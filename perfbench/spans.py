"""Spans around the engine's public calls, recorded from outside the engine.

``Tracer.wrap`` swaps a public method or function for a wrapper that opens a
span around every call; ``Tracer.restore`` puts the originals back. A span
carries a name, start and end (epoch seconds), its parent span, the run id
and the half-open range ``[job_lo, job_hi)`` of Spark job ids submitted
while it was open. The driver calls one layer at a time, so that range
attributes Spark work to the call; per-job and per-stage metrics are read
from the Spark status store after the run (``spark_jobs``). ``cost_s``
accumulates the wall time the tracer itself adds to the traced calls:
opening and closing spans and the ``after`` hooks.

``CycleClock`` is the untraced counterpart: it only records the wall time
of each ``run_cycle`` call.
"""

from __future__ import annotations

import functools
import json
import time


class CycleClock:
    """Wall time of every ``SparkCrawler.run_cycle`` call, nothing else."""

    def __init__(self, crawler_cls):
        self.cycles: list[float] = []
        self._cls = crawler_cls
        self._orig = crawler_cls.run_cycle
        orig, cycles = self._orig, self.cycles

        @functools.wraps(orig)
        def timed(crawler, *args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(crawler, *args, **kwargs)
            finally:
                cycles.append(time.perf_counter() - t0)

        crawler_cls.run_cycle = timed

    def restore(self) -> None:
        self._cls.run_cycle = self._orig


class Tracer:
    def __init__(self, spark, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self._spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self.cores = spark.sparkContext.defaultParallelism

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def open(self, name: str, **attrs) -> dict:
        t0 = time.perf_counter()
        span = {"id": len(self.spans), "name": name, "run_id": self.run_id,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.time(), "job_lo": self.next_job_id(), **attrs}
        self.spans.append(span)
        self._stack.append(span)
        self.cost_s += time.perf_counter() - t0
        return span

    def close(self, span: dict, ok: bool = True) -> None:
        t0 = time.perf_counter()
        span["job_hi"] = self.next_job_id()
        span["end"] = time.time()
        span["ok"] = ok
        self._stack.remove(span)
        self.cost_s += time.perf_counter() - t0

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``; returns its result."""
        span = self.open(name)
        ok = False
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        finally:
            self.close(span, ok)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace every call of ``owner.attr``. ``after(span, args, result)``
        may add attributes to the span once the span has closed."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span = tracer.open(name)
            ok = False
            try:
                out = orig(*args, **kwargs)
                ok = True
            finally:
                tracer.close(span, ok)
            if after is not None:
                t0 = time.perf_counter()
                after(span, args, out)
                tracer.cost_s += time.perf_counter() - t0
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched = []

    # -- analysis ---------------------------------------------------------
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        return (span["end"] - span["start"]) - _covered(
            [(c["start"], c["end"]) for c in self.children(span)],
            span["start"], span["end"])

    def spark_jobs(self) -> dict[int, dict]:
        """Job id → job and stage metrics from the Spark status store, once
        the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None).iterator()
        stage_cache: dict[int, dict | None] = {}
        out: dict[int, dict] = {}
        while jobs.hasNext():
            job = jobs.next()
            stages = [s for s in (_stage(store, sid, stage_cache)
                                  for sid in _ids(job.stageIds()))
                      if s is not None]
            sub, done = job.submissionTime(), job.completionTime()
            out[int(job.jobId())] = {
                "submitted": sub.get().getTime() / 1000.0
                if sub.isDefined() else None,
                "completed": done.get().getTime() / 1000.0
                if done.isDefined() else None,
                "stages": len(stages),
                "tasks": sum(s["tasks"] for s in stages),
                "failed_tasks": sum(s["failed_tasks"] for s in stages),
                "run_s": sum(s["run_s"] for s in stages),
                "cpu_s": sum(s["cpu_s"] for s in stages),
                "shuffle_read_bytes": sum(s["shuffle_read_bytes"]
                                          for s in stages),
                "shuffle_write_bytes": sum(s["shuffle_write_bytes"]
                                           for s in stages),
                "spill_bytes": sum(s["spill_bytes"] for s in stages),
            }
        return out

    def dump(self, path: str, jobs: dict[int, dict]) -> None:
        """Write every span, with its self time and the Spark totals of its
        job range, as JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s)
                rec["self_s"] = self.self_time(s)
                rec["spark"] = job_totals(jobs, s)
                f.write(json.dumps(rec, default=str) + "\n")


def _ids(seq) -> list[int]:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def _stage(store, sid: int, cache: dict) -> dict | None:
    """Metrics of a stage's last attempt; None for stages that were skipped
    (their output was reused) or are unknown to the store."""
    if sid in cache:
        return cache[sid]
    try:
        st = store.lastStageAttempt(sid)
    except Exception:  # py4j error: stage evicted from the store
        cache[sid] = None
        return None
    if str(st.status()) == "SKIPPED":
        cache[sid] = None
        return None
    cache[sid] = {
        "tasks": int(st.numCompleteTasks()) + int(st.numFailedTasks()),
        "failed_tasks": int(st.numFailedTasks()),
        "run_s": int(st.executorRunTime()) / 1000.0,
        "cpu_s": int(st.executorCpuTime()) / 1e9,
        "shuffle_read_bytes": int(st.shuffleReadBytes()),
        "shuffle_write_bytes": int(st.shuffleWriteBytes()),
        "spill_bytes": int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
    }
    return cache[sid]


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def job_totals(jobs: dict[int, dict], span: dict) -> dict:
    """Spark totals over the jobs submitted while ``span`` was open, plus
    the span's driver gap: wall time not covered by any of its jobs."""
    mine = [jobs[j] for j in range(span["job_lo"], span["job_hi"]) if j in jobs]
    keys = ("stages", "tasks", "failed_tasks", "run_s", "cpu_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    out = {k: sum(j[k] for j in mine) for k in keys}
    out["jobs"] = len(mine)
    out["driver_gap_s"] = (span["end"] - span["start"]) - _covered(
        [(j["submitted"], j["completed"]) for j in mine
         if j["submitted"] is not None and j["completed"] is not None],
        span["start"], span["end"])
    return out
