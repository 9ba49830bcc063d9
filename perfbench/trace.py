"""Span tracing from outside the package.

``install`` swaps the public functions of each layer, as the drain
loop looks them up, for wrappers that record a span (name, start,
end, parent, run id) in memory. Every span runs under its own Spark
job group, so each job lands on the innermost span; stage metrics
come from the status store once the run is over. Nothing here runs
in the untraced run."""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self.op = 0  # index of the timed operation running, 0 outside them
        self.catalyst_ms = dict.fromkeys(CATALYST_PHASES, 0)
        self._stack: list[dict] = []
        self._next = 0
        self._clock = (time.time(), time.perf_counter())

    def epoch_ms(self, t: float) -> float:
        """A perf_counter reading as epoch milliseconds, the clock of
        the status store's job times."""
        return 1000 * (self._clock[0] + t - self._clock[1])

    def _group(self) -> str:
        return self._stack[-1]["groups"][0] if self._stack else f"{self.run_id}.root"

    @contextmanager
    def span(self, name: str):
        self._next += 1
        rec = {
            "id": self._next,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "op": self.op,
            "groups": [f"{self.run_id}.{self._next}"],
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["groups"][0], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            self.sc.setJobGroup(self._group(), "")

    def add_catalyst(self, jdf) -> None:
        """Add the Catalyst phase times recorded on a Dataset's own
        QueryExecution: analysis (done when the Dataset was built, so
        possibly outside any span), then the optimization and planning
        that the action ran on it."""
        phases = jdf.queryExecution().tracker().phases()
        for p in CATALYST_PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self.catalyst_ms[p] += opt.get().durationMs()

    def wrap(self, name: str, fn, action: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if action:
                    self.add_catalyst(args[0]._jdf)
                return out

        return traced


@contextmanager
def install(tracer: Tracer):
    """Wrap the pipeline's layer boundaries for the duration of the
    block: the drain loop and its two batch kinds, the fetch cascade,
    decide / escalation / LLM rescue / notes LLM / write-back, and the
    pin boundary (``localCheckpoint``, ``isEmpty``) as the operators
    call it.

    Catalyst phases are read from the pinned Datasets only: isEmpty
    plans and runs a separate ``select().limit(1)`` QueryExecution that
    is not reachable from its input, so it adds no Catalyst time."""
    from pyspark.sql.classic.dataframe import DataFrame

    from joblink_etl_spark.operators import llm_rescue, pipeline

    targets = [
        (pipeline, "drain_all", "drain", False),
        (pipeline, "parse_batch", "parse_batch", False),
        (pipeline, "notes_batch", "notes_batch", False),
        (pipeline, "fetch_smart", "fetch", False),
        (pipeline, "decide", "decide", False),
        (pipeline, "escalate_weak_parses", "escalate", False),
        (pipeline, "llm_rescue", "llm_rescue", False),
        (llm_rescue, "notes_with_fallback", "notes_llm", False),
        (pipeline, "_writeback_with_tokens", "writeback", False),
        (pipeline, "_mark_error_rows", "writeback", False),
        (DataFrame, "localCheckpoint", "checkpoint", True),
        (DataFrame, "isEmpty", "isEmpty", False),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _, _ in targets]
    try:
        for obj, attr, name, action in targets:
            setattr(obj, attr, tracer.wrap(name, getattr(obj, attr), action))
        yield tracer
    finally:
        for obj, attr, orig in saved:
            setattr(obj, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by
    its direct children."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def job_ids(sc, groups: list[str]) -> list[int]:
    tracker = sc.statusTracker()
    return sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})


def spark_stats(sc, jobs: list[int]) -> dict:
    """Totals over the given jobs and their stages, from the status
    store; 'intervals' are the jobs' [submit, complete] epoch ms."""
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        (
            "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "input_bytes", "input_rows",
        ),
        0,
    )
    out["jobs"], out["intervals"] = len(jobs), []
    seen = set()
    for j in jobs:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and done.isDefined():
            out["intervals"].append((sub.get().getTime(), done.get().getTime()))
        for sid in (int(x) for x in jd.stageIds().mkString(",").split(",") if x):
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_bytes"] += sd.inputBytes()
            out["input_rows"] += sd.inputRecords()
    return out


def by_name(spans: list[dict], sc) -> dict[str, dict]:
    """Per span name: calls, inclusive seconds, self seconds and the
    jobs run inside its spans (children included)."""
    selfs = self_times(spans)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    own = {s["id"]: set(job_ids(sc, s["groups"])) for s in spans}

    def subtree_jobs(s) -> set:
        jobs = set(own[s["id"]])
        for c in kids.get(s["id"], []):
            jobs |= subtree_jobs(c)
        return jobs

    out: dict[str, dict] = {}
    for s in spans:
        agg = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
        agg["calls"] += 1
        agg["s"] += s["end"] - s["start"]
        agg["self_s"] += selfs[s["id"]]
        # a layer nested in itself (none today) would count jobs twice
        agg["jobs"] += len(subtree_jobs(s))
    return out
