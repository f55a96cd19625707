"""Spans recorded from outside the program, and the Spark event-log view.

A span is {id, name, parent, run, start, end, attrs}. Spans are kept in a
list in memory and written once when the run ends. Nesting is
run > round > phase > tables call > Spark job (queries: run > query > job).
Round phases are rebuilt afterwards from the round record's ordered
`phase_s` durations; Spark jobs come from the session's event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

from evlog_stages import job_timeline, parse_evlog
from neocrawler_spark.sources.tables import Catalog

# round record phase keys (completion marks, in order) -> phase names
PHASES = {
    "batch_done": "batch",
    "ex_done": "extract",
    "probe_done": "probe",
    "pe_done": "discovery",
    "updates_done": "updates",
    "pre_commit": "pre_commit",
    "commits_done": "commits",
}


class Tracer:
    """In-memory span recorder. Spans opened on a worker thread (the round's
    commit pool) take as parent the innermost span open on the thread that
    created the tracer."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self.added_s = 0.0  # wall the tracing itself added to the traced work

    @contextmanager
    def own_work(self):
        """Times work done only because the run is traced."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.added_s += time.perf_counter() - t0

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "run": self.run_id, "start": start, "end": end,
                               "attrs": attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        with self.own_work():
            stack = self._stack()
            if stack:
                parent = stack[-1]
            else:
                parent = self._main_stack[-1] if self._main_stack else None
            sid = self.add(name, time.time(), None, parent, **attrs)
            stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            with self.own_work():
                stack.pop()
                self.spans[sid]["end"] = time.time()


def maybe(tracer: Tracer | None, name: str, **attrs):
    """A span when tracing, else a no-op context."""
    return tracer.span(name, **attrs) if tracer else nullcontext({})


class TracedCatalog(Catalog):
    """Catalog whose stage and commit calls record spans, plus the footer row
    count of every stage right after it is written."""

    def __init__(self, root, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.stage_rows_seen: list[tuple[int, str, int]] = []

    def stage(self, spark, round_no, name, df, **kw):
        with self.tracer.span("tables.stage", table=name):
            out = super().stage(spark, round_no, name, df, **kw)
        with self.tracer.own_work():
            self.stage_rows_seen.append((round_no, name, self.stage_rows(round_no, name)))
        return out

    def commit(self, name, df, **kw):
        with self.tracer.span("tables.commit", table=name):
            return super().commit(name, df, **kw)

    def commit_files(self, name, file_paths, **kw):
        with self.tracer.span("tables.commit_files", table=name):
            return super().commit_files(name, file_paths, **kw)

    def commit_rows(self, name, rows, schema, **kw):
        with self.tracer.span("tables.commit_rows", table=name):
            return super().commit_rows(name, rows, schema, **kw)

    def commit_round(self, round_no, snapshots, metrics):
        with self.tracer.span("tables.commit_round"):
            return super().commit_round(round_no, snapshots, metrics)


def add_phase_spans(tracer: Tracer, round_span: dict, phase_s: dict) -> None:
    """Rebuild phase spans under a round span from its ordered phase
    durations, and move the tables calls inside each phase under it."""
    t = round_span["start"]
    phases = []
    for key, dur in phase_s.items():
        name = PHASES.get(key, key)
        sid = tracer.add(f"phase.{name}", t, t + dur, round_span["id"])
        phases.append(tracer.spans[sid])
        t += dur
    for s in tracer.spans:
        if s["parent"] == round_span["id"] and s["name"].startswith("tables."):
            mid = (s["start"] + s["end"]) / 2
            for p in phases:
                if p["start"] <= mid < p["end"]:
                    s["parent"] = p["id"]
                    break


def find_event_log(evdir: str) -> str:
    logs = [os.path.join(evdir, f) for f in os.listdir(evdir)
            if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {evdir}, got {logs}")
    return logs[0]


def add_job_spans(tracer: Tracer, evlog: str, anchor_desc: str,
                  anchor_end: float) -> list[dict]:
    """Spark job spans from the event log. job_timeline gives each job's
    duration and its gap after the previous job; absolute times are fixed by
    the anchor job, whose end the caller observed. Each job is parented to
    the tables span its description names (stage:<t> / commit:<t>) that
    contains it, else to the innermost traced span that contains it."""
    tl = job_timeline(evlog)
    ends, prev_end = {}, 0.0
    for j in tl:
        start = prev_end + j["gap_s"]
        prev_end = start + j["dur_s"]
        ends[j["jid"]] = (start, prev_end)
    anchor = next(j for j in tl if j["desc"] == anchor_desc)
    shift = anchor_end - ends[anchor["jid"]][1]
    jobs = []
    for j in tl:
        if j["jid"] <= anchor["jid"]:
            continue
        s, e = ends[j["jid"]]
        jobs.append({**j, "start": s + shift, "end": e + shift})
    spans = [s for s in tracer.spans if s["end"] is not None]
    for j in jobs:
        mid = (j["start"] + j["end"]) / 2
        label = j["desc"].split(":", 1)
        table = label[1] if label[0] in ("stage", "commit") and len(label) == 2 else None
        best = None
        for s in spans:
            if not (s["start"] <= mid <= s["end"]):
                continue
            if s["name"].startswith("tables."):
                if s["attrs"].get("table") != table:
                    continue
            if best is None or s["start"] >= best["start"]:
                best = s
        if best is None:
            continue  # before or after the traced part
        j["span"] = tracer.add("spark.job", j["start"], j["end"], best["id"],
                               jid=j["jid"], desc=j["desc"])
    return [j for j in jobs if "span" in j]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(tracer: Tracer) -> None:
    """Set each span's `self_s`: its duration minus the part its children
    cover (children clipped to the span; overlapping children counted once)."""
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for s in tracer.spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(s["id"], [])]
        cover = [(a, b) for a, b in cover if b > a]
        s["self_s"] = (s["end"] - s["start"]) - _union(cover)


def covered_by_jobs(start: float, end: float, jobs: list[dict]) -> float:
    return _union([(max(j["start"], start), min(j["end"], end)) for j in jobs
                   if j["end"] > start and j["start"] < end])


def spark_totals(evlog: str, jids: set[int]) -> dict:
    """Task totals over the stages of the given jobs (parse_evlog), plus the
    skew of the heaviest stage: its longest task over its median task."""
    rows = [r for r in parse_evlog(evlog)
            if r["job"].split(":", 1)[0].isdigit() and int(r["job"].split(":", 1)[0]) in jids]
    durations: dict[int, list[float]] = {}
    sids = {r["sid"] for r in rows}
    with open(evlog, errors="replace") as f:
        for line in f:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            if ev["Stage ID"] in sids:
                info = ev["Task Info"]
                durations.setdefault(ev["Stage ID"], []).append(
                    (info["Finish Time"] - info["Launch Time"]) / 1000)
    heavy = max(durations.values(), key=sum, default=[])
    skew = (max(heavy) / statistics.median(heavy)
            if len(heavy) > 1 and statistics.median(heavy) > 0 else 1.0)
    return {
        "spark.tasks": sum(r["tasks"] for r in rows),
        "spark.task_cpu_s": sum(r["cpu_true_s"] for r in rows),
        "spark.gc_s": sum(r["gc_s"] for r in rows),
        "spark.shuffle_write_mb": sum(r["shuf_w_mb"] for r in rows),
        "spark.task_skew": skew,
    }


def write_trace(path: str, tracer: Tracer, extra: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"run": tracer.run_id, "spans": tracer.spans, **extra}, f)
