"""Spans and Spark counters for the traced run.

A :class:`Tracer` records spans (name, start, end, parent id, run id)
in memory. In a traced run :func:`install` rebinds the public
``via_spark`` functions the benchmark calls to thin wrappers that open a
span around each call; nothing inside ``via_spark`` is edited. Each span
sets the Spark job group to its own id and restores the previous group
on exit, so the Spark event log attributes jobs, stages and tasks to
spans (:func:`attribute`). In an untraced run the tracer still times the
client's own operations but sets no job group and wraps nothing.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import sys
import threading
import time
from pathlib import Path

# (module, attribute) pairs rebound in a traced run.
WRAPPED = (
    ("via_spark.api", "VIAEngine.ingest_stream"),
    ("via_spark.api", "VIAEngine.tier1_rhythm_anomalies"),
    ("via_spark.api", "VIAEngine.tier2_clusters"),
    ("via_spark.api", "VIAEngine.tier2_triage"),
    ("via_spark.api", "VIAEngine.stream_tail"),
    ("via_spark.api", "VIAEngine.control_suppress"),
    ("via_spark.api", "VIAEngine.control_rules"),
    ("via_spark.api", "VIAEngine._write_rules"),
    ("via_spark.operators.rhythm", "find_rhythm_anomalies"),
    ("via_spark.operators.promote", "rollup_clusters"),
    ("via_spark.operators.promote", "write_tier2"),
    ("via_spark.operators.promote", "read_tier2"),
    ("via_spark.operators.forensic", "cluster_search_over"),
    ("via_spark.operators.forensic", "triage_over"),
    ("via_spark.operators.control", "apply_rules"),
    ("via_spark.operators.schema_infer", "otel_flatten"),
    ("via_spark.streaming.pipeline", "read_otel_stream"),
    ("via_spark.streaming.pipeline", "start_tier1_ingest"),
    ("via_spark.streaming.pipeline", "start_detection"),
)

class Tracer:
    """In-memory span recorder, one per run."""

    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.sc = spark_context  # set only in a traced run
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._client_top: str | None = None  # innermost span of the client thread
        self.self_s = 0.0  # time spent in span bookkeeping

    @property
    def traced(self) -> bool:
        return self.sc is not None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return wrapper

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: Path) -> None:
        path.write_text("".join(json.dumps(s) + "\n" for s in self.spans))


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t0 = time.perf_counter()
        tr = self.t
        stack = tr._stack()
        parent = stack[-1]["id"] if stack else tr._client_top
        self.rec = {
            "id": f"{tr.run_id}-{next(tr._ids)}",
            "name": self.name,
            "parent": parent,
            "run": tr.run_id,
            "thread": threading.current_thread().name,
            **self.attrs,
        }
        stack.append(self.rec)
        if threading.current_thread() is threading.main_thread():
            tr._client_top = self.rec["id"]
        if tr.traced:
            self.prev_group = tr.sc.getLocalProperty("spark.jobGroup.id")
            tr.sc.setLocalProperty("spark.jobGroup.id", self.rec["id"])
        tr.self_s += time.perf_counter() - t0
        self.rec["start"] = time.time()
        self.t0 = time.perf_counter()
        return self.rec

    def __exit__(self, exc_type, exc, tb):
        dur = time.perf_counter() - self.t0
        t1 = time.perf_counter()
        tr = self.t
        self.rec["end"] = self.rec["start"] + dur
        self.rec["dur"] = dur
        if exc_type is not None:
            self.rec["error"] = f"{exc_type.__name__}: {exc}"[:300]
        stack = tr._stack()
        stack.pop()
        if threading.current_thread() is threading.main_thread():
            tr._client_top = stack[-1]["id"] if stack else None
        if tr.traced:
            tr.sc.setLocalProperty("spark.jobGroup.id", self.prev_group)
        with tr._lock:
            tr.spans.append(self.rec)
        tr.self_s += time.perf_counter() - t1
        return False


def install(tracer: Tracer) -> list:
    """Rebind every function in WRAPPED (and each module-level alias of
    it inside ``via_spark``) to a span-recording wrapper. Returns the
    undo list for :func:`uninstall`."""
    undo = []
    for mod_name, attr in WRAPPED:
        mod = importlib.import_module(mod_name)
        owner, _, fname = attr.rpartition(".")
        target = getattr(mod, owner) if owner else mod
        orig = getattr(target, fname)
        label = f"{mod_name.rsplit('.', 1)[1]}.{fname}"
        wrapped = tracer.wrap(label, orig)
        undo.append((target, fname, orig))
        setattr(target, fname, wrapped)
        if owner:
            continue
        # `from x import f` copies: rebind those too
        for other_name, other in list(sys.modules.items()):
            if (other_name.startswith("via_spark") and other is not mod
                    and getattr(other, fname, None) is orig):
                undo.append((other, fname, orig))
                setattr(other, fname, wrapped)
    return undo


def uninstall(undo: list) -> None:
    for target, fname, orig in reversed(undo):
        setattr(target, fname, orig)


# -- event log attribution ----------------------------------------------------


def _task_counters(ev: dict) -> dict:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    dur = max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
    run = m.get("Executor Run Time", 0)
    overhead = (m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0))
    sr, sw, inp = (m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {},
                   m.get("Input Metrics") or {})
    failed = ev.get("Task End Reason", {}).get("Reason") != "Success" or info.get("Failed", False)
    return {
        "tasks": 1,
        "run_ms": run,
        "sched_delay_ms": max(0, dur - run - overhead),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_bytes": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                          + sw.get("Shuffle Bytes Written", 0)),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "bytes_read": inp.get("Bytes Read", 0),
        "failed_tasks": int(bool(failed)),
    }


def _plan_file_accums(node: dict, out: set) -> None:
    for m in node.get("metrics", []):
        if m.get("name") == "number of files read":
            out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _plan_file_accums(child, out)


def read_event_log(path: Path) -> dict:
    """Per-job counters from a Spark JSON event log.

    Returns ``{job_id: {"group", "submit_ms", "exec_id", "stages",
    counters...}}`` plus ``files_read`` per SQL execution id under the
    key ``"_files_read"``.
    """
    jobs: dict = {}
    stage_job: dict = {}
    file_accums: set = set()
    files_read: dict = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                exec_id = props.get("spark.sql.execution.id")
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time", 0),
                    "exec_id": int(exec_id) if exec_id else None,
                    "stages": len(ev.get("Stage IDs", [])),
                    "tasks": 0, "run_ms": 0, "sched_delay_ms": 0, "gc_ms": 0,
                    "shuffle_bytes": 0, "spill_bytes": 0, "bytes_read": 0,
                    "failed_tasks": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is not None:
                    for k, v in _task_counters(ev).items():
                        job[k] += v
            elif kind and kind.endswith("SparkListenerSQLExecutionStart"):
                _plan_file_accums(ev.get("sparkPlanInfo", {}), file_accums)
            elif kind and kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in file_accums:
                        eid = ev["executionId"]
                        files_read[eid] = files_read.get(eid, 0) + value
    jobs["_files_read"] = files_read
    return jobs


COUNTERS = ("tasks", "run_ms", "sched_delay_ms", "gc_ms", "shuffle_bytes",
            "spill_bytes", "bytes_read", "failed_tasks", "stages", "files_read")


def attribute(spans: list[dict], jobs: dict, stream_runs: dict) -> dict:
    """Assign every job to a span and return per-span *self* counters.

    A job belongs to the span whose id is its job group; a streaming
    job (group = query run id) to the span that started the query; any
    other job (e.g. from a worker thread without a group) to the
    innermost span that was open when the job was submitted.
    """
    files_read = jobs.pop("_files_read", {})
    ids = {s["id"]: s for s in spans}
    by_start = sorted(spans, key=lambda s: s["start"])
    out: dict = {s["id"]: dict.fromkeys(COUNTERS + ("jobs",), 0) for s in spans}
    seen_exec: set = set()
    for job in jobs.values():
        sid = job["group"] if job["group"] in ids else stream_runs.get(job["group"])
        if sid is None:
            t = job["submit_ms"] / 1000.0
            inner = [s for s in by_start if s["start"] <= t <= s["end"]]
            if not inner:
                continue
            sid = max(inner, key=lambda s: s["start"])["id"]
        c = out[sid]
        c["jobs"] += 1
        for k in COUNTERS:
            if k in job:
                c[k] += job[k]
        if job["exec_id"] is not None and job["exec_id"] not in seen_exec:
            seen_exec.add(job["exec_id"])
            c["files_read"] += files_read.get(job["exec_id"], 0)
    return out


def inclusive(spans: list[dict], self_counts: dict) -> dict:
    """Per-span counters including every descendant span's."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    memo: dict = {}

    def total(sid):
        if sid not in memo:
            acc = dict(self_counts[sid])
            for ch in children.get(sid, []):
                for k, v in total(ch).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {s["id"]: total(s["id"]) for s in spans}


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it covered by child spans."""
    iv = sorted((c["start"], c["end"]) for c in spans if c["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        s, e = max(s, span["start"]), min(e, span["end"])
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, span["dur"] - covered)
