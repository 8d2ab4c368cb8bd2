"""Spans, call wrappers and Spark event-log attribution for the traced run.

Only the traced run (``--trace 1``) installs anything from this module:
the untraced run uses ``Tracer(enabled=False)``, whose ``span`` is a
shared no-op context, and it never patches a function or enables the
event log.

Spans are kept in memory and written when the run ends. Each operation
(a request, a query, a micro-batch drain) is a root span; the harness
opens ``build`` / ``action`` / ``release`` children around its own calls,
and ``wrap_public`` adds spans around the program's public functions that
the per-layer table names (fits, artifact writes, manifest commits,
checkpoint release, the streaming batch handler). Spark's own metrics come
from the event log and are attributed to spans by time: a job belongs to
the innermost span open at its submit time, its stages and tasks follow
the job. Only one root span is open at a time, so this also captures jobs
that the program submits from its own thread pools.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import sys
import threading
import time
from collections import defaultdict

# public functions wrapped in the traced run: (module, attribute, span name)
WRAPPED_FUNCTIONS = [
    ("etl_backend_spark.functions.pq", "fit_codebooks", "fit"),
    ("etl_backend_spark.functions.semdedup", "fit_centroids", "fit"),
    ("etl_backend_spark.functions.bpe", "train_merges", "fit"),
    ("etl_backend_spark.ann.index", "build_pq_index", "fit"),
    ("etl_backend_spark.ann.index", "build_ivfpq_index", "fit"),
    ("etl_backend_spark.ann.index", "write_artifact", "write_artifact"),
    ("etl_backend_spark.operators.windows", "release_plan_checkpoints",
     "checkpoint_release"),
]
# methods wrapped on their class, so every instance and bound method sees it
WRAPPED_METHODS = [
    ("etl_backend_spark.etl.manifest", "ManifestTable", "append_once",
     "append_once"),
    ("etl_backend_spark.streaming.ingest_pipeline", "StreamingDedupIngest",
     "process_batch", "process_batch"),
]

_NULL = contextlib.nullcontext()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: dict | None = None
        self._lock = threading.Lock()
        self.conflicts = 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, key: str | None = None, phase: str | None = None):
        return self._span(name, key, phase) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name, key, phase):
        st = self._stack()
        # threads the program starts (foreachBatch callbacks, pools) have
        # an empty stack: their spans hang under the open root span
        parent = st[-1] if st else self._root
        sp = {"id": next(self._ids), "parent": parent["id"] if parent else None,
              "name": name, "key": key, "phase": phase,
              "t0": time.time(), "t1": None}
        if parent is None:
            self._root = sp
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            st.pop()
            if self._root is sp:
                self._root = None

    # ---------------------------------------------------------- wrappers

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                try:
                    return fn(*a, **kw)
                except Exception as e:
                    if type(e).__name__ == "CommitConflict":
                        with tracer._lock:
                            tracer.conflicts += 1
                    raise

        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    def wrap_public(self) -> list[str]:
        """Replace each listed function at its definition AND at every
        module that bound it with ``from x import f``; wrap the listed
        methods on their classes. Returns what was wrapped."""
        import importlib

        done = []
        for mod_name, attr, span_name in WRAPPED_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            w = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("etl_backend_spark")
                        and getattr(m, attr, None) is orig):
                    setattr(m, attr, w)
                    done.append(f"{m.__name__}.{attr}")
        for mod_name, cls_name, attr, span_name in WRAPPED_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            setattr(cls, attr, self._wrap(getattr(cls, attr), span_name))
            done.append(f"{mod_name}.{cls_name}.{attr}")
        return done

    # ----------------------------------------------------------- queries

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        return (sp["t1"] - sp["t0"]) - _covered(
            [(c["t0"], c["t1"]) for c in self.children(sp)], sp["t0"], sp["t1"])

    def root_of(self, sp: dict) -> dict:
        by_id = {s["id"]: s for s in self.spans}
        while sp["parent"] is not None:
            sp = by_id[sp["parent"]]
        return sp

    def innermost_at(self, t: float, slack: float = 0.002) -> dict | None:
        """Innermost span open at wall time ``t`` (the event log stamps in
        whole milliseconds, hence the slack)."""
        best = None
        for s in self.spans:
            t1 = s["t1"] if s["t1"] is not None else float("inf")
            if s["t0"] - slack <= t <= t1 + slack:
                if best is None or s["t0"] >= best["t0"]:
                    best = s
        return best

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s)) for s in self.spans
               if s["t1"] is not None]
        with open(path, "w") as f:
            json.dump(out, f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ------------------------------------------------------------ event log

# SQL metric name -> (per-layer field, scale to seconds/bytes)
SQL_METRICS = {
    "scan time": ("scan.time_s", 1e-3),
    "sort time": ("sort.time_s", 1e-3),
    "time in aggregation build": ("agg.build_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1.0),
    "data returned from Python workers": ("python.bytes_returned", 1.0),
}


def read_event_log(log_dir: str) -> dict:
    """Jobs (submit time, stage ids) and per-task metric rows from the
    uncompressed, non-rolling JSON event log in ``log_dir``."""
    jobs, tasks, stage_job = {}, [], {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"t": ev["Submission Time"] / 1000.0,
                                 "stages": set()}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_row(ev))
    for t in tasks:
        jid = stage_job.get(t["stage"])
        t["job"] = jid
        if jid is not None:
            jobs[jid]["stages"].add(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def _task_row(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    inp, outp = m.get("Input Metrics", {}), m.get("Output Metrics", {})
    row = {
        "stage": ev["Stage ID"],
        "t0": info["Launch Time"] / 1000.0,
        "t1": info["Finish Time"] / 1000.0,
        "failed": bool(info.get("Failed")),
        "task.run_s": m.get("Executor Run Time", 0) / 1e3,
        "task.cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "task.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "scan.bytes_read": inp.get("Bytes Read", 0),
        "scan.rows_read": inp.get("Records Read", 0),
        "shuffle.bytes_written": sw.get("Shuffle Bytes Written", 0),
        "shuffle.write_s": sw.get("Shuffle Write Time", 0) / 1e9,
        "shuffle.bytes_read": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "shuffle.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill.bytes": m.get("Disk Bytes Spilled", 0),
        "write.bytes": outp.get("Bytes Written", 0),
    }
    for acc in info.get("Accumulables", []):
        hit = SQL_METRICS.get(acc.get("Name"))
        if hit:
            field, scale = hit
            row[field] = row.get(field, 0.0) + float(acc.get("Update", 0)) * scale
    return row


TASK_FIELDS = [
    "task.run_s", "task.cpu_s", "task.gc_s", "scan.bytes_read",
    "scan.rows_read", "scan.time_s", "shuffle.bytes_written",
    "shuffle.write_s", "shuffle.bytes_read", "shuffle.fetch_wait_s",
    "sort.time_s", "agg.build_s", "spill.bytes", "write.bytes",
    "python.run_s", "python.start_s", "python.bytes_sent",
    "python.bytes_returned",
]


def attribute(tracer: Tracer, log: dict) -> dict:
    """Per root span: Spark job/stage/task counts and task metric sums,
    plus the jobs submitted inside ``build`` spans and the task-free time
    of ``action`` spans. Returns {"roots": {root_id: fields},
    "unattributed_jobs": n}."""
    roots: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    job_root, unattributed = {}, 0
    for jid, job in log["jobs"].items():
        sp = tracer.innermost_at(job["t"])
        if sp is None:
            unattributed += 1
            continue
        root = tracer.root_of(sp)
        job_root[jid] = root["id"]
        r = roots[root["id"]]
        r["exec.jobs"] += 1
        r["exec.stages"] += len(job["stages"])
        if sp["name"] == "build":
            r["registry.build_jobs"] += 1
    task_spans = defaultdict(list)
    for t in log["tasks"]:
        rid = job_root.get(t["job"])
        if rid is None:
            continue
        r = roots[rid]
        r["exec.tasks"] += 1
        r["task.failed"] += t["failed"]
        for f in TASK_FIELDS:
            r[f] += t.get(f, 0.0)
        task_spans[rid].append((t["t0"], t["t1"]))
    for sp in tracer.spans:
        if sp["name"] == "action" and sp["t1"] is not None:
            rid = tracer.root_of(sp)["id"]
            busy = _covered(task_spans.get(rid, []), sp["t0"], sp["t1"])
            roots[rid]["exec.driver_gap_s"] += (sp["t1"] - sp["t0"]) - busy
    return {"roots": roots, "unattributed_jobs": unattributed}
