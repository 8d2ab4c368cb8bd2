"""One benchmark run inside the pinned environment that ``run.py`` sets up.

Usage: python3 perfbench/worker.py <config.json>

Writes ``result.json`` next to the config: the end-to-end metrics (or,
traced, the per-layer ones), attempted/failed counts, host-noise
diagnostics, per-operation-key breakdowns and the span dump.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe import steal_pct, steal_snapshot  # noqa: E402
from spans import Tracer, attribute, read_event_log  # noqa: E402
from workloads import WORKLOADS, dir_bytes  # noqa: E402


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def spark_conf(cfg: dict) -> dict:
    conf = {"spark.ui.showConsoleProgress": "false"}
    if cfg["trace"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": cfg["event_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def layer_metrics(tr: Tracer, wl, cfg: dict, session_s: float,
                  files_written: int) -> tuple[dict, dict]:
    """Per-layer metrics over the timed window (per operation) and the
    same fields per operation key."""
    attr = attribute(tr, read_event_log(cfg["event_dir"]))
    by_id = {s["id"]: s for s in tr.spans}
    timed = [s for s in tr.spans if s["phase"] == "timed"]
    setup_roots = [s for s in tr.spans if s["phase"] == "setup"]
    per_key: dict[str, dict] = {}

    def add(key, field, v):
        d = per_key.setdefault(key, {"n_ops": 0})
        d[field] = d.get(field, 0.0) + v

    for root in timed:
        for f, v in attr["roots"].get(root["id"], {}).items():
            add(root["key"], f, v)
        add(root["key"], "n_ops", 1)
    for s in tr.spans:
        if s["t1"] is None or s["parent"] is None:
            continue
        root = tr.root_of(s)
        if root["phase"] != "timed":
            continue
        dur = s["t1"] - s["t0"]
        nested_fit = s["name"] == "fit" and any(
            by_id[p]["name"] == "fit" for p in _ancestors(s, by_id))
        field = {"build": "registry.build_s", "action": "exec.action_s",
                 "checkpoint_release": "checkpoint.release_s",
                 "append_once": "manifest.append_once_s",
                 "write_artifact": "ann.write_artifact_s",
                 "fit": None if nested_fit else "fit.s"}.get(s["name"])
        if field:
            add(root["key"], field, dur)
        calls = {"checkpoint_release": "checkpoint.calls",
                 "append_once": "manifest.append_once_calls",
                 "fit": "fit.calls"}.get(s["name"])
        if calls:
            add(root["key"], calls, 1)
        if s["name"] == "process_batch":
            add(root["key"], "ingest.process_batch_s", tr.self_time(s))
    n_ops = max(1, len(wl.ops))
    tot: dict[str, float] = {}
    for d in per_key.values():
        for f, v in d.items():
            tot[f] = tot.get(f, 0.0) + v
    out = {f: tot.get(f, 0.0) / n_ops for f in PER_OP_FIELDS}
    # streaming durations per micro-batch from recentProgress
    batches = [o for o in wl.ops if "duration" in o]
    for name, keys in STREAM_FIELDS.items():
        out[name] = (sum(sum(o["duration"].get(k, 0) for k in keys)
                         for o in batches) / 1e3 / max(1, len(batches)))
    fits = [s for s in tr.spans if s["name"] == "fit" and s["t1"]
            and tr.root_of(s)["phase"] == "setup"]
    out.update({
        "session.start_s": session_s,
        "fit.setup_calls": float(len(fits)),
        "fit.setup_s": sum(s["t1"] - s["t0"] for s in fits
                           if by_id[s["parent"]]["name"] != "fit"),
        "manifest.commit_conflicts": float(tr.conflicts),
        "state.bytes": float(dir_bytes(*wl.state_dirs())[0]),
        "cpu.busy_frac": tot.get("task.cpu_s", 0.0)
        / (wl.window_s * int(os.environ["SPARK_GRAFT_CPUS"])),
        "trace.unattributed_jobs": float(attr["unattributed_jobs"]),
        "trace.setup_jobs": float(sum(attr["roots"].get(s["id"], {}).get(
            "exec.jobs", 0) for s in setup_roots)),
        "write.files": files_written / n_ops,
    })
    return out, per_key


PER_OP_FIELDS = [
    "registry.build_s", "registry.build_jobs", "exec.action_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.driver_gap_s", "scan.bytes_read",
    "scan.rows_read", "scan.time_s", "shuffle.bytes_written",
    "shuffle.bytes_read", "shuffle.write_s", "shuffle.fetch_wait_s",
    "sort.time_s", "agg.build_s", "spill.bytes", "checkpoint.release_s",
    "checkpoint.calls", "python.run_s", "python.start_s",
    "python.bytes_sent", "python.bytes_returned", "fit.calls", "fit.s",
    "manifest.append_once_s", "manifest.append_once_calls",
    "ann.write_artifact_s", "write.bytes", "ingest.process_batch_s",
    "task.run_s", "task.cpu_s", "task.gc_s", "task.failed",
]
STREAM_FIELDS = {
    "stream.trigger_s": ["triggerExecution"],
    "stream.add_batch_s": ["addBatch"],
    "stream.commit_s": ["walCommit", "commitOffsets"],
    "stream.planning_s": ["queryPlanning"],
}


def _ancestors(s, by_id):
    while s["parent"] is not None:
        s = by_id[s["parent"]]
        yield s["id"]


def main(cfg_path: str) -> int:
    cfg = json.load(open(cfg_path))
    result = {"workload": cfg["workload"], "seed": cfg["seed"],
              "trace": cfg["trace"]}
    tr = Tracer(bool(cfg["trace"]))
    with tr.span("setup", phase="setup"):
        from etl_backend_spark.session import get_spark

        if cfg["trace"]:
            result["wrapped"] = tr.wrap_public()
        t0 = time.time()
        spark = get_spark(app_name=f"perfbench-{cfg['workload']}",
                          extra_conf=spark_conf(cfg))
        spark.sparkContext.setLogLevel("ERROR")
        result["event_log"] = spark.sparkContext.getConf().get(
            "spark.eventLog.enabled", "false") == "true"
        session_s = time.time() - t0
        result["session_s"] = session_s
        result["imports_s"] = t0 - cfg["t_spawn"]
        wl = WORKLOADS[cfg["workload"]](spark, cfg, tr)
        wl.setup()
    t_first = time.time()
    result["setup_s"] = t_first - cfg["t_spawn"]
    files0 = dir_bytes(*wl.state_dirs())[1]
    s0 = steal_snapshot()
    wl.run(cfg["seconds"])
    result["window_steal_pct"] = steal_pct(s0, steal_snapshot())
    # peak memory of the program up to the end of the timed window; the
    # checks that follow run DuckDB in this process
    result["peak_rss_mb"] = (vm_hwm_mb("self")
                             + vm_hwm_mb(spark.sparkContext._gateway.proc.pid))
    files_written = dir_bytes(*wl.state_dirs())[1] - files0
    result.update(wl.metrics())
    t_check = time.time()
    with tr.span("check", phase="check"):
        bad = wl.check()
    result["check_s"] = time.time() - t_check
    t_stop = time.time()
    with tr.span("teardown", phase="teardown"):
        spark.stop()
    result["teardown_s"] = time.time() - t_stop
    result["attempted"] = len(wl.ops)
    result["failed"] = len(bad)
    result["errors"] = [f"{o['key']}: {o['error']}" for o in wl.ops
                        if o["error"]][:10]
    keys: dict[str, list] = {}
    for o in wl.ops:
        keys.setdefault(o["key"], []).append(o["latency_s"])
    result["op_sequence"] = [(o["key"], round(o["latency_s"], 4)) for o in wl.ops]
    result["per_key_latency_s"] = {k: {"n": len(v), "p50": statistics.median(v)}
                                   for k, v in sorted(keys.items())}
    for extra in ("passes", "wrong", "bad_docs"):
        if hasattr(wl, extra):
            result[extra] = getattr(wl, extra)
    result["window_s"] = wl.window_s
    if cfg["trace"]:
        layers, per_key = layer_metrics(tr, wl, cfg, session_s, files_written)
        result["layers"], result["per_key_layers"] = layers, per_key
        tr.dump(cfg["spans_path"])
    with open(os.path.join(cfg["run_dir"], "result.json"), "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
