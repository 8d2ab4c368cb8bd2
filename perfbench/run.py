"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The inputs are the sf0.1 tables in
``perfbench/data/sf0.1`` (a copy of the seed=42 sf0.1 testdata drop). One
worker process per run starts in a pinned environment:
``SPARK_GRAFT_CPUS`` = the CPUs this process may use, the repository root
on ``PYTHONPATH`` (Python workers import the package), and a fresh
``TMPDIR``, ``SPARK_LOCAL_DIRS`` and working directory under
``perfbench/.runs`` so caches start cold on every run. The worker's whole
process group (driver, JVM, Python workers) is stopped and waited for.

The last line of standard output is the result object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
full run report, with host-noise diagnostics and per-operation-key
breakdowns, goes to ``perfbench/out/<workload>-s<seed>-t<trace>.json``; a
traced run also writes its spans to ``<workload>-s<seed>-t1.spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from probe import cpu_probe  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.1")
# the worker is stopped this long after its window would have ended
# (set-up plus checks take 25-45 s on 4 CPUs)
WORKER_SLACK_S = 150
# package settings read from the environment: runs use the defaults
PINNED_AWAY = ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR",
               "SPARK_GRAFT_DRIVER_MEM")


def stop_group(proc: subprocess.Popen) -> None:
    """Terminate the worker's process group and wait until it is gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    # every workload in workloads.py runs; BENCHMARK.json lists the gated ones
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "etl_backend_spark", "__init__.py")):
        print("perfbench: etl_backend_spark not found under the checkout root",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = os.path.join(HERE, ".runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "jvmtmp", "local", "work", "events")}
    for d in dirs.values():
        os.makedirs(d)
    env = {k: v for k, v in os.environ.items() if k not in PINNED_AWAY}
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": ROOT,
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        # the JVM's own temp files (native libs, perf counters) stay in the
        # run, apart from the program's temp-dir state
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:-UsePerfData",
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cfg = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "sf_dir": SF_DIR,
           "run_dir": run_dir, "tmp_dir": dirs["tmp"],
           "work_dir": dirs["work"], "event_dir": dirs["events"],
           "answer_dir": os.path.join(HERE, ".data", "answers"),
           "spans_path": os.path.join(out_dir, f"{tag}.spans.json")}
    cfg_path = os.path.join(run_dir, "config.json")
    log_path = os.path.join(run_dir, "worker.log")
    probe_before = cpu_probe()
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=dirs["work"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=args.seconds + WORKER_SLACK_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    res_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}"
              f"\n{tail}", file=sys.stderr)
        return 1
    result = json.load(open(res_path))
    result["wall_s"] = time.time() - cfg["t_spawn"]
    result["probe_before"], result["probe_after"] = probe_before, cpu_probe()
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        specs, source = bench["per_layer"], result["layers"]
    else:
        specs, source = bench["end_to_end"], result
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]}
               for m in specs}
    for e in result["errors"]:
        print(f"perfbench: failed operation {e}", file=sys.stderr)
    print(f"perfbench: {tag} window={result['window_s']:.1f}s "
          f"steal={result['window_steal_pct']:.2f}% probe="
          f"{result['probe_before']:.3f}/{result['probe_after']:.3f}s",
          file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
