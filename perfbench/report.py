"""Run series and read run reports.

    python3 perfbench/report.py spread [--seeds 1-10] [--workloads a,b] [--seconds S]
        Run every workload once per seed and print, per end-to-end metric,
        the median and the quartile spread (IQR / median) next to the
        metric's bound in BENCHMARK.json.

    python3 perfbench/report.py layers <workload> <seed>
        Render the per-layer table of a traced run (perfbench/out/
        <workload>-s<seed>-t1.json), per operation key, and the tracing
        overhead against the untraced run of the same seed if present.

Run from the repository root.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def _arg(argv: list[str], name: str, default: str) -> str:
    return argv[argv.index(name) + 1] if name in argv else default


def spread(argv: list[str]) -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seeds = _seeds(_arg(argv, "--seeds", "1-10"))
    names = _arg(argv, "--workloads", ",".join(w["name"] for w in bench["workloads"]))
    seconds = _arg(argv, "--seconds", str(bench["run_seconds"]))
    worst = 0.0
    for wl in names.split(","):
        values: dict[str, list[float]] = {}
        walls = []
        for seed in seeds:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            rep = json.load(open(os.path.join(HERE, "out", f"{wl}-s{seed}-t0.json")))
            walls.append(rep["wall_s"])
            print(f"{wl} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{wl}: wall per run median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s")
        for m in bench["end_to_end"]:
            v = values[m["name"]]
            q1, med, q3 = statistics.quantiles(v, n=4)
            share = (q3 - q1) / med
            flag = "" if share <= m["bound"] / 3 else "  <-- above bound/3"
            if m["name"] != "setup_s":
                worst = max(worst, share / m["bound"])
            print(f"  {m['name']:<30} median {statistics.median(v):.5g} {m['unit']:<5}"
                  f" spread {share:.3f} bound {m['bound']}{flag}")
    print(f"worst spread / bound (setup_s excluded): {worst:.2f}")
    return 0


def layers(argv: list[str]) -> int:
    wl, seed = argv[0], argv[1]
    traced = json.load(open(os.path.join(HERE, "out", f"{wl}-s{seed}-t1.json")))
    per_key = traced["per_key_layers"]
    fields = sorted({f for d in per_key.values() for f in d if f != "n_ops"})
    keys = sorted(per_key)
    print(f"{wl} seed {seed}: per-layer totals over the timed window, per key")
    print(f"{'metric':<28}" + "".join(f"{k[:14]:>15}" for k in keys))
    print(f"{'n_ops':<28}" + "".join(f"{per_key[k]['n_ops']:>15.0f}" for k in keys))
    for f in fields:
        print(f"{f:<28}" + "".join(f"{per_key[k].get(f, 0.0):>15.4g}" for k in keys))
    print("\nper operation (as printed by --trace 1):")
    for f, v in traced["layers"].items():
        print(f"  {f:<30} {v:.6g}")
    plain = os.path.join(HERE, "out", f"{wl}-s{seed}-t0.json")
    if os.path.exists(plain):
        un = json.load(open(plain))
        d = traced["latency_p50_s"] - un["latency_p50_s"]
        print(f"\ntracing overhead: latency_p50_s {un['latency_p50_s']:.4f} -> "
              f"{traced['latency_p50_s']:.4f} s ({d:+.4f} s, "
              f"{100 * d / un['latency_p50_s']:+.1f}%); setup_s "
              f"{un['setup_s']:.2f} -> {traced['setup_s']:.2f} s; run wall "
              f"{un['wall_s']:.1f} -> {traced['wall_s']:.1f} s")
    return 0


if __name__ == "__main__":
    cmd, rest = sys.argv[1], sys.argv[2:]
    sys.exit({"spread": spread, "layers": layers}[cmd](rest))
