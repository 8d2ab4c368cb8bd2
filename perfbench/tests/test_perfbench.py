"""Tests of the benchmark itself: input generators, span attribution,
wrapper coverage, and short traced/untraced runs.

Run from the repository root: python3 -m pytest perfbench/tests -q
The run tests start Spark (under a minute each).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
import spans  # noqa: E402
from run import SF_DIR  # noqa: E402
from workloads import make_requests, make_stream  # noqa: E402

DIMS = {"customers": 1500, "orders": 15000, "users": 150}


def test_requests_repeat_per_seed_and_differ_across_seeds():
    a, b = make_requests(7, 200, DIMS), make_requests(7, 200, DIMS)
    assert a == b
    assert a != make_requests(8, 200, DIMS)


def test_route_mix_is_identical_in_every_block():
    for seed in (1, 2):
        reqs = make_requests(seed, 60, DIMS)
        blocks = [sorted(r["route"] for r in reqs[i:i + 20]) for i in (0, 20, 40)]
        assert blocks[0] == blocks[1] == blocks[2]


def test_stream_repeats_per_seed_and_is_arrival_ordered():
    docs = pd.read_parquet(os.path.join(SF_DIR, "documents.parquet"),
                           columns=["doc_id", "text"])
    a, b = make_stream(3, docs), make_stream(3, docs)
    assert a.equals(b)
    assert not a.equals(make_stream(4, docs))
    assert (a["doc_id"].diff().dropna() == 1).all()
    assert len(a) > len(docs)
    # the injected copies are duplicates of earlier docs
    assert a["text"].duplicated().sum() > docs["text"].duplicated().sum()


def test_self_time_and_attribution():
    tr = spans.Tracer(True)
    tr.spans = [
        {"id": 1, "parent": None, "name": "op", "key": "q", "phase": "timed",
         "t0": 100.0, "t1": 110.0},
        {"id": 2, "parent": 1, "name": "build", "key": None, "phase": None,
         "t0": 100.0, "t1": 102.0},
        {"id": 3, "parent": 1, "name": "action", "key": None, "phase": None,
         "t0": 102.0, "t1": 110.0},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(0.0)
    log = {"jobs": {0: {"t": 101.0, "stages": {0}}, 1: {"t": 105.0, "stages": {1}},
                    2: {"t": 200.0, "stages": set()}},
           "tasks": [{"stage": 1, "job": 1, "t0": 105.0, "t1": 108.0,
                      "failed": False, "task.run_s": 3.0}]}
    out = spans.attribute(tr, log)
    r = out["roots"][1]
    assert out["unattributed_jobs"] == 1
    assert r["exec.jobs"] == 2 and r["registry.build_jobs"] == 1
    assert r["task.run_s"] == 3.0
    assert r["exec.driver_gap_s"] == pytest.approx(5.0)


def test_wrappers_reach_every_binding():
    import importlib

    tr = spans.Tracer(True)
    wrapped = tr.wrap_public()
    try:
        for mod_name, attr, _ in spans.WRAPPED_FUNCTIONS:
            assert hasattr(getattr(importlib.import_module(mod_name), attr),
                           "__perfbench_wrapped__")
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("etl_backend_spark"):
                    f = getattr(m, attr, None)
                    if callable(f) and getattr(f, "__name__", "") == attr:
                        assert hasattr(f, "__perfbench_wrapped__"), m.__name__
        assert len(wrapped) >= len(spans.WRAPPED_FUNCTIONS) + len(spans.WRAPPED_METHODS)
    finally:
        for m in list(sys.modules.values()):
            for attr in [a for _, a, _ in spans.WRAPPED_FUNCTIONS]:
                f = getattr(m, attr, None)
                if hasattr(f, "__perfbench_wrapped__"):
                    setattr(m, attr, f.__perfbench_wrapped__)
        for mod_name, cls_name, attr, _ in spans.WRAPPED_METHODS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            setattr(cls, attr, getattr(cls, attr).__perfbench_wrapped__)


def _run(workload: str, trace: int, seed: int = 5, seconds: str = "4") -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    tag = f"{workload}-s{seed}-t{trace}"
    rep = json.load(open(os.path.join(HERE, "out", f"{tag}.json")))
    # the run directory is removed once the report is written
    assert glob.glob(os.path.join(HERE, ".runs", f"{tag}-*")) == []
    return {"line": line, "report": rep}


def test_untraced_run_has_no_wrappers_and_no_event_log():
    r = _run("marketplace_api", 0)
    assert r["line"]["correct"] and r["line"]["failed"] == 0
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(r["line"]["metrics"]) == {m["name"] for m in bench["end_to_end"]}
    assert "wrapped" not in r["report"]
    assert r["report"]["event_log"] is False


def test_traced_ingest_commits_four_tables_per_batch():
    r = _run("ingest_stream", 1)
    layers, per_key = r["report"]["layers"], r["report"]["per_key_layers"]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert set(r["line"]["metrics"]) == {m["name"] for m in bench["per_layer"]}
    n = per_key["micro_batch"]["n_ops"]
    assert n >= 1
    assert per_key["micro_batch"]["manifest.append_once_calls"] == 4 * n
    assert layers["manifest.append_once_calls"] == 4.0
    assert layers["ingest.process_batch_s"] > 0
    assert layers["stream.add_batch_s"] > 0
    assert layers["trace.unattributed_jobs"] == 0
    assert r["report"]["event_log"] is True
    spans_dump = json.load(open(os.path.join(HERE, "out", "ingest_stream-s5-t1.spans.json")))
    assert spans_dump


def test_traced_batch_fits_in_setup_only():
    r = _run("batch_pipeline", 1)
    layers = r["report"]["layers"]
    assert r["line"]["correct"]
    # the check rebuilt every key after the window and found it right
    assert r["report"]["wrong"] == {}
    assert layers["fit.setup_calls"] > 0
    assert layers["fit.calls"] == 0
    assert layers["ann.write_artifact_s"] > 0
    assert layers["python.run_s"] > 0
    assert layers["checkpoint.calls"] > 0
    assert layers["trace.unattributed_jobs"] == 0


def test_traced_marketplace_attributes_every_job():
    r = _run("marketplace_api", 1)
    layers = r["report"]["layers"]
    assert layers["exec.jobs"] > 0 and layers["scan.rows_read"] > 0
    assert layers["trace.unattributed_jobs"] == 0
    assert layers["fit.setup_calls"] == 0


def test_exits_nonzero_without_the_program(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".runs", "out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "marketplace_api",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout.strip() == ""
