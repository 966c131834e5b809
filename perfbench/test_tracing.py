"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/test_tracing.py -q

The traced kg_batch run times one rep untraced and at least one traced; it
counts as correct only if every rep's sink triples have the expected
fingerprint, so equal job counts plus ``correct`` show that the wrappers
leave the executed plan unchanged.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert len(spec["per_layer"]) <= 128


def test_traced_kg_batch_runs_the_untraced_plan():
    out = _run("kg_batch", 1)
    assert out["correct"] and out["failed"] == 0
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["trace.untraced_jobs"] == m["trace.traced_jobs"] > 0
    assert m["pipeline.triples"] == 537
    # stage spans plus the sink write account for the pipeline + sink wall
    assert 0.9 <= m["trace.stage_coverage"] <= 1.0
    for span in ("pipeline.link", "sink.write", "synth.m2", "ingest.batch"):
        assert m[f"{span}.executor_run_s"] > 0
        assert m[f"{span}.tasks"] > 0
