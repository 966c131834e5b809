"""kbgen_spark benchmark: one command per workload, all outputs checked.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 12 --trace 0

Run from the repository root; the program is imported from the checkout.
``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json,
``--trace 1`` runs the same workload with spans, Spark job groups and the
Spark event log on, and prints the per-layer metrics. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. The exit code is 0 only when every output check passed.
perfbench/README.md describes the workloads and defines every metric.

Everything the run writes lives under ``.bench_work/`` in the checkout and
is removed when the run ends, except the spans of a traced run, which are
written to ``.bench_work/spans/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    for key, item in cfg["session_env"].items():
        value = item["value"].format(work=work, root=ROOT)
        if key == "PYTHONPATH" and os.environ.get(key):
            value = value + os.pathsep + os.environ[key]
        os.environ[key] = value
    sys.path.insert(0, ROOT)
    try:
        import workloads

        bench = workloads.Bench(args, cfg, ROOT, work, T_PROCESS)
        try:
            metrics = bench.run()
        finally:
            bench.stop()
        if args.trace:
            spans_dir = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            bench.tracer.dump(
                os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl")
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        # a layer the workload does not run did no work in it; any other
        # metric must have been measured
        metrics = {m["name"]: 0 for m in wanted
                   if m["name"].startswith(bench.not_run)} | metrics
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }
    for f in bench.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
