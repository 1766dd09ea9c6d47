"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,replay_storm} --seed N \
        --seconds S --trace {0,1}

Runs one workload against the program built from this checkout: the
program in its own process, this process as the single-threaded load
generator. Prints a detail line (every figure with its sample count,
plus load-generator health) and, as the last line, the result object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import ROOT, WORK_ROOT, BenchError, make_work_dir, require_checkout  # noqa: E402

WORKLOADS = ("ingest", "replay_storm")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(name: str, seed: int, seconds: int, spans_out: str | None, work: str) -> dict:
    if name == "ingest":
        from perfbench import ingest

        return ingest.run(seed, seconds, spans_out, work)
    from perfbench import storm

    return storm.run(seed, seconds, spans_out, work)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        require_checkout()
        spec = load_spec()
        work = make_work_dir(args.workload)
        spans_out = None
        if args.trace:
            spans_out = os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json")
        try:
            out = run_workload(args.workload, args.seed, args.seconds, spans_out, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    kind = "per_layer" if args.trace else "end_to_end"
    values = out["layer"] if args.trace else out["e2e"]
    metrics = {}
    for m in spec[kind]:
        # a layer the workload does not exercise did no work: 0
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    unknown = set(values) - set(metrics)
    if unknown:
        print(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return 1
    errors = out["errors"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loadgen_behind": out["behind"],
        "errors": errors[:20],
        "n_errors": len(errors),
        **out["detail"],
    }
    if spans_out:
        detail["spans"] = os.path.relpath(spans_out, ROOT)
    print("perfbench detail " + json.dumps(detail))
    if out["behind"]:
        print("perfbench: a load source (the generator, or the replay_storm writer) fell behind "
              "its schedule in this run", file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
