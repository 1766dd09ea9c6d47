"""Steadiness check: run one workload repeatedly with tracing off, each run
with another seed, and print for every end-to-end metric its median,
quartiles (``statistics.quantiles(values, n=4)``) and spread — the
quartile distance as a share of the median — against the metric's bound
in BENCHMARK.json, plus each run's failed share.

    python3 perfbench/steady.py --workload ingest --runs 10 --first-seed 1 --out a.jsonl
    python3 perfbench/steady.py --workload ingest --runs 10 --first-seed 11 --against a.jsonl

With ``--against`` it also prints how far each median moved from that
earlier set's median, as a share of the earlier median (positive =
worse), against the bound; ``--from`` summarizes a set already run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def run_set(spec: dict, args) -> list[dict] | None:
    """Run the workload once per seed; None if a run fails."""
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return None
        res = json.loads(lines[-1])
        detail = next((json.loads(line[len("perfbench detail "):]) for line in lines
                       if line.startswith("perfbench detail ")), {})
        results.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} {vals}", flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, **res, "detail": detail}) + "\n")
    return results


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="also write every run's result object and detail here (JSON lines)")
    ap.add_argument("--against", help="an earlier set's --out file to compare medians with")
    ap.add_argument("--from", dest="source", help="summarize this --out file instead of running")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    results = load(args.source) if args.source else run_set(spec, args)
    if not results:
        return 1
    earlier = load(args.against) if args.against else []
    print(f"\n{args.workload}: {len(results)} runs, run_seconds={spec['run_seconds']}")
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  within"
          + ("   moved  within" if earlier else ""))
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        spread = (q3 - q1) / med
        verdict = "third" if spread <= m["bound"] / 3 else ("bound" if spread <= m["bound"] else "NO")
        line = f"{m['name']:<22}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{spread:>9.3f}{m['bound']:>7}  {verdict:<6}"
        if earlier:
            before = statistics.median(r["metrics"][m["name"]]["value"] for r in earlier)
            moved = (med - before) / before * (1 if m["better"] == "lower" else -1)
            line += f"{moved:>8.3f}  {'yes' if moved <= m['bound'] else 'NO'}"
        print(line)
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"failed share per run: {shares}; all correct: {all(r['correct'] for r in results)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
