"""Steadiness check: run a workload once per seed, each run a fresh
process, and print each metric's median, quartiles and quartile spread
as a share of the median next to the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload tr_stream --seeds 1-10
    python3 perfbench/steady.py --workload tr_batch --seeds 1-3 --trace 1

Results are written to .perfbench_work/steady/<workload>-trace<n>.json.
When both traced and untraced results exist for a workload, the tracing
overhead (median traced end-to-end value minus median untraced value,
the traced values coming from the spans file each traced run writes) is
printed too.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench_work" / "steady"


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {"correct": False, "metrics": {}}
    res.update(seed=seed, wall_s=wall, exit=p.returncode)
    # the run's diagnostic lines, "# name = value"
    res["notes"] = dict(
        ln[2:].split(" = ", 1) for ln in lines if ln.startswith("# ") and " = " in ln
    )
    if trace:
        spans = ROOT / ".perfbench_work" / "traces" / f"{workload}-seed{seed}.json"
        if spans.exists():
            res["traced_end_to_end"] = json.loads(spans.read_text()).get("traced_end_to_end", {})
    if p.returncode != 0:
        res["stdout_tail"] = lines[-12:]
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(results: list[dict], bounds: dict) -> None:
    names = sorted({n for r in results for n in r["metrics"]})
    print(f"{'metric':<52} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results if n in r["metrics"]]
        med, q1, q3, rel = spread(vals)
        b = bounds.get(n)
        flag = "" if b is None else ("ok" if rel <= b / 3 else ("WIDE" if rel > b else "near"))
        print(f"{n:<52} {med:>12.5g} {q1:>12.5g} {q3:>12.5g} {rel:>8.3f} "
              f"{'' if b is None else b:>6} {flag}")
    walls = [r["wall_s"] for r in results]
    print(f"runs {len(results)}  correct {sum(bool(r.get('correct')) for r in results)}  "
          f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results = []
    for s in seeds(args.seeds):
        res = one(args.workload, s, seconds, args.trace)
        results.append(res)
        print(json.dumps({k: res[k] for k in ("seed", "wall_s", "exit", "correct")}), flush=True)
        for line in res.get("stdout_tail", []):
            print("   ", line[:300])
    OUT.mkdir(parents=True, exist_ok=True)
    path = OUT / f"{args.workload}-trace{args.trace}.json"
    path.write_text(json.dumps(results, indent=1))
    report(results, bounds if not args.trace else {})
    other = OUT / f"{args.workload}-trace{1 - args.trace}.json"
    if other.exists():
        traced, plain = (results, json.loads(other.read_text())) if args.trace else (
            json.loads(other.read_text()), results)
        print("tracing overhead (traced minus untraced median):")
        for n in bounds:
            tv = [r["traced_end_to_end"][n]["value"] for r in traced
                  if n in r.get("traced_end_to_end", {})]
            pv = [r["metrics"][n]["value"] for r in plain if n in r["metrics"]]
            if tv and pv:
                print(f"  {n:<40} {statistics.median(tv) - statistics.median(pv):+.5g}")
    return 0 if all(r.get("correct") for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
