"""Run one workload over several seeds and report each metric's spread.

Usage (from the repository root):

    python3 perfbench/steady.py --workload cdc_trickle --seeds 1-10 [--trace 0] [--label a]

For every metric: the median, the first and third quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median, next to the bound
BENCHMARK.json fixes for it. Runs one at a time; the per-run results
and the summary go to ``.perfbench_out/steady-<workload>-<label>.json``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--label", default="a")
    args = p.parse_args()
    root = Path.cwd()
    bench = json.loads((root / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        record = next((json.loads(ln[len("record "):]) for ln in lines
                       if ln.startswith("record ")), {})
        runs.append({"seed": seed, "exit": proc.returncode, "wall_s": time.time() - t0,
                     "env": record.get("env"), "samples": record.get("samples"),
                     "result": result})
        if result is None:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        print(f"seed {seed}: {time.time() - t0:.0f}s " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    # figures from different boxes or versions are never pooled
    boxes = {json.dumps({k: v for k, v in (r["env"] or {}).items() if k != "sched_probe_ms"},
                        sort_keys=True) for r in runs if r["result"]}
    if len(boxes) > 1:
        print(f"runs differ in environment, not pooled: {sorted(boxes)}", file=sys.stderr)
        return 1
    summary = {}
    if len(ok) >= 2:
        for name in ok[0]["metrics"]:
            summary[name] = {**summarize([r["metrics"][name]["value"] for r in ok]),
                             "bound": bounds.get(name)}
    print(f"{args.workload}: {len(ok)}/{len(runs)} correct runs")
    for name, s in summary.items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"  {name:28s} median {s['median']:<12.5g} q1 {s['q1']:<12.5g} "
              f"q3 {s['q3']:<12.5g} spread {spread:>6} bound {s['bound']}")
    out = root / ".perfbench_out"
    out.mkdir(exist_ok=True)
    (out / f"steady-{args.workload}-{args.label}.json").write_text(
        json.dumps({"workload": args.workload, "trace": args.trace, "runs": runs,
                    "summary": summary}, indent=1))
    return 0 if len(ok) == len(runs) else 1


if __name__ == "__main__":
    sys.exit(main())
