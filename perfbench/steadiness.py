#!/usr/bin/env python3
"""Run the benchmark on several seeds per workload and report, per
end-to-end metric, the median, the quartiles and the spread (interquartile
distance over the median) next to the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 --first-seed 100 --out perfbench/results/steadiness.json

Run from the root of a checkout. Each result is stamped with the run's
load average and effective core count as the benchmark printed them.
"""
import argparse
import json
import re
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def run_once(workload, seed, seconds, trace=0):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    stamp = next((ln for ln in lines if ln.startswith("# ")), "")
    m = re.search(r"load_avg ([\d.]+), effective cores (\d+), cpu steal ([\d.]+)", stamp)
    result = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
    return {"workload": workload, "seed": seed, "exit": p.returncode, "wall_s": time.monotonic() - t0,
            "load_avg": float(m.group(1)) if m else None, "cores": int(m.group(2)) if m else None,
            "steal_pct": float(m.group(3)) if m else None,
            "result": result}


def summarize(runs, bench):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        ok = [r for r in runs if r["workload"] == w and r["result"]]
        out[w] = {"runs": len(ok), "correct": all(r["result"]["correct"] for r in ok),
                  "load_avg": [r["load_avg"] for r in ok], "steal_pct": [r["steal_pct"] for r in ok],
                  "run_wall_s": [r["wall_s"] for r in ok],
                  "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) < 2:
                continue
            q1, med, q3 = stats.quartiles(vals)
            out[w]["metrics"][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None,
                "bound": m["bound"], "values": vals}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("--workloads", default=None, help="comma-separated; default: all")
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = []
    for w in workloads:
        for i in range(a.runs):
            r = run_once(w, a.first_seed + i, bench["run_seconds"])
            runs.append(r)
            res = r["result"] or {}
            print(f"{w} seed {r['seed']}: exit {r['exit']} load {r['load_avg']} steal {r['steal_pct']}% "
                  f"{r['wall_s']:.1f}s " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
    summary = summarize(runs, bench)
    for w, s in summary.items():
        print(f"\n{w}: {s['runs']} runs, correct={s['correct']}")
        for k, v in s["metrics"].items():
            flag = "ok" if v["spread"] is not None and v["spread"] <= v["bound"] / 3 else "WIDE"
            print(f"  {k:14s} median {v['median']:.4g}  q1 {v['q1']:.4g}  q3 {v['q3']:.4g}  "
                  f"spread {v['spread']:.3f}  bound {v['bound']}  {flag}")
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps({"summary": summary, "runs": runs}, indent=1))


if __name__ == "__main__":
    main()
