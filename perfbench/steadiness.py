"""Run the benchmark on several seeds and report how steady each metric is.

    python3 perfbench/steadiness.py --out perfbench/STEADINESS.md

Runs ``perfbench/run.py`` (from the repository root) on ten seeds
(1000..1009) for every workload of BENCHMARK.json, one run at a time,
with its ``run_seconds``.
For every workload and end-to-end metric it reports the median, the
quartiles (``statistics.quantiles(values, n=4)``), min and max, and the
spread: (Q3 - Q1) / median. A spread at or under a third of the metric's
bound is steady; over the bound is not. The raw runs go next to the
report as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS, SEED0 = 10, 1000


def run_once(workload: str, seed: int, seconds: int):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    out = {"workload": workload, "seed": seed, "rc": p.returncode,
           "wall_s": time.time() - t0}
    if len(lines) >= 2:
        out["result"] = json.loads(lines[-1])
        out["run"] = json.loads(lines[-2]).get("run")
    else:
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def spread_table(runs: list[dict], bench: dict) -> tuple[list[str], bool]:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lines = ["| workload | metric | n | median | Q1 | Q3 | min | max | "
             "spread | bound | verdict |",
             "|---|---|---|---|---|---|---|---|---|---|---|"]
    steady = True
    for wl in [w["name"] for w in bench["workloads"]]:
        ok_runs = [r for r in runs if r["workload"] == wl and "result" in r]
        for metric, bound in bounds.items():
            vals = [r["result"]["metrics"][metric]["value"] for r in ok_runs]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread = (q3 - q1) / med if med else float("inf")
            if spread <= bound / 3:
                verdict = "steady"
            elif spread <= bound:
                verdict = "within bound"
            else:
                verdict = "NOT STEADY"
                steady = False
            lines.append(
                f"| {wl} | {metric} | {len(vals)} | {med:.4g} | {q1:.4g} | "
                f"{q3:.4g} | {min(vals):.4g} | {max(vals):.4g} | "
                f"{spread:.3f} | {bound} | {verdict} |")
    return lines, steady


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=os.path.join(HERE, "STEADINESS.md"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for wl in [w["name"] for w in bench["workloads"]]:
        for i in range(RUNS):
            r = run_once(wl, SEED0 + i, bench["run_seconds"])
            runs.append(r)
            res = r.get("result", {})
            print(f"{wl} seed={r['seed']} rc={r['rc']} "
                  f"wall={r['wall_s']:.1f}s correct={res.get('correct')} "
                  f"contended={(r.get('run') or {}).get('contended')}",
                  flush=True)
    lines, steady = spread_table(runs, bench)
    contended = sum(1 for r in runs if (r.get("run") or {}).get("contended"))
    failed = [f"{r['workload']}:{r['seed']}" for r in runs
              if r["rc"] != 0 or not r.get("result", {}).get("correct")]
    walls = [r["wall_s"] for r in runs]
    head = [
        "# Benchmark steadiness",
        "",
        f"{len(runs)} runs: {RUNS} seeds ({SEED0}..{SEED0 + RUNS - 1}) "
        f"per workload, "
        f"run_seconds={bench['run_seconds']}, one run at a time, "
        f"4-core container (`nproc`=4), local[4].",
        f"Wall time per run: median {statistics.median(walls):.1f} s, "
        f"max {max(walls):.1f} s. Runs that started contended "
        f"(loadavg/nproc > 1.0): {contended}. "
        f"Failed or incorrect runs: {failed or 'none'}.",
        "",
        "Spread = (Q3 - Q1) / median over the seeds. Steady means spread "
        "<= bound/3.",
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(head + lines) + "\n")
    with open(os.path.splitext(args.out)[0] + ".json", "w") as f:
        json.dump(runs, f, indent=1)
    print("\n".join(lines))
    return 0 if steady and not failed else 1


if __name__ == "__main__":
    sys.exit(main())
