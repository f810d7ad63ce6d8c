"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 1]

Runs ``perfbench/run.py`` once per seed, one after another, and prints
per metric the median, the quartiles and the spread (distance between
the first and third quartile as a share of the median), plus the wall
time of each run. With ``--trace 1`` it also prints the tracing
overhead: the traced runs' end-to-end values minus the median of the
untraced runs saved earlier for the same workload.
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
OUT = os.path.join(ROOT, ".perfbench_work")


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values * 3)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for seed in _seeds(args.seeds):
        cmd = spec["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
        ]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        runs.append({"seed": seed, "wall_s": wall, "exit": p.returncode, "result": res})
        print(f"seed {seed}: exit {p.returncode} wall {wall:.1f}s correct={res.get('correct')}", flush=True)
        if p.returncode:
            print(p.stderr[-3000:], file=sys.stderr)

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"spread-{args.workload}-t{args.trace}.json"), "w") as f:
        json.dump(runs, f, indent=1)

    names = sorted({n for r in runs for n in r["result"].get("metrics", {})})
    table = {}
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs if n in r["result"].get("metrics", {})]
        table[n] = summarize(vals)
        b = bounds.get(n)
        flag = "" if b is None else ("  ok (<bound/3)" if table[n]["spread"] < b / 3 else "  WIDE")
        print(f"{n:40s} median {table[n]['median']:12.5g}  spread {table[n]['spread']:.3f}{flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")

    if args.trace:
        untraced = os.path.join(OUT, f"spread-{args.workload}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            for n in bounds:
                b = [r["result"]["metrics"][n]["value"] for r in base if r["result"].get("metrics")]
                t = []
                for r in runs:
                    path = os.path.join(OUT, "traces", f"{args.workload}-s{r['seed']}.json")
                    if os.path.exists(path):
                        with open(path) as f:
                            t.append(json.load(f)["e2e"][n])
                if b and t:
                    mb, mt = statistics.median(b), statistics.median(t)
                    print(f"overhead {n:28s} traced {mt:12.5g} untraced {mb:12.5g} diff {mt - mb:+.4g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
