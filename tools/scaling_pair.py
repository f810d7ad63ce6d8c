"""Run PAIRED c4+c16 scaling legs inside one calm window (VERDICT r5
next #2): the r5 artifacts computed efficiency from min-merged legs
taken in DIFFERENT host phases, which biased ratios down. A pair runs
both core counts back-to-back after a single calm-window pre-flight,
so numerator and denominator see the same substrate; the published
number is the MEDIAN of per-pair ratios.

Usage:
  python tools/scaling_pair.py <n_docs> <raw_out.jsonl> [n_pairs]

Appends one JSON line per pair: both legs' raw results (bench.py's
JSON line plus machine steal and the two substrate controls) plus the
pair's build/batch speedups and control-normalized efficiencies.
Assemble with tools/scaling_pair_assemble.py.

Each leg runs bench.py CPU-pinned with taskset to exactly N cores.
SUBSTRATE CONTROL: this kind of VM steals/throttles CPU in bursts, so
each leg also records machine-wide steal ticks and two Spark-free
multiprocessing controls at the same core count (a CPU-bound Python
tokenize and a bandwidth-bound Arrow tokenize). Efficiency is then
reported as engine speedup / control speedup, which isolates the
engine's scaling from the host's.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEAL_MAX = float(os.environ.get("SPARK_GRAFT_STEAL_MAX", "3.0"))
PREFLIGHT_WAIT_S = float(os.environ.get("SPARK_GRAFT_PREFLIGHT_WAIT", "120"))
C_SMALL, C_BIG = 4, 16
CONTROL_TEXTS = "/dev/shm/mse/control_texts.pkl"


def _read_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals)


def _ensure_control_corpus() -> None:
    if os.path.exists(CONTROL_TEXTS):
        return
    sys.path.insert(0, REPO)
    from micce_search_engine_spark.corpus import gen_pages

    os.makedirs(os.path.dirname(CONTROL_TEXTS), exist_ok=True)
    with open(CONTROL_TEXTS, "wb") as f:
        pickle.dump(list(gen_pages(120_000, seed=1)["text"]), f)


_CONTROL_SRC = r"""
import sys, time, pickle, multiprocessing as mp
sys.path.insert(0, %(repo)r)
from micce_search_engine_spark.functions.tokenize import tokenize_text
from collections import Counter

def work(texts):
    n = 0
    for t in texts:
        toks = tokenize_text(t)
        if toks:
            n += len(Counter(toks))
    return n

if __name__ == "__main__":
    nproc = int(sys.argv[1])
    texts = pickle.load(open(%(texts)r, "rb"))
    chunks = [texts[i::nproc*4] for i in range(nproc*4)]
    with mp.Pool(nproc) as p:
        t0 = time.monotonic(); p.map(work, chunks)
        print(time.monotonic() - t0)
"""


def run_control(cpus: int) -> float:
    """Substrate control: multiprocessing tokenize, min of 2 runs."""
    src = _CONTROL_SRC % {"repo": REPO, "texts": CONTROL_TEXTS}
    best = float("inf")
    for _ in range(2):
        out = subprocess.run(
            ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", src, str(cpus)],
            capture_output=True,
            text=True,
            timeout=300,
        )
        best = min(best, float(out.stdout.strip().splitlines()[-1]))
    return best


# Second control (round-4): the ARROW tokenize kernel — the same
# RE2-split + dictionary-encode + np.unique the engine's S1 runs. This
# kernel is so fast per byte that it is MEMORY-BANDWIDTH-bound, and on
# this box 4 pinned cores already saturate that bandwidth (measured
# 4->16 speedup ~1.0x vs ~2.5-3.3x for the CPU-bound Python control).
# Per-stage normalization against the control that matches each
# stage's bottleneck resource is the honest substrate ceiling.
_CONTROL_ARROW_SRC = r"""
import sys, time, pickle, multiprocessing as mp
sys.path.insert(0, %(repo)r)

def work(texts):
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    arr = pa.array([t.lower() for t in texts if t], type=pa.string())
    lst = pc.split_pattern_regex(arr, pattern="[^0-9a-z_]+")
    denc = pc.list_flatten(lst).dictionary_encode()
    codes = denc.indices.to_numpy(zero_copy_only=False)
    u, c = np.unique(codes, return_counts=True)
    return len(u)

if __name__ == "__main__":
    nproc = int(sys.argv[1])
    texts = pickle.load(open(%(texts)r, "rb"))
    chunks = [texts[i::nproc*4] for i in range(nproc*4)]
    with mp.Pool(nproc) as p:
        t0 = time.monotonic(); p.map(work, chunks)
        print(time.monotonic() - t0)
"""


def run_control_arrow(cpus: int) -> float:
    """Bandwidth-bound substrate control (Arrow kernel), min of 2."""
    src = _CONTROL_ARROW_SRC % {"repo": REPO, "texts": CONTROL_TEXTS}
    best = float("inf")
    for _ in range(2):
        out = subprocess.run(
            ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", src, str(cpus)],
            capture_output=True,
            text=True,
            timeout=300,
        )
        best = min(best, float(out.stdout.strip().splitlines()[-1]))
    return best


def run_bench(cpus: int, n_docs: int) -> dict:
    """One bench leg, CPU-PINNED to exactly ``cpus`` cores via taskset.

    Without pinning, a small-N run on a 32-core box lets the JVM's GC/
    shuffle threads and the Python worker daemons spill onto the 24
    idle cores — the 'small cluster' secretly isn't, and the measured
    scaling ratio is meaningless. Pinning makes local[N] a faithful
    stand-in for an N-core cluster slice."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_BENCH_DOCS"] = str(n_docs)
    # the pairs are the repetitions; one suite pass per leg (bench.py's
    # internal min-of-3 is for standalone runs)
    env["SPARK_GRAFT_BENCH_REPS"] = "1"
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")  # 48g G1 heap measured 2.7x SLOWER at 16 threads (huge-young-gen first-touch)
    env.setdefault("SPARK_GRAFT_WORKDIR", "/dev/shm/mse")
    s0, t0 = _read_steal()
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=5400,
    )
    s1, t1 = _read_steal()
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    r = json.loads(line)
    r["steal_pct_machine"] = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
    r["control_tok_s"] = round(run_control(cpus), 3)
    r["control_arrow_s"] = round(run_control_arrow(cpus), 3)
    return r


def _spot_steal(seconds: float = 3.0) -> float:
    s0, t0 = _read_steal()
    time.sleep(seconds)
    s1, t1 = _read_steal()
    return 100.0 * (s1 - s0) / max(t1 - t0, 1)


def _wait_calm() -> float:
    deadline = time.time() + PREFLIGHT_WAIT_S
    s = _spot_steal()
    while s > STEAL_MAX and time.time() < deadline:
        print(f"pre-flight steal {s:.1f}% > {STEAL_MAX}% — waiting", flush=True)
        time.sleep(10)
        s = _spot_steal()
    return s


def _pair_ratios(small: dict, big: dict) -> dict:
    q4, q16 = small["queries"], big["queries"]
    out = {
        "build_speedup": round(q4["index_build"] / q16["index_build"], 3),
        "batch_speedup": round(q4["batch100"] / q16["batch100"], 3),
    }
    # control-normalized (same normalization the r4/r5 assembler uses:
    # engine speedup / substrate-control speedup, per pair)
    for ctrl in ("control_tok_s", "control_arrow_s"):
        c4, c16 = small.get(ctrl), big.get(ctrl)
        if c4 and c16:
            spd = c4 / c16
            out[f"build_eff_norm_{ctrl}"] = round(
                (out["build_speedup"] / 4.0) / (spd / 4.0), 3
            )
            out[f"batch_eff_norm_{ctrl}"] = round(
                (out["batch_speedup"] / 4.0) / (spd / 4.0), 3
            )
    return out


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] in ("-h", "--help"):
        print(__doc__)
        return
    n_docs, out = int(sys.argv[1]), sys.argv[2]
    n_pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    _ensure_control_corpus()
    for pi in range(n_pairs):
        pre = _wait_calm()
        legs = {}
        for cpus in (C_SMALL, C_BIG):
            t0 = time.time()
            r = run_bench(cpus, n_docs)
            r["wall"] = round(time.time() - t0, 1)
            r["leg_cpus"] = cpus
            r["steal_ok"] = r["steal_pct_machine"] <= STEAL_MAX
            legs[cpus] = r
            print(
                f"pair {pi} leg c{cpus} done in {r['wall']}s "
                f"build={r['queries']['index_build']} "
                f"batch={r['queries']['batch100']} "
                f"steal={r['steal_pct_machine']}% ok={r['steal_ok']}",
                flush=True,
            )
        rec = {
            "pair": pi,
            "n_docs": n_docs,
            "preflight_steal_pct": round(pre, 2),
            "clean": legs[C_SMALL]["steal_ok"] and legs[C_BIG]["steal_ok"],
            "small": legs[C_SMALL],
            "big": legs[C_BIG],
            **_pair_ratios(legs[C_SMALL], legs[C_BIG]),
        }
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(
            f"pair {pi}: clean={rec['clean']} "
            f"build x{rec['build_speedup']} batch x{rec['batch_speedup']}",
            flush=True,
        )


if __name__ == "__main__":
    main()
