"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Prints a human-readable summary, then as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits 1 on any failed operation or oracle
mismatch, 2 when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


#: what each end-to-end metric measures on each workload
METRIC_NOTES = {
    "serve": {
        "build_docs_per_s": "set-up build",
        "fresh_p50_s": "engine open to first answer, set-up",
        "batch_qps": "batches of 100 and 300, pinned",
    },
    "ingest": {
        "query_p50_ms": "read_after_write_p50_ms",
        "batch_qps": "batch of 100 after each delta, unpinned",
        "fresh_p50_s": "upsert + reopen + first query",
    },
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        from perfbench import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")

    # everything the run writes, Spark's scratch space included, stays
    # under the checkout; set before the JVM and its workers start
    work = workloads.prepare_work(ROOT, args.workload, args.seed)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (spark-submit's launcher too): temp files in the work
    # dir, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    # a SIGTERM unwinds through the finally below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    trace_doc = None
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        run.errors.append("run aborted")
        run.failed += 1
    finally:
        run.stop_spark()
    if run.trace and not run.errors:
        trace_doc = run.read_event_log()

    spec = _spec()
    wanted = spec["per_layer"] if run.trace else spec["end_to_end"]
    values = run.layers if run.trace else run.e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted if m["name"] in values}
    correct = not run.errors and len(metrics) == len(wanted)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} info={run.info}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    aliases = METRIC_NOTES.get(args.workload, {})
    for name, v in run.e2e.items():
        alias = f"  ({aliases[name]})" if name in aliases else ""
        print(f"  {name:28s} {v:12.6g} {units.get(name, '')}{alias}")
    print(f"  {'error_rate':28s} {run.failed / max(run.attempted, 1):12.6g} fraction")
    if run.errors:
        print(f"  errors: {run.errors[:5]}")
    if trace_doc is not None:
        out = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump(trace_doc | {"layers": run.layers, "e2e": run.e2e}, f, indent=1)
        print(f"  spans: {path}")
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(run.attempted, 1),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench as a package, never shadow stdlib
    sys.exit(main())
