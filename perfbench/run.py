"""Benchmark of the connector streams and the registry queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest|changelog|batch_queries \\
        --seed N --seconds S --trace 0|1

It generates its inputs from the seed, runs the workload against the
``kafka_connect_streams_spark`` package in one process (Spark
``local[<cpus>]``), checks every output, and prints a summary line per metric
followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones and writes every span to
``.perfbench/traces/<workload>-seed<N>.jsonl``. The exit code is 0 only when
every output was correct. See perfbench/NOTES.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "kafka_connect_streams_spark"


def _spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout and let
    Spark's Python workers import the package and the benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to perfbench/ — run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    spec = _spec(ROOT)
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _env(work)
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    run = harness.Run(ROOT, args.workload, args.seed, args.seconds,
                      bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        e2e, layers, attempted, failed, notes = \
            workloads.WORKLOADS[args.workload](run)
        stamp = run.stamp(workloads.SF[args.workload])
        if run.trace:
            layers["trace.wall_s"] = e2e["wall_s"]
            run.tracer.flush(os.path.join(
                ROOT, ".perfbench", "traces",
                f"{args.workload}-seed{args.seed}.jsonl"),
                {**stamp, "e2e": e2e, "layers": layers})
    finally:
        run.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    error_rate = failed / attempted
    for note in notes[:20]:
        print(f"perfbench: check: {note}")
    if len(notes) > 20:
        print(f"perfbench: check: ... and {len(notes) - 20} more")
    print("perfbench: " + json.dumps({**stamp, "run_s": time.perf_counter() - t0}))
    for name, m in metrics.items():
        print(f"perfbench: {args.workload} {name} = {m['value']:.6g} {m['unit']}")
    if not args.trace:  # peak memory is a per-layer metric; shown here too
        for name, v in layers.items():
            if name.startswith("mem."):
                print(f"perfbench: {args.workload} {name} = {v:.6g} MiB")
    print(f"perfbench: {args.workload} error_rate = {error_rate:.6g} ratio "
          f"({failed} of {attempted} failed)")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
