"""Run sets: repeat the benchmark over seeds and compare two sets.

    python3 perfbench/runset.py run --workload changelog --seeds 1-10 \\
        [--trace 0|1] [--seconds S] --out runs.jsonl
    python3 perfbench/runset.py summary runs.jsonl [more.jsonl ...]
    python3 perfbench/runset.py compare base.jsonl new.jsonl

``run`` appends one JSON line per run (workload, seed, trace, stamp, result)
to ``--out``, prints the summary, and exits 1 if any run failed (no result,
a non-zero exit, or ``correct`` false). ``summary`` prints, per workload,
each metric's median, first and third quartile (``statistics.quantiles(n=4)``)
and spread, the quartile distance as a share of the median, next to the
metric's bound from BENCHMARK.json; a spread at or above a third of the bound
is flagged ``wide``. The header of each set gives the range of the runs'
``cpu_steal_share``, the CPU time other guests took from the host, which
makes every time slower. When a file holds traced and untraced runs of a
workload it also prints the tracing overhead, the median traced ``wall_s``
minus the median untraced one. Medians and quartiles are taken over the
runs that passed only. ``compare`` works on untraced runs. It refuses (exit 2)
two sets whose stamps differ in ``cpus``, ``sf`` or ``seconds``. A workload
whose new set has more failed runs than the base set regressed. A metric
whose new median is worse than the base median by more than its bound is a
regression; when either side's spread exceeds the bound the metric is
unresolved, unless every new run is better than every base run. Exit code 1
if anything regressed or was unresolved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def passed(rec: dict) -> bool:
    """A run that exited 0 with a correct result and no failed unit."""
    res = rec["result"]
    return bool(rec["returncode"] == 0 and res and res["correct"]
                and res["failed"] == 0)


def run_set(workload: str, seeds: list[int], trace: int, seconds: int,
            out: str) -> int:
    """Run the seeds; returns the number of runs that did not pass."""
    bad = 0
    for seed in seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        stamp = next((json.loads(ln[len("perfbench: "):]) for ln in lines
                      if ln.startswith("perfbench: {")), {})
        try:
            result = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            result = None
        rec = {"workload": workload, "seed": seed, "trace": trace,
               "returncode": proc.returncode, "stamp": stamp, "result": result}
        if result is None:
            rec["stderr_tail"] = proc.stderr[-2000:]
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        bad += not passed(rec)
        status = "ok" if passed(rec) else "FAILED"
        print(f"{workload} seed {seed} trace {trace}: {status} "
              f"({stamp.get('run_s', 0):.1f} s)", flush=True)
    return bad


def load(paths: list[str]) -> list[dict]:
    recs = []
    for p in paths:
        with open(p) as f:
            recs.extend(json.loads(line) for line in f if line.strip())
    return recs


def _runs(recs, workload: str, trace: int) -> list[dict]:
    return [r for r in recs if r["workload"] == workload and r["trace"] == trace]


def _values(recs, workload: str, trace: int) -> dict[str, list[float]]:
    """Metric values of the runs that passed."""
    vals: dict[str, list[float]] = {}
    for r in _runs(recs, workload, trace):
        if passed(r):
            for name, m in r["result"]["metrics"].items():
                vals.setdefault(name, []).append(m["value"])
    return vals


def stats(xs: list[float]) -> dict:
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def summary(recs: list[dict]) -> None:
    spec = _spec()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload in sorted({r["workload"] for r in recs}):
        for trace in (0, 1):
            vals = _values(recs, workload, trace)
            if not _runs(recs, workload, trace):
                continue
            runs = _runs(recs, workload, trace)
            bad = sum(not passed(r) for r in runs)
            steal = [r["stamp"]["cpu_steal_share"] for r in runs
                     if "cpu_steal_share" in r["stamp"]]
            print(f"\n{workload} trace={trace}: {len(runs)} runs, {bad} failed "
                  "(left out of the figures)"
                  + (f"; CPU steal share {min(steal):.3f}-{max(steal):.3f}, "
                     f"median {statistics.median(steal):.3f}" if steal else ""))
            print(f"  {'metric':44s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
                  f"{'spread':>7s} {'bound':>6s}")
            for name, xs in vals.items():
                if not any(xs):  # a layer this workload does not run
                    continue
                s = stats(xs)
                b = bounds.get(name) if trace == 0 else None
                flag = " wide" if b is not None and s["spread"] >= b / 3 else ""
                print(f"  {name:44s} {s['median']:12.5g} {s['q1']:12.5g} "
                      f"{s['q3']:12.5g} {s['spread']:7.3f} "
                      f"{'' if b is None else b:>6}{flag}")
        plain, traced = _values(recs, workload, 0), _values(recs, workload, 1)
        if plain.get("wall_s") and traced.get("trace.wall_s"):
            over = (statistics.median(traced["trace.wall_s"])
                    - statistics.median(plain["wall_s"]))
            print(f"  tracing overhead (traced - untraced wall_s): {over:+.3f} s")


#: stamp fields two compared sets must agree on
SETTINGS = ("cpus", "sf", "seconds")


def _settings(runs: list[dict]) -> set[tuple]:
    return {tuple(r["stamp"].get(k) for k in SETTINGS) for r in runs if r["stamp"]}


def compare(base: list[dict], new: list[dict]) -> int:
    spec = _spec()
    worst = 0
    for workload in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        b_runs, n_runs = _runs(base, workload, 0), _runs(new, workload, 0)
        b_set, n_set = _settings(b_runs), _settings(n_runs)
        if len(b_set | n_set) > 1:
            print(f"{workload}: the sets were run with different {SETTINGS}: "
                  f"base {sorted(b_set)}, new {sorted(n_set)}; not comparable")
            return 2
        b_bad = sum(not passed(r) for r in b_runs)
        n_bad = sum(not passed(r) for r in n_runs)
        verdict = "REGRESSED" if n_bad > b_bad else "ok"
        if n_bad > b_bad:
            worst = 1
        print(f"\n{workload}: failed runs base {b_bad} of {len(b_runs)}, "
              f"new {n_bad} of {len(n_runs)} {verdict}")
        b_vals, n_vals = _values(base, workload, 0), _values(new, workload, 0)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            if name not in b_vals or name not in n_vals:
                print(f"  {name:16s} no passing runs on one side: unresolved")
                worst = 1
                continue
            bs, ns = stats(b_vals[name]), stats(n_vals[name])
            sign = 1 if m["better"] == "lower" else -1
            change = (ns["median"] - bs["median"]) / bs["median"] * sign
            all_better = (max(n_vals[name]) < min(b_vals[name]) if sign > 0
                          else min(n_vals[name]) > max(b_vals[name]))
            if max(bs["spread"], ns["spread"]) > bound and not all_better:
                verdict, worst = "unresolved", 1
            elif change > bound:
                verdict, worst = "REGRESSED", 1
            else:
                verdict = "ok"
            print(f"  {name:16s} base {bs['median']:10.5g} new {ns['median']:10.5g} "
                  f"worse by {change:+.1%} (bound {bound:.0%}, spreads "
                  f"{bs['spread']:.3f}/{ns['spread']:.3f}) {verdict}")
    return worst


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench run sets")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--trace", type=int, default=0, choices=(0, 1))
    r.add_argument("--seconds", type=int, default=_spec()["run_seconds"])
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("files", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    args = ap.parse_args(argv)
    if args.cmd == "run":
        bad = run_set(args.workload, _seeds(args.seeds), args.trace, args.seconds,
                      args.out)
        summary(load([args.out]))
        return 1 if bad else 0
    if args.cmd == "summary":
        summary(load(args.files))
        return 0
    return compare(load([args.base]), load([args.new]))


if __name__ == "__main__":
    sys.exit(main())
