#!/usr/bin/env python3
"""Steadiness report: run one workload repeatedly and summarize each set.

    python3 perfbench/steady.py --workload curate_corpus --runs 10 --sets 2

Each set runs ``--runs`` untraced runs with seeds ``--seed``, ``--seed``+1,
... (the same seeds in every set) and ``--traced`` traced runs. For every
end-to-end metric it prints the set's median, quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and their spread (IQR /
median) against the metric's bound, plus ``trace.overhead`` and the
traced runs' timed work over the untraced runs' median ``work_s`` (the
tracing overhead measured across runs); from the second set on, the change
of each median against the first set's.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return None, None
    traced = [json.loads(x)["traced_work_s"] for x in lines
              if x.startswith("{") and "traced_work_s" in x]
    return json.loads(lines[-1]), (traced[0] if traced else None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = []
    for s in range(a.sets):
        values = {m: [] for m in bounds}
        failed = 0
        for i in range(a.runs):
            res, _ = run_once(a.workload, a.seed + i, seconds, 0)
            if res is None or not res["correct"]:
                failed += 1
                continue
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
        overhead, traced_work = [], []
        for i in range(a.traced):
            res, work = run_once(a.workload, a.seed + i, seconds, 1)
            if res is None or not res["correct"]:
                failed += 1
                continue
            overhead.append(res["metrics"]["trace.overhead"]["value"])
            traced_work.append(work)
        cross = (statistics.median(traced_work) / statistics.median(values["work_s"])
                 if traced_work and values["work_s"] else None)
        row = {"set": s + 1, "failed_runs": failed, "metrics": {},
               "trace_overhead": overhead, "traced_over_untraced_work": cross}
        print(f"set {s + 1}: {a.runs} + {a.traced} traced runs, {failed} failed, "
              f"trace.overhead {overhead}, traced/untraced work {cross}")
        for m, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            row["metrics"][m] = {"median": med, "q1": q1, "q3": q3,
                                 "spread": spread, "values": xs}
            line = (f"  {m:12s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                    f"  spread {spread:6.3f} (bound {bounds[m]})")
            if summary and m in summary[0]["metrics"]:
                first = summary[0]["metrics"][m]["median"]
                line += f"  vs set 1 {med / first - 1.0:+.3f}"
            print(line, flush=True)
        summary.append(row)
    print(json.dumps({"workload": a.workload, "sets": summary}))


if __name__ == "__main__":
    main()
