#!/usr/bin/env python3
"""Steadiness check: run each workload several times on one commit and
report, per end-to-end metric, the median, the quartiles and the spread
against the metric's bound in BENCHMARK.json, and the same figures, with
no bound, for the pass times ``run.py`` prints on stderr.

    python3 perfbench/steady.py --runs 10 [--workloads ts_fleet,query_mix] [--seed0 1]

Run i uses seed ``seed0 + i``; the workloads alternate run by run, so a
change in box load lands on all of them.  The spread is (Q3 - Q1) / median
with the quartiles of ``statistics.quantiles(values, n=4)``.  The 1-minute
load average is recorded at the start and end of every run, so a loaded
box is visible in the record, which goes to ``perfbench/results/``.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()

    workloads = args.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for i in range(args.runs):
        for w in workloads:
            seed = args.seed0 + i
            cmd = bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            load0, t0 = os.getloadavg()[0], time.monotonic()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            rec = {
                "seed": seed,
                "exit": proc.returncode,
                "wall_s": time.monotonic() - t0,
                "loadavg1_start": load0,
                "loadavg1_end": os.getloadavg()[0],
            }
            lines = proc.stdout.strip().splitlines()
            if proc.returncode == 0 and lines:
                rec["result"] = json.loads(lines[-1])
                # run.py's progress lines: set-up, pass and check times
                rec["progress"] = [
                    ln for ln in proc.stderr.splitlines()
                    if ln.startswith(("setup ", "pass ", "check:", "CHECK FAILED"))
                ]
                rec["timing"] = next(
                    (json.loads(ln.split(" ", 1)[1]) for ln in proc.stderr.splitlines()
                     if ln.startswith("timing: ")),
                    {},
                )
            else:
                rec["stderr_tail"] = proc.stderr[-2000:]
            runs[w].append(rec)
            print(
                f"{w} seed={seed} exit={rec['exit']} wall={rec['wall_s']:.1f}s "
                f"load={load0:.2f}->{rec['loadavg1_end']:.2f}",
                file=sys.stderr,
            )

    summary: dict[str, dict] = {}
    for w, recs in runs.items():
        ok = [r["result"] for r in recs if "result" in r]
        summary[w] = {
            "runs": len(recs),
            "exited_0": len(ok),
            "all_correct": all(r["correct"] for r in ok),
            "failed_share": sorted({r["failed"] / r["attempted"] for r in ok}),
            "metrics": {},
        }
        timed = [r["timing"] for r in recs if r.get("timing")]
        series = [(n, b, [r["metrics"][n]["value"] for r in ok]) for n, b in bounds.items()]
        series += [(n, None, [t[n] for t in timed]) for n in (timed[0] if timed else {})]
        for name, bound, vals in series:
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            summary[w]["metrics"][name] = {
                "median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
                "within_bound": bound is None or spread <= bound,
                "within_third": bound is None or spread <= bound / 3,
            }

    for w, s in summary.items():
        print(f"\n{w}: {s['exited_0']}/{s['runs']} runs ok, correct={s['all_correct']}, "
              f"failed share={s['failed_share']}")
        print(f"  {'metric':<18}{'median':>11}{'Q1':>11}{'Q3':>11}{'spread':>9}{'bound':>8}")
        for name, m in s["metrics"].items():
            bound = "-" if m["bound"] is None else f"{m['bound']:.2f}"
            print(f"  {name:<18}{m['median']:>11.4g}{m['q1']:>11.4g}{m['q3']:>11.4g}"
                  f"{m['spread']:>9.3f}{bound:>8}"
                  f"{'' if m['within_third'] else ('  > bound/3' if m['within_bound'] else '  > BOUND')}")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    out = os.path.join(HERE, "results", f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump({"summary": summary, "runs": runs}, f, indent=1)
    print(f"\nrecord: {os.path.relpath(out, ROOT)}")
    return 0 if all(s["exited_0"] == s["runs"] for s in summary.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
