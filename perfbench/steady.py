"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1 as a share
of the median, from statistics.quantiles(values, n=4)) against the bound
in BENCHMARK.json.

  python3 perfbench/steady.py --workload analyst --seeds 1-10 [--out FILE] \
      [--compare EARLIER_OUT]

With --compare, it also reports how far each median moved from an
earlier set's (another --out file of the same workload), counted in the
metric's worse direction, and marks a move beyond the bound UNRESOLVED.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    runs = []
    for s in seeds(a.seeds):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        wall = time.monotonic() - t0
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": s, "wall_s": wall, **res})
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
        print(f"seed {s}: {wall:.1f}s correct={res['correct']} failed={res['failed']} {vals}",
              flush=True)
    summary = {}
    for name, bound in bounds.items():
        v = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        summary[name] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med, "bound": bound}
        print(f"{name:14s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {(q3 - q1) / med:6.3f}  bound {bound}")
    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)["summary"]
        for name, m in summary.items():
            change = m["median"] / earlier[name]["median"] - 1
            worse = change if better[name] == "lower" else -change
            m["worse_than_earlier"] = worse
            print(f"{name:14s} earlier median {earlier[name]['median']:12.4f}  "
                  f"worse by {worse:+7.3f}  "
                  f"{'ok' if worse <= m['bound'] else 'UNRESOLVED'}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "summary": summary, "runs": runs},
                      f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
