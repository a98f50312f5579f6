#!/usr/bin/env python3
"""Steadiness check: two sets of runs per workload, compared within the
bounds of BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads rest_ann,...]
    python3 perfbench/steady.py --summarize .bench_build/steady/<file>.jsonl

Run from the root of a checkout. Set A uses seeds 1..runs and set B seeds
101..100+runs; the two sets alternate run by run. For every end-to-end
metric it prints each set's median and quartiles and the quartile spread
as a share of the median, then says whether

  * every spread except setup_s's stays within the metric's bound
    (setup_s's spread is printed and marked, not judged: a run sets up
    once, so its spread is that of one cold start),
  * the two sets' medians differ by at most the bound, in either
    direction, as a share of set A's median, and
  * the share of failed operations is the same in both sets.

Each run's JSON result is appended to a JSONL file under
.bench_build/steady/, which --summarize reads again.
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


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(bench, workload, seed):
    cmd = [c for c in bench["command"]] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL)
    wall = time.time() - t
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit("%s seed %d failed (exit %d)"
                         % (workload, seed, p.returncode))
    return (json.loads(p.stdout.strip().splitlines()[-1]), wall,
            p.stderr.strip().splitlines()[-2:])


def summarize(bench, rows):
    ok_all = True
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    for w in sorted({r["workload"] for r in rows}):
        sets = {s: [r for r in rows if r["workload"] == w and r["set"] == s]
                for s in ("A", "B")}
        n = min(len(sets["A"]), len(sets["B"]))
        print("\n== %s (%d + %d runs) ==" % (w, len(sets["A"]),
                                             len(sets["B"])))
        shares = {s: sorted({r["result"]["failed"] / r["result"]["attempted"]
                             for r in v}) for s, v in sets.items()}
        correct = all(r["result"]["correct"] for r in sets["A"] + sets["B"])
        print("correct in every run: %s; failed share A %s B %s"
              % (correct, shares["A"], shares["B"]))
        ok_w = correct and shares["A"] == shares["B"] and \
            len(shares["A"]) == 1 and n >= 2
        print("%-18s %-5s %12s %12s %12s %8s %8s" % (
            "metric", "set", "q1", "median", "q3", "spread", "bound"))
        for name, m in metrics.items():
            med = {}
            for s in ("A", "B"):
                vals = [r["result"]["metrics"][name]["value"] for r in sets[s]]
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                med[s] = q2
                spread = (q3 - q1) / q2 if q2 else float("inf")
                flag = ""
                if spread > m["bound"]:
                    flag = "OVER"
                    if name == "setup_s":
                        flag += " (not judged)"
                    else:
                        ok_w = False
                elif spread > m["bound"] / 3:
                    flag = "> bound/3"
                print("%-18s %-5s %12.5g %12.5g %12.5g %8.4f %8.3g %s" % (
                    name, s, q1, q2, q3, spread, m["bound"], flag))
            diff = (med["B"] - med["A"]) / med["A"] if med["A"] else 0.0
            status = "ok" if abs(diff) <= m["bound"] else "APART"
            if status != "ok":
                ok_w = False
            print("%-18s B vs A: %+.4f of A's median (%s)" % (
                "", diff, status))
        print("%s: %s" % (w, "AGREE" if ok_w else "DISAGREE"))
        ok_all = ok_all and ok_w
    print("\nall workloads agree within bounds: %s" % ok_all)
    return ok_all


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--summarize", default="")
    a = ap.parse_args()
    bench = load_benchmark()
    if a.summarize:
        with open(a.summarize) as f:
            rows = [json.loads(l) for l in f if l.strip()]
        sys.exit(0 if summarize(bench, rows) else 1)
    workloads = [w for w in a.workloads.split(",") if w] or \
        [w["name"] for w in bench["workloads"]]
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, time.strftime("%Y%m%d-%H%M%S") + ".jsonl")
    rows = []
    with open(path, "a") as f:
        for w in workloads:
            for i in range(a.runs):
                for s, seed in (("A", 1 + i), ("B", 101 + i)):
                    res, wall, log = run_once(bench, w, seed)
                    row = dict(workload=w, set=s, seed=seed, wall_s=wall,
                               result=res, log=log)
                    rows.append(row)
                    f.write(json.dumps(row) + "\n")
                    f.flush()
                    print("%s %s seed %d: %.1f s wall" % (w, s, seed, wall),
                          file=sys.stderr, flush=True)
    print("runs written to", path)
    sys.exit(0 if summarize(bench, rows) else 1)


if __name__ == "__main__":
    main()
