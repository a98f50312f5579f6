#!/usr/bin/env python3
"""Summarise a traced REST benchmark run's span file, by span name and by
write kind.

    python3 tools/span_summary.py .bench_build/spans/rest_ann-1.jsonl \\
        --workload rest_ann --seed 1 --seconds 16

A traced run (`perfbench/run.py --trace 1`) writes one JSON span per line.
Its `op.write` and `setup.warmup` spans do not say which write they timed,
so the operation sequence is made again from the same workload, seed and
`--seconds` with `perfbench/inputs.py`'s `RestInputs`: the n-th timed
write span is the plan's n-th timed write, and the n-th warm-up span its
n-th warm-up operation. Prints the count, p50 and sum in milliseconds per
span name, then per write kind (upsert or delete) for the timed and the
warm-up writes.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import inputs  # noqa: E402


def row(name, ms):
    return "%-28s %6d %10.2f %11.1f" % (name, len(ms), statistics.median(ms),
                                        sum(ms))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("spans")
    ap.add_argument("--workload", required=True, choices=sorted(inputs.REST))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--data", default=os.path.join(ROOT, ".bench_build", "data"),
                    help="the benchmark's input cache (the collection is "
                         "written there if it is missing)")
    a = ap.parse_args()

    with open(a.spans) as f:
        spans = [json.loads(l) for l in f if l.strip()]
    spans.sort(key=lambda s: s["start_ns"])
    os.makedirs(a.data, exist_ok=True)
    rest = inputs.RestInputs(a.workload, a.seed, a.seconds, a.data)

    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"]) / 1e6)
    print("%-28s %6s %10s %11s" % ("span", "n", "p50_ms", "sum_ms"))
    for name in sorted(by_name):
        print(row(name, by_name[name]))

    for label, span_name, ops in (
            ("timed", "op.write", [o for o in rest.ops if o["kind"] == "write"]),
            ("warm-up", "setup.warmup", rest.warmup)):
        ms = by_name.get(span_name, [])
        if len(ms) != len(ops):
            raise SystemExit("%d %s spans but the plan has %d %s operations: "
                             "wrong --workload, --seed or --seconds?" % (
                                 len(ms), span_name, len(ops), label))
        kinds = {}
        for o, t in zip(ops, ms):
            if o["kind"] == "write":
                kinds.setdefault(o["op"], []).append(t)
        print()
        print("%-28s %6s %10s %11s" % ("%s write kind" % label, "n", "p50_ms",
                                       "sum_ms"))
        for kind in sorted(kinds):
            print(row(kind, kinds[kind]))


if __name__ == "__main__":
    main()
