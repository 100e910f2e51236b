#!/usr/bin/env python3
"""Median and quartile spread of repeated benchmark runs.

    python3 perfbench/spread.py RESULTS.jsonl [RESULTS.jsonl ...]

Each input line is the JSON object run.py prints (optionally wrapped as
{"seed": n, "r": {...}}). For every metric this prints the median, the
first and third quartiles as statistics.quantiles(values, n=4) gives them,
and their distance as a share of the median, which is the spread a bound
is compared against.
"""
import json
import statistics
import sys


def load(paths):
    rows = []
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    d = json.loads(line)
                    rows.append(d.get("r", d))
    return rows


def main(paths):
    rows = load(paths)
    if not rows:
        sys.exit("no results")
    print(f"runs={len(rows)} all_correct={all(r['correct'] for r in rows)} "
          f"failed={sum(r['failed'] for r in rows)}")
    for name in rows[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in rows]
        unit = rows[0]["metrics"][name]["unit"]
        med = statistics.median(vals)
        if len(vals) < 2:
            print(f"{name:34s} {med:12.5g} {unit}")
            continue
        q1, _, q3 = statistics.quantiles(vals, n=4)
        rel = (q3 - q1) / med if med else float("nan")
        print(f"{name:34s} {med:12.5g} {unit:6s} q1={q1:.5g} q3={q3:.5g} "
              f"spread={rel:.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
