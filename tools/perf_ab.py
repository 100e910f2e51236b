#!/usr/bin/env python3
"""Parent/change A/B of the paper-flow benchmark.

    python3 tools/perf_ab.py --out DIR [--parent REV] [--workloads etl_bulk,daily]
                             [--pairs 10] [--seed0 N] [--seconds 15]
    python3 tools/perf_ab.py --out DIR --summarize

Exports the parent revision (default HEAD~1) with `git archive` into
DIR/parent and runs N alternating pairs per workload of

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

one JVM at a time: pair i runs seed seed0 + i on both sides, the parent
export first on even pairs and this checkout first on odd ones. Each side
builds its own perfbench/target on first use. Every run's stdout and stderr
are kept in DIR/logs/, and its exit code and result line are appended to
DIR/<side>-<workload>.jsonl as {"seed", "exit", "r"}, so a failed run can
be read afterwards.

The summary prints, per workload and end-to-end metric of BENCHMARK.json:
each side's median and quartiles (statistics.quantiles, n=4), the change in
median, the pairs the change won (ties count for neither), whether that is
a gain by the rule the benchmark is judged by (wins in at least 9/10 of the
pairs and a median gap larger than the parent's q3 - q1), whether the change
stays inside the metric's bound, and per side the failed operations, the
runs that ended `correct`, the runs that exited non-zero, the runs whose
kept stderr shows run.py's own deadline killed them (`run timed out`: run.py
exits 1 then too, so the non-zero count alone cannot tell a hang from a
JVM failure) and the runs whose kept stderr shows the JVM's code cache
filled (`CodeCache is full`: from then on newly hot code runs interpreted,
so that run's later calls are slower). The script only calls the benchmark; it changes nothing under
perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
# run.py's own limit is 170 s per run; the first run of a side also builds
RUN_TIMEOUT_S = 1200


def side_dir(out, side):
    return os.path.join(out, "parent") if side == "parent" else ROOT


def export_parent(rev, out):
    dest = os.path.join(out, "parent")
    if os.path.isdir(dest):
        sys.exit(f"{dest} exists; pick a fresh --out")
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")


def log_name(workload, side, seed):
    return f"{workload}-{side}-seed{seed}"


def stderr_shows(out, side, workload, seed, text):
    path = os.path.join(out, "logs", log_name(workload, side, seed) + ".err")
    if not os.path.exists(path):
        return False
    with open(path, errors="replace") as fh:
        return any(text in line for line in fh)


def code_cache_full(out, side, workload, seed):
    return stderr_shows(out, side, workload, seed, "CodeCache is full")


def timed_out(out, side, workload, seed):
    # run.py kills a run at its own deadline, logs this and exits 1 -- the
    # same exit code as a JVM failure
    return stderr_shows(out, side, workload, seed, "run timed out")


def run_one(out, side, workload, seed, seconds):
    name = log_name(workload, side, seed)
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    with open(os.path.join(logs, name + ".out"), "w") as so, \
            open(os.path.join(logs, name + ".err"), "w") as se:
        try:
            code = subprocess.run(cmd, cwd=side_dir(out, side), stdout=so,
                                  stderr=se, timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    with open(os.path.join(logs, name + ".out")) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    row = {"seed": seed, "exit": code, "r": result}
    with open(os.path.join(out, f"{side}-{workload}.jsonl"), "a") as fh:
        fh.write(json.dumps(row) + "\n")
    ok = result is not None and result.get("correct")
    print(f"perf_ab: {name}: exit {code}, correct {bool(ok)}, "
          f"{time.monotonic() - t0:.0f} s", file=sys.stderr, flush=True)


def load(out, side, workload):
    path = os.path.join(out, f"{side}-{workload}.jsonl")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return {row["seed"]: row for row in map(json.loads, fh) if row}


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, q3


def summarize(out, workloads):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    print("| workload | metric | parent median (q1–q3) | change median (q1–q3) "
          "| Δ median | change better | gain | in bound | failed p/c "
          "| correct p/c | exit≠0 p/c | timed out p/c | code cache full p/c |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    for w in workloads:
        rows = {s: load(out, s, w) for s in SIDES}
        health = {}
        for s in SIDES:
            runs = rows[s].values()
            health[s] = (
                sum(r["r"]["failed"] for r in runs if r["r"]),
                sum(1 for r in runs if r["r"] and r["r"]["correct"]),
                len(runs),
                sum(1 for r in runs if r["exit"] != 0),
                sum(1 for r in runs if code_cache_full(out, s, w, r["seed"])),
                sum(1 for r in runs if timed_out(out, s, w, r["seed"])))
        paired = sorted(set(rows["parent"]) & set(rows["change"]))
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"

            def val(s, seed):
                r = rows[s][seed]["r"]
                return r["metrics"].get(name, {}).get("value") if r else None

            pairs = [(val("parent", s), val("change", s)) for s in paired]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            if not pairs:
                print(f"| {w} | `{name}` | no paired results" + " |" * 11)
                continue
            pv = [p for p, _ in pairs]
            cv = [c for _, c in pairs]
            pm, cm = statistics.median(pv), statistics.median(cv)
            (p1, p3), (c1, c3) = quartiles(pv), quartiles(cv)
            wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
            gap = (pm - cm) if lower else (cm - pm)
            gain = wins >= 0.9 * len(pairs) and gap > p3 - p1
            worse = -gap / pm if pm else 0.0
            delta = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
            hp, hc = health["parent"], health["change"]
            print(f"| {w} | `{name}` | {pm:.4g} ({p1:.4g}–{p3:.4g}) "
                  f"| {cm:.4g} ({c1:.4g}–{c3:.4g}) | {delta} "
                  f"| {wins}/{len(pairs)} | {'yes' if gain else 'no'} "
                  f"| {'yes' if worse <= m['bound'] else 'NO'} "
                  f"| {hp[0]}/{hc[0]} | {hp[1]}/{hp[2]}, {hc[1]}/{hc[2]} "
                  f"| {hp[3]}/{hc[3]} | {hp[5]}/{hc[5]} | {hp[4]}/{hc[4]} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True,
                    help="scratch dir for the parent export, logs and results")
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--workloads", default="etl_bulk,daily")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=2001)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--summarize", action="store_true",
                    help="only print the summary of the results in --out")
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    if not a.summarize:
        export_parent(a.parent, a.out)
        for w in workloads:
            for i in range(a.pairs):
                order = SIDES if i % 2 == 0 else SIDES[::-1]
                for side in order:
                    run_one(a.out, side, w, a.seed0 + i, a.seconds)
    summarize(a.out, workloads)


if __name__ == "__main__":
    main()
