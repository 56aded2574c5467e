#!/usr/bin/env python3
"""Record benchmark runs and compare a parent commit with a change.

    # ten runs per workload of the checkout at the current directory
    python3 perfbench/compare.py record --out rec.json [--runs 10] [--trace 0]

    # alternate two checkouts run by run: pair i runs parent first when i is
    # even and change first when i is odd; writes both recordings
    python3 perfbench/compare.py pairs --parent DIR --change DIR --out pairs.json [--pairs 10]

    # judge two recordings (or the two sides of a pairs file)
    python3 perfbench/compare.py report PARENT.json CHANGE.json
    python3 perfbench/compare.py report pairs.json

`pairs` first copies this benchmark directory and BENCHMARK.json into each
checkout, so both sides run identical benchmark code against their own
program; pair i uses seed i + 1 on both sides, so they see the same inputs. The report prints one row per workload and end-to-end metric:
each side's median and quartiles, the change's wins over the paired runs,
and a verdict:

  gain        the change wins at least 9 of 10 pairs and the medians differ
              by more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  the parent's own spread exceeds the bound and not every change
              run beats every parent run
  within      none of the above

A run that failed operations or wrong outputs (correct = false) leaves
them out of its timings, so its figures may look better than they are.
The report therefore names the failed operations of each side per
workload, and where the change fails more of them than the parent, every
metric of that workload reads `failing` instead of a verdict. A metric
whose values equal an earlier metric's in every run on both sides (on
copy_cycle, op_tail_s repeats op_gmean_s, since a run times one copy) is
named once and gets no verdict of its own.

Recordings carry the host facts run.py prints; two recordings whose host
facts differ are not compared.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def sync(checkout):
    """Give `checkout` this benchmark, so both sides run identical
    benchmark code and settings against their own program."""
    root = os.path.dirname(HERE)
    if os.path.realpath(checkout) == os.path.realpath(root):
        return
    dst = os.path.join(checkout, "perfbench")
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(HERE, dst, ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), checkout)


def one_run(checkout, workload, seed, trace):
    """One benchmark run in `checkout`; returns (host facts, result)."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        sys.exit(f"run failed in {checkout}: {workload} seed {seed}")
    host = next(json.loads(l[5:]) for l in lines if l.startswith("host "))
    return host, json.loads(lines[-1])


def record(checkout, runs, trace, workloads, seeds=None):
    rec = {"host": None, "runs": {w: [] for w in workloads}}
    for w in workloads:
        for seed in seeds or range(1, runs + 1):
            host, res = one_run(checkout, w, seed, trace)
            rec["host"] = rec["host"] or host
            if host != rec["host"]:
                sys.exit(f"host facts changed during the recording: {host} vs {rec['host']}")
            rec["runs"][w].append({"seed": seed, **res})
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def equal(xs, ys):
    """Same values up to rounding: a geometric mean of one sample differs
    from the sample in its last digits."""
    return len(xs) == len(ys) and all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(xs, ys))


def report(parent, change):
    if parent["host"] != change["host"]:
        diff = {k: (parent["host"].get(k), change["host"].get(k))
                for k in set(parent["host"]) | set(change["host"])
                if parent["host"].get(k) != change["host"].get(k)}
        sys.exit(f"refusing to compare recordings from different hosts: {diff}")
    def values(rec, w, name):
        return [r["metrics"][name]["value"] for r in rec["runs"].get(w, [])]

    failing = set()
    for w in parent["runs"]:
        fails = {side: (sum(r["failed"] for r in rec["runs"].get(w, [])),
                        sum(not r["correct"] for r in rec["runs"].get(w, [])))
                 for side, rec in (("parent", parent), ("change", change))}
        for side, (ops, runs) in fails.items():
            if runs:
                print(f"{w}: {side} has {runs} run(s) with wrong outputs or failed "
                      f"operations, {ops} failed operation(s); their timings omit them")
        if fails["change"][0] > fails["parent"][0]:
            failing.add(w)
    print(f"{'workload':<16} {'metric':<12} {'parent q1/med/q3':>28} "
          f"{'change q1/med/q3':>28} {'wins':>7}  verdict")
    for i, m in enumerate(SPEC["end_to_end"]):
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        for w in parent["runs"]:
            a, b = values(parent, w, name), values(change, w, name)
            if not a or not b:
                continue
            same = next((e["name"] for e in SPEC["end_to_end"][:i]
                         if equal(values(parent, w, e["name"]), a)
                         and equal(values(change, w, e["name"]), b)), None)
            if same:
                print(f"{w:<16} {name:<12} equals {same} in every run; no separate verdict")
                continue
            better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
            pairs = list(zip(a, b))
            wins = sum(better(y, x) for x, y in pairs)
            pq, cq = quartiles(a), quartiles(b)
            gap = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])  # > 0: change worse
            spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
            if w in failing:
                verdict = "failing"
            elif wins >= 0.9 * len(pairs) and -gap > pq[2] - pq[0]:
                verdict = "gain"
            elif gap > bound * abs(pq[1]):
                verdict = "regression"
            elif spread > bound and not all(better(y, x) for x in a for y in b):
                verdict = "unresolved"
            else:
                verdict = "within"
            print(f"{w:<16} {name:<12} {pq[0]:9.4g}/{pq[1]:8.4g}/{pq[2]:9.4g} "
                  f"{cq[0]:9.4g}/{cq[1]:8.4g}/{cq[2]:9.4g} {wins:>3}/{len(pairs):<3}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description="record and compare benchmark runs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--out", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--workloads", nargs="*", default=[w["name"] for w in SPEC["workloads"]])
    c = sub.add_parser("report")
    c.add_argument("files", nargs="+")
    a = ap.parse_args()

    if a.cmd == "record":
        rec = record(".", a.runs, a.trace, a.workloads)
        json.dump(rec, open(a.out, "w"), indent=1)
    elif a.cmd == "pairs":
        if a.pairs < 10:
            sys.exit("at least 10 pairs")
        sync(a.parent)
        sync(a.change)
        sides = {"parent": {"host": None, "runs": {w: [] for w in a.workloads}},
                 "change": {"host": None, "runs": {w: [] for w in a.workloads}}}
        for i in range(a.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                rec = record(getattr(a, side), 1, 0, a.workloads, seeds=[i + 1])
                s = sides[side]
                s["host"] = s["host"] or rec["host"]
                for w in a.workloads:
                    s["runs"][w] += rec["runs"][w]
        json.dump(sides, open(a.out, "w"), indent=1)
        report(sides["parent"], sides["change"])
    else:
        if len(a.files) == 1:
            sides = json.load(open(a.files[0]))
            report(sides["parent"], sides["change"])
        else:
            report(json.load(open(a.files[0])), json.load(open(a.files[1])))


if __name__ == "__main__":
    main()
