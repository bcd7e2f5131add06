#!/usr/bin/env python3
"""A/B of the pipeline benchmark between two checkouts.

    python3 tools/perf_ab.py --parent DIR --change DIR --workload W --seeds A-B

Runs `python3 perfbench/run.py --workload W --seed N --trace 0` in both
checkouts for every seed N in A..B (a list like `971-974,981` also works),
one pair per seed. Pairs alternate which side runs first: the parent on
the first, third, ... pair, the change on the others. Each run's last
stdout line (its JSON result) is kept and echoed on stderr as it lands.

Then, per end-to-end metric of the change's BENCHMARK.json, it prints each
side's median [Q1, Q3], the change/parent ratio of the medians, how many
pairs the change won (ties count for neither), and whether a gain holds by
the rule the benchmark's claims use: the change wins at least 9/10 of the
pairs and the medians differ, in the metric's better direction, by more
than the parent's interquartile range. Runs that were incorrect, had failed
operations or were stamped invalid are counted per side.

Both checkouts build themselves on their first run (perfbench/.work/). The
tool writes nothing itself; the benchmark's own work dirs are its only
output on disk. Exits 2 when a run prints no JSON result.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
import stats  # noqa: E402  (perfbench/stats.py: the benchmark's own percentiles)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed):
    p = subprocess.run(["python3", "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.splitlines()
    last = next((l for l in reversed(lines) if l.startswith("{")), None)
    if last is None:
        sys.exit("no JSON result from %s seed %d (exit %d)" % (checkout, seed, p.returncode))
    r = json.loads(last)
    stamp = next((l for l in lines if l.startswith("stamp ")), None)
    r["valid"] = bool(stamp and json.loads(stamp[len("stamp "):]).get("valid"))
    return r


def quartiles(xs):
    return [stats.percentile(xs, p) for p in (25, 50, 75)]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]

    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], a.workload, seed)
            runs[side].append(r)
            print("pair %d seed %d %s: %s" % (i + 1, seed, side, json.dumps(r)),
                  file=sys.stderr, flush=True)

    n = len(a.seeds)
    print("workload %s, %d pairs, seeds %s" % (a.workload, n, ",".join(map(str, a.seeds))))
    for side in ("parent", "change"):
        rs = runs[side]
        print("%-6s incorrect %d, with failed operations %d, invalid %d"
              % (side, sum(not r["correct"] for r in rs), sum(r["failed"] > 0 for r in rs),
                 sum(not r["valid"] for r in rs)))
    print("%-22s %-30s %-30s %7s %6s %s" % ("metric", "parent median [Q1, Q3]",
                                            "change median [Q1, Q3]", "ratio", "wins", "gain"))
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        holds = 10 * wins >= 9 * n and gap > pq[2] - pq[0]
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        print("%-22s %-30s %-30s %6.3fx %3d/%-2d %s" % (
            name, "%.4g [%.4g, %.4g]" % (pq[1], pq[0], pq[2]),
            "%.4g [%.4g, %.4g]" % (cq[1], cq[0], cq[2]), ratio, wins, n,
            "holds" if holds else "no"))


if __name__ == "__main__":
    main()
