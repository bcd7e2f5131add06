#!/usr/bin/env python3
"""Same-work check for the per-layer probes.

Compares the JSON rows a `graft.LayerProbes <probes>` run prints on stdout
with the committed BENCH_LAYERS.json and prints, per (probe, phase, scale),
the rows whose deterministic counts differ: `jobs` and `files` always, and
`stages` (which adaptive query execution can move) as well.

    sbt -batch "runMain graft.LayerProbes cow dv" > /tmp/layers.out
    python3 tools/layers_diff.py /tmp/layers.out

Lines of the run output that are not JSON rows are skipped. A run row with
no committed counterpart (a phase added since) is listed as new. Exits 1
when any row differs, 0 otherwise.
"""
import json
import sys

FIELDS = ("jobs", "stages", "files")
REF = "BENCH_LAYERS.json"


def key(r):
    return (r["probe"], r["phase"], r["scale"])


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    run = {}
    with open(argv[1]) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if {"probe", "phase", "scale"} <= r.keys():
                run[key(r)] = r
    if not run:
        sys.exit(f"no probe rows in {argv[1]}")
    with open(REF) as f:
        ref = {key(r): r for r in json.load(f)}
    differ = new = 0
    for k in sorted(run, key=str):
        probe, phase, scale = k
        old = ref.get(k)
        if old is None:
            print(f"{probe}/{phase}@{scale}x: new, not in {REF}")
            new += 1
            continue
        diffs = [f"{f} {old[f]} -> {run[k][f]}" for f in FIELDS
                 if old.get(f) != run[k].get(f)]
        if diffs:
            print(f"{probe}/{phase}@{scale}x: " + ", ".join(diffs))
            differ += 1
    print(f"{len(run)} rows, {len(run) - new} compared with {REF}, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
