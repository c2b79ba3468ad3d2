#!/usr/bin/env python3
"""Per-layer diff of traced runs: where did the time go?

    python3 perfbench/diff.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each file is a result record written by a `--trace 1` run
(<build dir>/perfbench/results/<workload>-seed<n>-trace1.json). With
several files on a side, each metric is their median. Prints every
per-layer metric with both values and the delta, then the provenance
of each side, so a change can show which layer its saving sits in.
"""
import json
import statistics
import sys


def load(paths):
    recs = [json.load(open(p)) for p in paths]
    for p, r in zip(paths, recs):
        if not r.get("trace"):
            sys.exit(f"{p} is not a traced run (--trace 1)")
    workloads = {r["workload"] for r in recs}
    if len(workloads) != 1:
        sys.exit(f"mixed workloads on one side: {sorted(workloads)}")
    keys = set.intersection(*(set(r["metrics"]) for r in recs))
    med = {k: statistics.median(r["metrics"][k]["value"] for r in recs) for k in keys}
    units = {k: recs[0]["metrics"][k]["unit"] for k in keys}
    return workloads.pop(), med, units, recs


def main(argv):
    if "--" not in argv or argv.index("--") == 0 or argv.index("--") == len(argv) - 1:
        sys.exit(__doc__)
    i = argv.index("--")
    wa, a, units, ra = load(argv[:i])
    wb, b, _, rb = load(argv[i + 1:])
    if wa != wb:
        sys.exit(f"different workloads: {wa} vs {wb}")
    print(f"workload {wa}: {len(ra)} base run(s), {len(rb)} new run(s)")
    print(f"{'metric':36s} {'unit':6s} {'base':>14s} {'new':>14s} {'delta':>14s} {'delta%':>8s}")
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k), b.get(k)
        if x is None or y is None:
            print(f"{k:36s} {units.get(k, ''):6s} {'-' if x is None else f'{x:14.4f}':>14s} "
                  f"{'-' if y is None else f'{y:14.4f}':>14s}")
            continue
        pct = f"{(y - x) / x * 100:+7.1f}%" if x else "       "
        print(f"{k:36s} {units[k]:6s} {x:14.4f} {y:14.4f} {y - x:+14.4f} {pct}")
    for side, recs in (("base", ra), ("new", rb)):
        for r in recs:
            p = r["provenance"]
            print(f"{side}: commit {p['commit']} source {p['source_digest']} seed {p['seed']} "
                  f"threads {p['worker_threads']}/{p['nproc']} xmx {p['xmx_mb']:.0f} MB {p['jvm']}")


if __name__ == "__main__":
    main(sys.argv[1:])
