#!/usr/bin/env python3
"""Rank layers by self time and by Spark jobs, per workload, from traced
run records.

    python3 perfbench/report.py [record.json ...]

With no arguments it reads every `*-trace1.json` under
.perfbench-work/records/ (written by `run.py --trace 1`). Standard library
only.
"""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RECORDS = os.path.join(os.path.dirname(HERE), ".perfbench-work", "records")


def layer_times(rec):
    """(layer, seconds) for the per-call and self-time metrics."""
    out = []
    for name, v in rec.get("layer", {}).items():
        if name.startswith(("spark.", "host.")) or v is None:
            continue
        base, _, metric = name.rpartition(".")
        if metric in ("s", "self_s"):
            out.append((base, v))
    return sorted(out, key=lambda x: -x[1])


def report(rec, out=sys.stdout):
    w = rec["workload"]
    print(f"== {w} (seed {rec.get('seed', '?')}, {rec.get('rounds')} traced round(s), "
          f"{rec.get('cpus', '?')} cores, steal "
          f"{rec.get('layer', {}).get('host.steal_pct', float('nan')):.2f}%)", file=out)
    times = layer_times(rec)
    total = sum(v for _, v in times) or 1.0
    print("  by self time (median per call):", file=out)
    for base, v in times:
        print(f"    {v:9.3f} s  {100 * v / total:5.1f}%  {base}", file=out)
    jobs = sorted(rec.get("layer_jobs", {}).items(), key=lambda x: -x[1])
    print("  by Spark jobs (median per call):", file=out)
    for base, v in jobs:
        print(f"    {v:9.1f}    {base}", file=out)
    spark = {k: v for k, v in rec.get("layer", {}).items() if k.startswith("spark.")}
    if spark:
        print("  scheduler, per round:", file=out)
        for k, v in spark.items():
            print(f"    {v:12.3f}  {k}", file=out)


def main():
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(RECORDS, "*-trace1.json")))
    if not paths:
        print(f"no traced records (run `run.py --trace 1` first; looked in {RECORDS})",
              file=sys.stderr)
        sys.exit(1)
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        rec.setdefault("seed", os.path.basename(p).split("-seed")[-1].split("-")[0])
        report(rec)


if __name__ == "__main__":
    main()
