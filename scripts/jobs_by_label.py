#!/usr/bin/env python3
"""Attribute a traced perfbench run's Spark jobs to spans and job labels.

Reads the record and span files a `perfbench/run.py --trace 1` run copies
to `.bench_build/trace/<workload>-record.json` and `-spans.jsonl`, and
prints, for the timed ops, the jobs and job-ms per (innermost span that
holds the job's start) x (job description). Descriptions that do not start
with `graft:` fall in the `unlabeled` bucket. Counts are totals and per
timed op.

    python3 scripts/jobs_by_label.py etl_daily
    python3 scripts/jobs_by_label.py etl_daily --dir .bench_build/trace
"""
import argparse
import collections
import json
import os


def load(trace_dir, workload):
    with open(os.path.join(trace_dir, f"{workload}-record.json")) as f:
        rec = json.load(f)
    with open(os.path.join(trace_dir, f"{workload}-spans.jsonl")) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    return rec, spans


def innermost(spans, t_ms):
    """The shortest span whose interval holds `t_ms`, or None."""
    best = None
    for sp in spans:
        if sp["start_ms"] <= t_ms <= sp["end_ms"]:
            if best is None or (sp["end_ms"] - sp["start_ms"] <
                                best["end_ms"] - best["start_ms"]):
                best = sp
    return best


def attribute(rec, spans):
    """((span name, label) -> [jobs, job ms], number of timed ops)."""
    timed = {o["idx"] for o in rec["ops"] if o["phase"] == "timed"}
    timed_spans = [sp for sp in spans if sp["op"] in timed]
    cells = collections.defaultdict(lambda: [0, 0.0])
    for start, end, label in rec["jobs"]:
        sp = innermost(timed_spans, start)
        if sp is None:
            continue
        key = (sp["name"], label if label.startswith("graft:") else "unlabeled")
        cells[key][0] += 1
        cells[key][1] += end - start
    return cells, len(timed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload")
    ap.add_argument("--dir", default=os.path.join(".bench_build", "trace"))
    args = ap.parse_args()
    rec, spans = load(args.dir, args.workload)
    cells, n = attribute(rec, spans)
    if not n:
        raise SystemExit("no timed ops in the record")
    print(f"{args.workload}: {n} timed ops, "
          f"{sum(c[0] for c in cells.values())} jobs in timed spans")
    print(f"{'span':<28} {'label':<44} {'jobs':>6} {'/op':>7} "
          f"{'job_ms':>9} {'ms/op':>8}")
    for (name, label), (jobs, ms) in sorted(
            cells.items(), key=lambda kv: (kv[0][0], -kv[1][1])):
        print(f"{name:<28} {label:<44} {jobs:>6} {jobs / n:>7.2f} "
              f"{ms:>9.0f} {ms / n:>8.1f}")


if __name__ == "__main__":
    main()
