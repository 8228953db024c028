#!/usr/bin/env python3
"""Per-layer breakdown of every workload: one untraced and one traced run
each (same seed), written to perfbench/results/.

    python3 perfbench/breakdown.py [--seed 1]

For each workload it records the end-to-end metrics of both runs, the
traced run's per-layer metrics, how each step's wall time divides into the
self time of every traced layer call plus the uncovered remainder, and
the tracing overhead (traced minus untraced median op latency). Runs are
as long as BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    out = {}
    md = ["# Per-layer breakdown", "",
          f"One untraced and one traced run per workload, seed {a.seed}, "
          f"{seconds} s timed phase, `local[4]`. Values are means per "
          "step (one file pipeline, one read, one CDC file, one curation "
          "round) unless the unit is a ratio; the etl row and skip counts "
          "are run totals.", ""]
    for w in a.workloads.split(","):
        plain = run.run_one(w, a.seed, seconds, 0)
        traced = run.run_one(w, a.seed, seconds, 1)
        for r in (plain, traced):
            if r["errors"]:
                raise SystemExit(f"{w}: wrong results: {r['errors'][:3]}")
        main_m, layer_m, accounting = traced["layers"]
        p50 = plain["e2e"]["op_p50_s"][0]
        t50 = traced["e2e"]["op_p50_s"][0]
        wall = sum(accounting.values())
        out[w] = {
            "untraced": {k: v for k, (v, _) in plain["e2e"].items()},
            "traced": {k: v for k, (v, _) in traced["e2e"].items()},
            "steps": {"untraced": plain["attempted"],
                      "traced": traced["attempted"]},
            "per_layer": {k: {"value": v, "unit": u}
                          for k, (v, u) in {**main_m, **layer_m}.items()},
            "self_time_s_per_step": accounting,
            "tracing_overhead_s": t50 - p50,
        }
        md += [f"## {w}", "",
               f"- steps: {plain['attempted']} untraced, "
               f"{traced['attempted']} traced",
               f"- op_p50_s: {p50:.4f} untraced, {t50:.4f} traced: tracing "
               f"overhead {t50 - p50:+.4f} s ({(t50 - p50) / p50:+.1%}) from "
               "one run each, to be read against the run-to-run spread",
               "", "Wall time of a step, by layer self time (mean per step):",
               "", "| span | self s/step | share |", "|---|---|---|"]
        for name, v in sorted(accounting.items(), key=lambda kv: -kv[1]):
            label = "uncovered remainder" if name == "op" else name
            md.append(f"| {label} | {v:.4f} | {v / wall:.1%} |")
        md += ["", "Per-layer metrics:", "", "| metric | value | unit |",
               "|---|---|---|"]
        for k, (v, u) in {**main_m, **layer_m}.items():
            md.append(f"| {k} | {v:.6g} | {u} |")
        md.append("")
    res = os.path.join(HERE, "results")
    os.makedirs(res, exist_ok=True)
    with open(os.path.join(res, "breakdown.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    with open(os.path.join(res, "BREAKDOWN.md"), "w") as f:
        f.write("\n".join(md))
    print("\n".join(md))


if __name__ == "__main__":
    main()
