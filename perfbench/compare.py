#!/usr/bin/env python3
"""Run-to-run spread and paired parent/change comparison.

Spread of one tree over several seeds (the benchmark's steadiness check):

    python3 perfbench/compare.py spread --workload cdc_stream --seeds 1-10

Paired comparison of two checkouts, alternating which side runs first, the
same seed on both sides of a pair:

    python3 perfbench/compare.py pair --base ../parent --change . \\
        --workload etl_daily --pairs 10

For each end-to-end metric it reports each side's median and quartiles,
the change's win fraction over the pairs (ties count for neither side),
and a verdict: "gain" when there are at least ten pairs, the change wins
at least nine tenths of them, the medians differ by more than the
parent's quartile spread, and the change fails no more ops than the
parent; "regression" when the change's median is worse
than the parent's by more than the metric's bound; "unresolved" when
either side's spread exceeds the bound and not every change run beats
every parent run; otherwise "within bound". Claims should also hold on HELDOUT_SEED, a seed no change was
tuned on.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import quartile_spread as spread, quartiles  # noqa: E402

HELDOUT_SEED = 9001


def bench_spec(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        return json.load(f)


def run(tree, workload, seed, seconds):
    """One untraced benchmark run in `tree`; returns its JSON result
    line."""
    r = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed in {tree}: {workload} seed {seed}")
    return json.loads(lines[-1])


def parse_seeds(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def cmd_spread(a):
    spec = bench_spec(a.tree)
    results = []
    for s in parse_seeds(a.seeds):
        res = run(a.tree, a.workload, s, spec["run_seconds"])
        results.append(res)
        print(f"seed {s}: ops={res['attempted']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
    print(f"\n{a.workload}: {len(results)} runs")
    ok = True
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        sp = spread(vals)
        target = m["bound"] / 3
        flag = "" if sp < target else "  WIDE"
        ok = ok and not flag
        print(f"  {m['name']:14s} median {med:10.4g}  q1 {q1:10.4g}  "
              f"q3 {q3:10.4g}  spread {sp:6.3f}  bound {m['bound']}{flag}")
    return 0 if ok else 1


def better(m, x, y):
    """Whether x is better than y for metric spec m."""
    return x < y if m["better"] == "lower" else x > y


def cmd_pair(a):
    spec = bench_spec(a.change)
    base, change = [], []
    for i in range(a.pairs):
        seed = a.seed + i
        order = [("base", a.base), ("change", a.change)]
        if i % 2:
            order.reverse()
        for side, tree in order:
            res = run(tree, a.workload, seed, spec["run_seconds"])
            (base if side == "base" else change).append(res)
        print(f"pair {i + 1}/{a.pairs} done (seed {seed}, "
              f"{order[0][0]} first)", flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs, base {a.base}, change {a.change}")
    # a change that fails more ops than its parent gains nothing: its
    # failed steps are not in its latencies
    more_failed = (sum(r["failed"] for r in change) -
                   sum(r["failed"] for r in base))
    for m in spec["end_to_end"]:
        name = m["name"]
        b = [r["metrics"][name]["value"] for r in base]
        c = [r["metrics"][name]["value"] for r in change]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum(1 for x, y in zip(c, b) if better(m, x, y))
        losses = sum(1 for x, y in zip(c, b) if better(m, y, x))
        b_iqr = bq[2] - bq[0]
        worse = (cq[1] - bq[1]) / bq[1]
        if m["better"] == "higher":
            worse = -worse
        all_better = all(better(m, x, y) for x in c for y in b)
        if (wins >= 0.9 * a.pairs and abs(cq[1] - bq[1]) > b_iqr and
                a.pairs >= 10 and more_failed <= 0):
            verdict = "gain"
        elif worse > m["bound"]:
            verdict = "regression"
        elif max(spread(b), spread(c)) > m["bound"] and not all_better:
            verdict = "unresolved"
        else:
            verdict = "within bound"
        print(f"  {name:14s} base {bq[1]:10.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
              f"change {cq[1]:10.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
              f"wins {wins}/{a.pairs} (losses {losses})  "
              f"change {worse:+.3f} worse  {verdict}")
    if more_failed > 0:
        print(f"  change failed {more_failed} more ops than base: "
              f"no metric is a gain")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread", help="run-to-run spread over seeds")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    sp.add_argument("--tree", default=os.path.dirname(HERE))
    pp = sub.add_parser("pair", help="paired parent/change comparison")
    pp.add_argument("--base", required=True)
    pp.add_argument("--change", required=True)
    pp.add_argument("--workload", required=True)
    pp.add_argument("--pairs", type=int, default=10)
    pp.add_argument("--seed", type=int, default=100,
                    help="seed of the first pair; pair i uses seed + i")
    a = ap.parse_args()
    sys.exit(cmd_spread(a) if a.cmd == "spread" else cmd_pair(a))


if __name__ == "__main__":
    main()
