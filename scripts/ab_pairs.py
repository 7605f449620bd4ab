#!/usr/bin/env python3
"""A/B pairs of perfbench runs: a parent checkout against a changed one.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload lp_communities --pairs 10 --seeds 1-10 [--seconds 12] \\
        [--trace 0] [--out pairs.jsonl]

Each pair runs ``perfbench/run.py`` once in each checkout with the same
seed, one JVM at a time; the side that goes first alternates from pair to
pair, so a drift of the host over the session loads both sides alike.
Seeds are taken from the range in turn. The script only reads each
checkout's ``perfbench/`` and ``BENCHMARK.json``; the runs build into the
checkout's own build dir as ``perfbench/run.py`` always does.

It prints, per metric, each side's median [q1, q3], the change/parent ratio
of the medians and the number of pairs in which the change was better (the
direction comes from the parent's BENCHMARK.json), then each side's runs,
failed runs and failed ops. ``--out`` appends one JSON line per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seed_range(text):
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run; its last stdout line is the result JSON."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = p.stderr.strip().splitlines()[-3:]
        res = {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
               "error": f"exit {p.returncode}: {' | '.join(tail)}"}
    res["elapsed_s"] = round(time.monotonic() - t0, 1)
    return res


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout dir")
    ap.add_argument("--change", required=True, help="changed checkout dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", type=seed_range, required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append one JSON line per run here")
    args = ap.parse_args()
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for d in sides.values():
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}

    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seeds[i % len(args.seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            res.update(side=side, pair=i, seed=seed, workload=args.workload)
            runs[side].append(res)
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            print(f"pair {i} seed {seed} {side}: failed {res['failed']}/{res['attempted']} "
                  f"{res.get('error', '')}{json.dumps(vals) if vals else ''}",
                  file=sys.stderr, flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(res) + "\n")

    def values(side, name):
        return [r["metrics"][name]["value"] for r in runs[side] if name in r["metrics"]]

    names = [m for m in better if values("parent", m) or values("change", m)]
    print(f"{args.workload}: {args.pairs} pairs, seeds {args.seeds[0]}-{args.seeds[-1]}, "
          f"{args.seconds:g} s runs, trace {args.trace}")
    print(f"{'metric':28} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
          f"{'ratio':>7} {'change better':>13}")
    for name in names:
        cells = []
        for side in ("parent", "change"):
            xs = values(side, name)
            cells.append("%.4g [%.4g, %.4g]" % quartiles(xs) if xs else "-")
        p, c = values("parent", name), values("change", name)
        ratio = statistics.median(c) / statistics.median(p) if p and c and statistics.median(p) else None
        wins = [(y < x) if better[name] == "lower" else (y > x)
                for x, y in zip(*[[r["metrics"].get(name, {}).get("value") for r in runs[s]]
                                  for s in ("parent", "change")])
                if x is not None and y is not None]
        print(f"{name:28} {cells[0]:>34} {cells[1]:>34} "
              f"{'%.3f' % ratio if ratio is not None else '-':>7} "
              f"{'%d/%d' % (sum(wins), len(wins)):>13}")
    for side in ("parent", "change"):
        rs = runs[side]
        print(f"{side}: {len(rs)} runs, {sum(1 for r in rs if not r['correct'])} not correct, "
              f"{sum(r['failed'] for r in rs)} failed of {sum(r['attempted'] for r in rs)} ops")


if __name__ == "__main__":
    main()
