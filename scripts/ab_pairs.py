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
of the medians, the number of pairs in which the change was better (the
direction comes from the parent's BENCHMARK.json) and a verdict, then each
side's runs, failed runs and failed ops. ``--out`` appends one JSON line per
run. ``--from pairs.jsonl`` prints the same report, per workload, for runs
already written there, and runs nothing.

The verdicts:
  claim met      over at least 10 pairs, the change is better in at least
                 9/10 of them (ties count for neither side), and the medians
                 differ, in the better direction, by more than the parent's
                 IQR;
  unresolved     an end-to-end metric whose IQR/median, on either side, is
                 wider than its BENCHMARK.json bound, unless every change run
                 is better than every parent run;
  no regression  the change's median is within the bound of the parent's;
  REGRESSION     it is worse than the parent's by more than the bound.
A per-layer metric has no bound, so it gets a verdict only if the claim is
met.
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


def verdict(p, c, wins, pairs, better, bound):
    """The verdict on one metric from its parent and change runs (see the
    module docstring); wins counts the pairs the change won."""
    sign = 1 if better == "lower" else -1
    pm, pq1, pq3 = quartiles(p)
    cm, cq1, cq3 = quartiles(c)
    won = pairs and wins >= 0.9 * pairs and sign * (pm - cm) > pq3 - pq1
    if won and pairs >= 10:
        return "claim met"
    note = " (won, but a claim needs 10 pairs)" if won else ""
    if bound is None:
        return note.strip(" ()") or "-"
    spread = max((pq3 - pq1) / abs(pm) if pm else 0.0, (cq3 - cq1) / abs(cm) if cm else 0.0)
    all_better = (max(c) < min(p)) if better == "lower" else (min(c) > max(p))
    if spread > bound and not all_better:
        return "unresolved" + note
    worse = sign * (cm - pm) / abs(pm) if pm else 0.0
    return ("no regression" if worse <= bound else "REGRESSION") + note


def report(workload, runs, spec):
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    def values(side, name):
        return [r["metrics"][name]["value"] for r in runs[side] if name in r["metrics"]]

    sides = runs["parent"] + runs["change"]
    seeds = sorted({r["seed"] for r in sides})
    print(f"{workload}: {len(runs['parent'])} parent and {len(runs['change'])} change runs, "
          f"seeds {','.join(map(str, seeds))}")
    print(f"{'metric':28} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} "
          f"{'ratio':>7} {'change better':>13}  verdict")
    by_pair = {s: {(r.get("batch"), r["pair"]): r for r in runs[s]} for s in ("parent", "change")}
    pairs = sorted(set(by_pair["parent"]) & set(by_pair["change"]))
    for name in (m for m in better if values("parent", m) or values("change", m)):
        cells = []
        for side in ("parent", "change"):
            xs = values(side, name)
            cells.append("%.4g [%.4g, %.4g]" % quartiles(xs) if xs else "-")
        p, c = values("parent", name), values("change", name)
        ratio = statistics.median(c) / statistics.median(p) if p and c and statistics.median(p) else None
        wins = []
        for i in pairs:
            x = by_pair["parent"][i]["metrics"].get(name, {}).get("value")
            y = by_pair["change"][i]["metrics"].get(name, {}).get("value")
            if x is not None and y is not None:
                wins.append((y < x) if better[name] == "lower" else (y > x))
        v = verdict(p, c, sum(wins), len(wins), better[name], bounds.get(name)) if p and c else "-"
        print(f"{name:28} {cells[0]:>34} {cells[1]:>34} "
              f"{'%.3f' % ratio if ratio is not None else '-':>7} "
              f"{'%d/%d' % (sum(wins), len(wins)):>13}  {v}")
    for side in ("parent", "change"):
        rs = runs[side]
        print(f"{side}: {len(rs)} runs, {sum(1 for r in rs if not r['correct'])} not correct, "
              f"{sum(r['failed'] for r in rs)} failed of {sum(r['attempted'] for r in rs)} ops")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="parent checkout dir")
    ap.add_argument("--change", help="changed checkout dir")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seeds", type=seed_range, help="e.g. 1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append one JSON line per run here")
    ap.add_argument("--from", dest="src", help="report the runs of this jsonl; run nothing")
    args = ap.parse_args()

    if args.src:
        spec_dir = args.parent or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(spec_dir, "BENCHMARK.json")) as f:
            spec = json.load(f)
        groups = {}
        with open(args.src) as f:
            for line in f:
                if line.strip():
                    r = json.loads(line)
                    key = (r["workload"], r.get("trace", 0))
                    groups.setdefault(key, {"parent": [], "change": []})[r["side"]].append(r)
        for i, ((workload, trace), runs) in enumerate(sorted(groups.items())):
            if i:
                print()
            report(f"{workload} (trace {trace})", runs, spec)
        return

    for flag in ("parent", "change", "workload", "pairs", "seeds"):
        if getattr(args, flag) is None:
            ap.error(f"--{flag} is required unless --from is given")
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for d in sides.values():
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = {"parent": [], "change": []}
    batch = time.strftime("%Y%m%dT%H%M%S")  # keys the pairs of this invocation in --out
    for i in range(args.pairs):
        seed = args.seeds[i % len(args.seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds, args.trace)
            res.update(side=side, batch=batch, pair=i, seed=seed, workload=args.workload,
                       trace=args.trace)
            runs[side].append(res)
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            print(f"pair {i} seed {seed} {side}: failed {res['failed']}/{res['attempted']} "
                  f"{res.get('error', '')}{json.dumps(vals) if vals else ''}",
                  file=sys.stderr, flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(res) + "\n")
    print(f"{args.workload}: {args.pairs} pairs, {args.seconds:g} s runs")
    report(args.workload, runs, spec)


if __name__ == "__main__":
    main()
