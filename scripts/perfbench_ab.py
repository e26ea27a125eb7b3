#!/usr/bin/env python3
"""Alternating-order A/B of two checkouts on one perfbench workload.

    python3 scripts/perfbench_ab.py <parentDir> <changeDir> \
        --workload ais_stream --seeds 41 42 43 ... [--seconds 20] \
        [--out ab.jsonl] [--claim wall_s]
    python3 scripts/perfbench_ab.py --summarize ab.jsonl [--claim wall_s]

Each seed is one pair: `perfbench/run.py` runs once in each checkout,
the parent first on even pairs and the change first on odd ones, so a
host that drifts faster or slower over time favours neither side.
Every run appends one JSON line to `--out` as it finishes, so an
interrupted A/B keeps what it measured and `--summarize` rebuilds the
table.

The summary gives, for each end-to-end metric of the parent's
BENCHMARK.json, both sides' medians and quartiles, the parent's spread
(its interquartile range), the change's pair wins (ties count for
neither side) and the median's relative move against the metric's
bound. A `--claim`ed metric is flagged unless the change wins at least
nine tenths of the pairs and its median beats the parent's by more than
the parent's interquartile range.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method; one sample is its own
    spread-free quartiles."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better(a, b, direction):
    """True when `a` is strictly better than `b`."""
    return a < b if direction == "lower" else a > b


def summarize(pairs, metrics, claim=None):
    """Per-metric summary over `pairs`, a list of (parent, change) metric
    dicts, for `metrics`, a list of BENCHMARK.json end_to_end entries.
    Returns a list of dicts, one per metric present on both sides."""
    rows = []
    for m in metrics:
        name, direction = m["name"], m["better"]
        both = [(p[name], c[name]) for p, c in pairs
                if name in p and name in c]
        if not both:
            continue
        par = [p for p, _ in both]
        chg = [c for _, c in both]
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(better(c, p, direction) for p, c in both)
        losses = sum(better(p, c, direction) for p, c in both)
        iqr = pq3 - pq1
        gap = (pmed - cmed) if direction == "lower" else (cmed - pmed)
        rel = (cmed - pmed) / pmed if pmed else 0.0
        worse_by = rel if direction == "lower" else -rel
        row = {"metric": name, "n": len(both),
               "parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
               "parent_iqr": iqr, "gap": gap, "rel": rel,
               "wins": wins, "losses": losses,
               "bound": m.get("bound"),
               "within_bound": m.get("bound") is None
               or worse_by <= m["bound"]}
        if name == claim:
            row["claim_ok"] = (wins >= math.ceil(0.9 * len(both))
                               and gap > iqr)
        rows.append(row)
    return rows


def pairs_from(records):
    """(parent, change) metric dicts per pair, from JSONL records, in
    pair order; a pair missing a side or a correct run is left out."""
    by = {}
    for r in records:
        by.setdefault(r["pair"], {})[r["side"]] = r
    out = []
    for k in sorted(by):
        p, c = by[k].get("parent"), by[k].get("change")
        if p and c and p["correct"] and c["correct"]:
            out.append((p["metrics"], c["metrics"]))
    return out


def report(records, metrics, claim):
    pairs = pairs_from(records)
    fails = [(r["side"], r["seed"]) for r in records
             if not r["correct"] or r["failed"]]
    print(f"{len(pairs)} complete pairs; runs with a failed gate or op: "
          f"{fails or 'none'}")
    flagged = False
    for r in summarize(pairs, metrics, claim):
        pq, cq = r["parent"], r["change"]
        line = (f"{r['metric']:>12}: parent {pq[1]:.4g} [{pq[0]:.4g}-"
                f"{pq[2]:.4g}] -> change {cq[1]:.4g} [{cq[0]:.4g}-"
                f"{cq[2]:.4g}]  {r['rel']:+.1%}  change better in "
                f"{r['wins']}/{r['n']} (worse in {r['losses']})  parent "
                f"IQR {r['parent_iqr']:.4g}")
        if not r["within_bound"]:
            line += f"  OUTSIDE BOUND {r['bound']}"
            flagged = True
        if "claim_ok" in r:
            line += ("  claim holds" if r["claim_ok"] else
                     "  CLAIM NOT MET (needs >= 9/10 wins and a median "
                     "gap above the parent's IQR)")
            flagged |= not r["claim_ok"]
        print(line)
    return 1 if flagged or fails else 0


def run_one(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-3000:])
        last = {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}
    metrics = {k: v["value"] for k, v in last["metrics"].items()}
    return {"correct": bool(last["correct"]) and proc.returncode == 0,
            "attempted": last["attempted"], "failed": last["failed"],
            "metrics": metrics,
            "report": lines[-2] if len(lines) > 1 else ""}


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("dirs", nargs="*", metavar="DIR",
                    help="parent checkout, then change checkout")
    ap.add_argument("--workload", choices=["batch", "ais_stream"])
    ap.add_argument("--seeds", type=int, nargs="+", default=[])
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", default="perfbench_ab.jsonl")
    ap.add_argument("--claim", help="the end-to-end metric claimed better")
    ap.add_argument("--summarize", metavar="JSONL",
                    help="only summarize an earlier run's JSONL")
    ap.add_argument("--benchmark", default=None,
                    help="BENCHMARK.json for the metric list (default: "
                         "the parent's, else this checkout's)")
    args = ap.parse_args(argv)

    bench = args.benchmark or os.path.join(
        args.dirs[0] if args.dirs else os.getcwd(), "BENCHMARK.json")
    with open(bench) as f:
        metrics = json.load(f)["end_to_end"]

    if args.summarize:
        with open(args.summarize) as f:
            records = [json.loads(l) for l in f if l.strip()]
        return report(records, metrics, args.claim)

    if len(args.dirs) != 2 or not args.workload or not args.seeds:
        ap.error("need <parentDir> <changeDir> --workload W --seeds ...")
    sides = {"parent": os.path.abspath(args.dirs[0]),
             "change": os.path.abspath(args.dirs[1])}
    records = []
    for i, seed in enumerate(args.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_one(sides[side], args.workload, seed, args.seconds)
            r.update(pair=i, seed=seed, side=side, workload=args.workload,
                     first=order[0])
            records.append(r)
            with open(args.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"pair {i} seed {seed} {side}: correct={r['correct']} "
                  f"{r['metrics']}", flush=True)
    return report(records, metrics, args.claim)


if __name__ == "__main__":
    sys.exit(main())
