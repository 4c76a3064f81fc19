#!/usr/bin/env python3
"""Alternating A/B runs of the benchmark in two checkouts.

    python3 tools/ab_bench.py <parent_dir> <change_dir> --workload topic_model \\
        --seed 7 --pairs 10 [--seconds 40]

Each pair runs the checkout's own, unchanged `graftbench/run.py` (trace 0)
once in each directory; the side that goes first alternates from pair to
pair (the parent first in pair 1). Every run's end-to-end metrics are
printed as it finishes. Then, for each end-to-end metric that the parent's
BENCHMARK.json declares, it prints each side's median and quartiles, how
many pairs the change won, the change of the median relative to the parent,
and two verdicts:

  gain     the change won at least 9 of 10 pairs and its median is better
           than the parent's by more than the parent's interquartile range
  bound    the change's median is worse than the parent's by more than the
           metric's `bound`, read as a fraction of the parent's median

A pair where either run failed (no result line) is printed and left out of
the summary. Quartiles are the inclusive-method quartiles of
`statistics.quantiles`. Both checkouts build under their own .bench_build/.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

WIN_SHARE = 0.9


def quartiles(xs):
    """(q1, median, q3) of xs."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def better(a, b, direction):
    """Whether value a is strictly better than value b."""
    return a < b if direction == "lower" else a > b


def summarize(pairs, metrics):
    """Per-metric summary of `pairs`, a list of (parent, change) dicts of
    metric values, for `metrics`, a list of (name, direction, bound)."""
    out = []
    for name, direction, bound in metrics:
        both = [(p[name], c[name]) for p, c in pairs
                if p.get(name) is not None and c.get(name) is not None]
        ps, cs = [p for p, _ in both], [c for _, c in both]
        if not both:
            out.append({"name": name, "n": 0})
            continue
        pq, cq = quartiles(ps), quartiles(cs)
        wins = sum(1 for p, c in zip(ps, cs) if better(c, p, direction))
        diff = cq[1] - pq[1]
        iqr = pq[2] - pq[0]
        sign = -1 if direction == "lower" else 1
        rel = diff / pq[1] if pq[1] else 0.0
        out.append({
            "name": name, "direction": direction, "n": len(ps), "parent": pq, "change": cq,
            "wins": wins, "diff": diff, "iqr": iqr, "rel": rel,
            "gain": wins >= WIN_SHARE * len(ps) and sign * diff > iqr,
            "beyond_bound": bound is not None and -sign * rel > bound,
        })
    return out


def render(summary):
    lines = ["%-20s %-7s %10s %10s %10s" % ("metric", "side", "q1", "median", "q3")]
    for s in summary:
        if s["n"] == 0:
            lines.append("%-20s no pair with both runs" % s["name"])
            continue
        for side in ("parent", "change"):
            q1, med, q3 = s[side]
            lines.append("%-20s %-7s %10.4f %10.4f %10.4f" % (
                s["name"] if side == "parent" else "", side, q1, med, q3))
        lines.append("  %s better; change won %d/%d pairs; median %+.4f (%+.1f%%), "
                     "parent IQR %.4f; gain rule %s; %s" % (
                         s["direction"], s["wins"], s["n"], s["diff"], 100 * s["rel"],
                         s["iqr"], "holds" if s["gain"] else "does not hold",
                         "WORSE BEYOND BOUND" if s["beyond_bound"] else "within bound"))
    return "\n".join(lines)


def declared_metrics(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [(m["name"], m["better"], m.get("bound")) for m in bench["end_to_end"]]


def run_once(checkout, workload, seed, seconds):
    """The metric values of one run, with its pass times under "passes", or
    None when it printed no result."""
    p = subprocess.run([sys.executable, os.path.join("graftbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.splitlines()
    for line in reversed(lines):
        if line.startswith("{"):
            res = json.loads(line)
            vals = {k: v["value"] for k, v in res["metrics"].items()}
            vals["correct"] = res.get("correct")
            vals["passes"] = next((l[len("passes "):] for l in lines if l.startswith("passes ")), "")
            return vals
    sys.stderr.write(p.stderr[-2000:])
    return None


def main(argv=None):
    ap = argparse.ArgumentParser(description="alternating A/B benchmark runs")
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=40)
    a = ap.parse_args(argv)
    metrics = declared_metrics(a.parent_dir)
    sides = {"parent": a.parent_dir, "change": a.change_dir}
    pairs, failed = [], 0
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            got[side] = run_once(sides[side], a.workload, a.seed, a.seconds)
            vals = got[side]
            print("pair %d %-6s %s" % (i + 1, side, "FAILED" if vals is None else "  ".join(
                "%s %.4f" % (n, vals[n]) for n, _, _ in metrics if vals.get(n) is not None)
                + "  correct %s  passes %s" % (vals["correct"], vals["passes"])), flush=True)
        if got["parent"] is None or got["change"] is None:
            failed += 1
        else:
            pairs.append((got["parent"], got["change"]))
    print("%s seed %d: %d pairs, %d left out for a failed run" % (
        a.workload, a.seed, len(pairs), failed))
    print(render(summarize(pairs, metrics)))


if __name__ == "__main__":
    main()
