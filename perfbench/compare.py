#!/usr/bin/env python3
"""Summarize one set of benchmark runs, or compare two.

    python3 perfbench/compare.py PARENT.jsonl [CHANGE.jsonl]

Each file holds one run record per line, as `perfbench/run.py --results`
appends them. Each record carries one median per metric, so a set of
runs gives a distribution per (workload, metric); the table shows its
median, first and third quartile and sample count.

One set: the spread is the quartile distance as a share of the median,
next to the metric's bound in BENCHMARK.json. A steady metric's spread
is below a third of its bound ("steady").

Two sets: runs are paired by (workload, seed), or by order where the
seeds differ. The verdict per (workload, metric) follows the repo's
measuring rules:
  improved    the change wins at least 9/10 of the pairs (ties count
              for neither) and the medians differ by more than the
              parent's quartile distance, in the better direction;
  regressed   the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's own spread is wider than the bound and not
              every change run beats every parent run, or the metric has
              no bound (per-layer) and did not pass the pair rule;
  within      otherwise: no worse than the bound allows.
"""
import json
import os
import statistics
import sys

BENCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                     "BENCHMARK.json")


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def declared():
    with open(BENCH) as fh:
        b = json.load(fh)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def series(records):
    """{(workload, metric): [(seed, value), ...]} in file order."""
    out = {}
    for r in records:
        for name, m in r["metrics"].items():
            if m["value"] is not None:
                out.setdefault((r["workload"], name), []).append((r["seed"], m["value"]))
    return out


def fmt(x):
    return f"{x:.4g}"


def summarize(records, meta):
    print("workload\tmetric\tunit\tn\tmedian\tq1\tq3\tspread\tbound\tverdict")
    for (w, name), pts in sorted(series(records).items()):
        xs = [v for _, v in pts]
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / abs(med) if med else float("inf")
        bound = meta.get(name, {}).get("bound")
        verdict = "-" if bound is None else ("steady" if spread < bound / 3 else "unsteady")
        print("\t".join([w, name, meta.get(name, {}).get("unit", "?"), str(len(xs)),
                         fmt(med), fmt(q1), fmt(q3), f"{spread:.3f}",
                         "-" if bound is None else str(bound), verdict]))


def pairs(a, b):
    by_seed = dict(b)
    if all(s in by_seed for s, _ in a):
        return [(va, by_seed[s]) for s, va in a]
    return [(va, vb) for (_, va), (_, vb) in zip(a, b)]


def verdict(a, b, meta):
    lower = meta.get("better", "lower") == "lower"
    bound = meta.get("bound")
    xa, xb = [v for _, v in a], [v for _, v in b]
    qa1, ma, qa3 = quartiles(xa)
    _, mb, _ = quartiles(xb)
    better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
    ps = pairs(a, b)
    wins = sum(1 for va, vb in ps if better(vb, va))
    if ps and wins >= 0.9 * len(ps) and abs(mb - ma) > (qa3 - qa1) and better(mb, ma):
        return "improved", wins, len(ps)
    if bound is None:
        return "unresolved", wins, len(ps)
    worse = (mb - ma) / abs(ma) if lower else (ma - mb) / abs(ma)
    if worse > bound:
        return "regressed", wins, len(ps)
    if (qa3 - qa1) / abs(ma) > bound and not all(better(y, x) for x in xa for y in xb):
        return "unresolved", wins, len(ps)
    return "within", wins, len(ps)


def compare(ra, rb, meta):
    sa, sb = series(ra), series(rb)
    print("workload\tmetric\tunit\tn_a\tmed_a\tq1_a\tq3_a\tn_b\tmed_b\tq1_b\tq3_b"
          "\tdelta\twins\tverdict")
    for key in sorted(set(sa) & set(sb)):
        w, name = key
        m = meta.get(name, {})
        xa, xb = [v for _, v in sa[key]], [v for _, v in sb[key]]
        qa1, ma, qa3 = quartiles(xa)
        qb1, mb, qb3 = quartiles(xb)
        v, wins, n = verdict(sa[key], sb[key], m)
        delta = (mb - ma) / abs(ma) if ma else float("nan")
        print("\t".join([w, name, m.get("unit", "?"), str(len(xa)), fmt(ma), fmt(qa1),
                         fmt(qa3), str(len(xb)), fmt(mb), fmt(qb1), fmt(qb3),
                         f"{delta:+.3f}", f"{wins}/{n}", v]))


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    meta = declared()
    if len(sys.argv) == 2:
        summarize(load(sys.argv[1]), meta)
    else:
        compare(load(sys.argv[1]), load(sys.argv[2]), meta)


if __name__ == "__main__":
    main()
