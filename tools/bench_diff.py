#!/usr/bin/env python3
"""Per-query bench diff between two committed bench JSON files.

Usage: python3 tools/bench_diff.py bench_results/bench_r8.json bench_results/bench_r9.json [threshold]

Prints queries whose time changed by more than `threshold`, plus the
totals. Since r14 each query row is an object {"sec": wall, "cpu_sec":
cpu, "run_sec": run}; when BOTH files carry cpu_sec the diff compares
CPU seconds (load-independent — the r13 verdict #3 fix for
ambient-load re-adjudication), otherwise it falls back to wall seconds
so older number-valued files still compare.

Default thresholds encode the measured noise model (BASELINE.md "CPU
noise model"): calm-host cpu_sec repeats within ±3.6% on the same
tree, but heavy co-tenancy inflates REAL cpu (cache contention / GC) —
the r14 contended run read +54% queries_cpu_total vs the calm band. So
on the cpu basis only a >1.3x per-query move is flagged as a
regression; anything below that is counted (and, with --noise, listed)
as noise, not reported as movement. Wall keeps the historical 1.5x.
Sub-100ms rows are ignored on either basis — scheduling noise
dominates them. The scalar tier rows (TIERS) are diffed by their wall
time, and every top-level field present in only one file is listed, so
a tier the bench stopped emitting shows as REMOVED. Exit code 0 always — this is a diagnostic, the
correctness gate is check_oracle.py.
"""
import json
import sys

CPU_THR = 1.3   # calm-host cpu band is ±3.6%; 1.3x is far outside it
WALL_THR = 1.5  # wall swings with ambient load — keep the looser gate

# graft.Bench's scalar tier rows and the field holding each one's time
TIERS = {
    "layout_bench": "layout_time",
    "dataset_bench": "layout_time",
    "dataset_bench_distributed": "layout_time",
    "centralities_distributed": "time",
    "ic_distributed": "time",
}

def load(p):
    # Bench emits two JSON lines since r12 (per-query totals + a
    # summary line carrying medians/loadavg); pick the line that
    # actually has the per-query map.
    with open(p) as f:
        lines = [json.loads(l) for l in f.read().strip().splitlines()]
    for j in reversed(lines):
        if j.get("queries"):
            return j
    return lines[-1]

def wall(v):
    return v.get("sec") if isinstance(v, dict) else v

def cpu(v):
    return v.get("cpu_sec") if isinstance(v, dict) else None

def tier_time(j, name):
    row = j.get(name)
    return row.get(TIERS[name]) if isinstance(row, dict) else None

def diff_tiers(a, b):
    print(f"tiers (wall, threshold {WALL_THR:.2f}x):")
    for name in TIERS:
        ta, tb = tier_time(a, name), tier_time(b, name)
        if ta is None or tb is None:
            continue  # a missing row is listed with the one-sided fields
        flag = ""
        if max(ta, tb) >= 0.1 and (tb > ta * WALL_THR or ta > tb * WALL_THR):
            flag = "  SLOWER" if tb > ta else "  FASTER"
        ratio = f"{tb / ta:5.2f}x" if ta > 0 else "  infx"
        print(f"  {name:<28} {ta:8.2f}s -> {tb:8.2f}s ({ratio}){flag}")
    for key in sorted(set(a) ^ set(b)):
        print(f"  {'REMOVED' if key in a else 'NEW':<7} field {key}")

def main():
    args = [a for a in sys.argv[1:] if a != "--noise"]
    show_noise = "--noise" in sys.argv[1:]
    a, b = load(args[0]), load(args[1])
    qa, qb = a.get("queries", {}), b.get("queries", {})
    shared = set(qa) & set(qb)
    use_cpu = shared and all(
        cpu(qa[n]) is not None and cpu(qb[n]) is not None for n in shared)
    basis = "cpu_sec" if use_cpu else "sec (wall)"
    val = cpu if use_cpu else wall
    thr = float(args[2]) if len(args) > 2 else (
        CPU_THR if use_cpu else WALL_THR)
    print(f"basis: {basis}  threshold: {thr:.2f}x")
    print(f"total: {a.get('core_total', a.get('value')):.1f}s "
          f"({len(qa)} queries) -> {b.get('core_total', b.get('value')):.1f}s "
          f"({len(qb)} queries)")
    if "queries_cpu_total" in a or "queries_cpu_total" in b:
        print(f"queries_cpu_total: {a.get('queries_cpu_total', float('nan')):.1f}s"
              f" -> {b.get('queries_cpu_total', float('nan')):.1f}s")
    diff_tiers(a, b)
    noise = []
    for name in sorted(set(qa) | set(qb)):
        ta = val(qa[name]) if name in qa else None
        tb = val(qb[name]) if name in qb else None
        if ta is None and tb is None:
            continue
        if ta is None:
            print(f"  NEW     {name:<28} {tb:8.2f}s")
        elif tb is None:
            print(f"  REMOVED {name:<28} {ta:8.2f}s")
        elif max(ta, tb) >= 0.1 and (tb > ta * thr or ta > tb * thr):
            ratio = f"{tb / ta:5.2f}x" if ta > 0 else "  infx"
            print(f"  {'SLOWER' if tb > ta else 'FASTER':<7} {name:<28} "
                  f"{ta:8.2f}s -> {tb:8.2f}s ({ratio})")
        elif max(ta, tb) >= 0.1 and ta > 0 and max(tb / ta, ta / tb) > 1.05:
            noise.append((name, ta, tb))
    if noise:
        band = "calm-host cpu band" if use_cpu else "ambient wall noise"
        print(f"  {len(noise)} sub-threshold mover(s) within the "
              f"{band} — noise, not movement"
              + ("" if show_noise else " (--noise to list)"))
        if show_noise:
            for name, ta, tb in noise:
                print(f"  noise   {name:<28} {ta:8.2f}s -> {tb:8.2f}s "
                      f"({tb / ta:5.2f}x)")

if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:
        pass
