#!/usr/bin/env python3
"""Summarize or compare benchmark result files.

    python3 perfbench/compare.py A.jsonl            # one side: medians and spread
    python3 perfbench/compare.py A.jsonl B.jsonl    # A (base) against B (change)

Each file holds result records, one JSON object a line, as perfbench/run.py
appends them to perfbench/out/results.jsonl (copy that file aside to keep a
side). Untraced records are compared. For each figure, one row per workload:
the deterministic counts first (per request, runAll or pass; they should
repeat exactly, so any move is real work added or removed), then the
end-to-end metrics as median [q1, q3] over the runs, and the CPU probe that
shows host drift. Traced records contribute their tracing overhead, measured
inside the run and, where the file also holds the untraced run of the same
seed, as the traced run's traced-operation median against that run's.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def figures(records):
    """workload -> {figure: [values]}, counts first."""
    out = {}
    untraced = {(r["workload"], r["seed"]): r for r in records if not r["trace"]}
    for r in records:
        w = out.setdefault(r["workload"], {})
        if r["trace"]:
            w.setdefault("trace overhead_frac (in run)", []).append(r["per_layer"]["trace.overhead_frac"])
            plain = untraced.get((r["workload"], r["seed"]))
            if plain:
                w.setdefault("trace overhead_frac (vs untraced run)", []).append(
                    r["layers"]["traced_op_p50_ms"] / plain["end_to_end"]["op_p50_ms"] - 1)
            continue
        for k, v in sorted(r["counts_per_op"].items()):
            w.setdefault("count " + k, []).append(v)
        for k, v in sorted(r["end_to_end"].items()):
            w.setdefault("e2e " + k, []).append(v)
        w.setdefault("probe cpu_before_ms", []).append(r["probe_cpu_ms"]["before"])
        w.setdefault("failed/attempted", []).append(r["failed"] / max(r["attempted"], 1))
    return out


def cell(xs):
    if not xs:
        return "-"
    q1, med, q3 = quartiles(xs)
    if xs.count(xs[0]) == len(xs):
        return f"{med:.6g} (all {len(xs)} equal)"
    spread = (q3 - q1) / med if med else float("nan")
    return f"{med:.6g} [{q1:.6g}, {q3:.6g}] n={len(xs)} iqr/med={spread:.3f}"


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    sides = [figures(load(p)) for p in argv[1:]]
    workloads = sorted(set().union(*sides))
    names = sorted({n for s in sides for w in s.values() for n in w},
                   key=lambda n: (not n.startswith("count"), n))
    for n in names:
        print(n)
        for w in workloads:
            vals = [s.get(w, {}).get(n, []) for s in sides]
            if not any(vals):
                continue
            row = f"  {w:14s} " + " | ".join(f"{cell(v):52s}" for v in vals)
            if len(vals) == 2 and vals[0] and vals[1]:
                a, b = statistics.median(vals[0]), statistics.median(vals[1])
                if a:
                    row += f" | change {100 * (b - a) / a:+.1f}%"
            print(row.rstrip())


if __name__ == "__main__":
    main(sys.argv)
