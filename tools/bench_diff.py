#!/usr/bin/env python3
"""Diff two BENCH_DETAIL.json files (before, after): per-query medians with
their jobs and task-CPU deltas, geomean speedup over queries >= a floor, the
biggest movers, and the total jobs. A file written before the rows carried
`jobs`/`cpu_s` still diffs; those fields show as `-`."""
import json, math, sys

def load(p):
    d = json.load(open(p))
    qs = {k: v for k, v in d["query_stats"].items() if v["med"] >= 0}
    return d, qs

def delta(va, vb, spec):
    """`a -> b (+d)`; an absent side shows as `-`, with no delta."""
    if va is None or vb is None:
        show = lambda v: "-" if v is None else format(v, spec)
        return f"{show(va)} -> {show(vb)}"
    return f"{format(va, spec)} -> {format(vb, spec)} ({format(vb - va, '+' + spec)})"

def row(q, a, b):
    return (f"  {q:34s} {a['med']:7.3f} -> {b['med']:7.3f}  ({b['med']-a['med']:+.3f})"
            f"  jobs {delta(a.get('jobs'), b.get('jobs'), 'd')}"
            f"  cpu_s {delta(a.get('cpu_s'), b.get('cpu_s'), '.3f')}")

def total_jobs(qs, names):
    got = [qs[q]["jobs"] for q in names if "jobs" in qs[q]]
    return f"{sum(got)} over {len(got)} queries" if got else "-"

def main(a, b, floor=0.3):
    da, qa = load(a)
    db, qb = load(b)
    common = sorted(set(qa) & set(qb))
    print(f"before total {da['value']:.1f} (floor {da['floor']:.1f}, contended {da['contended']})")
    print(f"after  total {db['value']:.1f} (floor {db['floor']:.1f}, contended {db['contended']})")
    med = lambda qs, q: qs[q]["med"]
    big = [q for q in common if max(med(qa, q), med(qb, q)) >= floor]
    logs = [math.log(med(qa, q) / med(qb, q)) for q in big]
    print(f"geomean speedup over {len(big)} queries >= {floor}s: "
          f"{math.exp(sum(logs)/len(logs)):.3f}x")
    movers = sorted(big, key=lambda q: med(qb, q) - med(qa, q))
    print("\nbiggest improvements (before -> after):")
    for q in movers[:18]:
        print(row(q, qa[q], qb[q]))
    print("\nbiggest regressions:")
    for q in movers[-10:][::-1]:
        print(row(q, qa[q], qb[q]))
    print("\njob count changed (before -> after):")
    for q in common:
        if "jobs" in qa[q] and "jobs" in qb[q] and qa[q]["jobs"] != qb[q]["jobs"]:
            print(row(q, qa[q], qb[q]))
    print(f"\nsum before {sum(med(qa, q) for q in common):.1f}  "
          f"after {sum(med(qb, q) for q in common):.1f}")
    print(f"total jobs before {total_jobs(qa, common)}  after {total_jobs(qb, common)}")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]) if len(sys.argv) > 3 else 0.3)
