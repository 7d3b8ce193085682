"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds run records (record.json files, searched
recursively; copy .bench_runs/ after a set of runs). Untraced records are
grouped by workload and paired by seed. For every workload and end-to-end
metric this prints each side's median and quartiles, the pairs the change
won, the change of the median, and a verdict:

  unresolved  a side's spread (quartile distance / median) is wider than the
              metric's bound, unless every change run beats every base run
  worse       the change's median is worse by more than the bound
  better      the change won at least 9/10 of the pairs and the medians
              differ by more than the base's own quartile distance
  same        otherwise
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import quartiles  # noqa: E402


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "**", "record.json"), recursive=True):
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            runs.setdefault(r["workload"], {})[r["seed"]] = r["end_to_end"]
    return runs


def verdict(base, change, bound, lower_better):
    (bq1, bm, bq3), (cq1, cm, cq3) = quartiles(base), quartiles(change)
    sign = 1 if lower_better else -1
    worse_by = sign * (cm - bm) / bm if bm else 0.0
    all_better = (max(change) < min(base)) if lower_better else (min(change) > max(base))
    spread = max((bq3 - bq1) / bm if bm else 0.0, (cq3 - cq1) / cm if cm else 0.0)
    if spread > bound and not all_better:
        return "unresolved"
    if worse_by > bound:
        return "worse"
    return None


def compare(base_runs, change_runs, spec):
    rows = []
    for wl in sorted(set(base_runs) | set(change_runs)):
        b, c = base_runs.get(wl, {}), change_runs.get(wl, {})
        seeds = sorted(set(b) & set(c))
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            bv = [b[s][name] for s in sorted(b) if name in b[s]]
            cv = [c[s][name] for s in sorted(c) if name in c[s]]
            if not bv or not cv:
                rows.append((wl, name, None))
                continue
            won = sum(1 for s in seeds
                      if (c[s][name] < b[s][name]) == lower and c[s][name] != b[s][name])
            v = verdict(bv, cv, m["bound"], lower)
            bq, cq = quartiles(bv), quartiles(cv)
            if v is None:
                gap = abs(cq[1] - bq[1]) > (bq[2] - bq[0])
                better = (cq[1] < bq[1]) == lower
                v = "better" if seeds and won >= 0.9 * len(seeds) and gap and better else "same"
            rows.append((wl, name, {"base": bq, "change": cq, "n": (len(bv), len(cv)),
                                    "pairs": (won, len(seeds)), "unit": m["unit"],
                                    "delta": (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0,
                                    "verdict": v}))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.benchmark) as f:
        spec = json.load(f)
    for wl, name, r in compare(load(a.base), load(a.change), spec):
        if r is None:
            print(f"{wl:12} {name:12} missing on one side")
            continue
        (b1, bm, b3), (c1, cm, c3) = r["base"], r["change"]
        print(f"{wl:12} {name:12} base {bm:.4g} [{b1:.4g}, {b3:.4g}] n={r['n'][0]}  "
              f"change {cm:.4g} [{c1:.4g}, {c3:.4g}] n={r['n'][1]}  {r['unit']}  "
              f"{r['delta']:+.1%}  pairs won {r['pairs'][0]}/{r['pairs'][1]}  {r['verdict']}")


if __name__ == "__main__":
    main()
