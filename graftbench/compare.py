#!/usr/bin/env python3
"""Compare two sets of benchmark runs, such as a parent commit (A) and a
change (B), metric by metric.

    python3 graftbench/compare.py DIR_A DIR_B

Each directory holds the run records `run.py` leaves in
`graftbench/.work/runs/` (copy them away between checkouts). Runs are
paired by (workload, seed, trace); a pair whose fixture fingerprints
differ is refused, since its runs did not read the same inputs. For each
workload and metric the medians of both sides are printed with B's change
relative to A and each side's quartile spread; for end-to-end metrics,
whether B stays within the bound BENCHMARK.json fixes, or "unresolved"
when A's own spread is wider than that bound.
"""
import glob
import json
import os
import statistics
import sys

import metrics


def load(d):
    runs = {}
    for path in glob.glob(os.path.join(d, "*.json")):
        with open(path) as f:
            r = json.load(f)
        runs[(r["workload"], r["seed"], r["trace"])] = r
    return runs


def main(a_dir, b_dir):
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    a, b = load(a_dir), load(b_dir)
    pairs = sorted(set(a) & set(b))
    mismatched = [k for k in pairs if a[k]["fingerprint"] != b[k]["fingerprint"]]
    if mismatched:
        print(f"refusing to compare: fixture fingerprints differ for {mismatched}")
        return 2
    if not pairs:
        print("no (workload, seed, trace) present on both sides")
        return 2
    worse = 0
    for wl in sorted({k[0] for k in pairs}):
        mine = [k for k in pairs if k[0] == wl]
        names = sorted({m for k in mine for m in a[k]["metrics"]})
        print(f"{wl}: {len(mine)} paired runs")
        for m in names:
            va = [a[k]["metrics"][m] for k in mine if m in a[k]["metrics"]]
            vb = [b[k]["metrics"][m] for k in mine if m in b[k]["metrics"]]
            ma, mb = statistics.median(va), statistics.median(vb)
            rel = (mb - ma) / ma if ma else 0.0
            spread = metrics.quartile_spread(va)
            verdict = ""
            if m in bounds:
                loss = rel if better[m] == "lower" else -rel
                if spread > bounds[m]:
                    verdict = f"unresolved: A's spread {spread:.1%} exceeds the bound"
                elif loss > bounds[m]:
                    worse += 1
                    verdict = f"WORSE than bound {bounds[m]}"
                else:
                    verdict = "within bound"
            print(f"  {m:28s} A {ma:14.4f}  B {mb:14.4f}  {rel:+8.2%}  "
                  f"spread A {spread:6.1%} B {metrics.quartile_spread(vb):6.1%}  {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
