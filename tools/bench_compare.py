#!/usr/bin/env python3
"""Cross-round bench comparison under the controlled protocol (r9 verdict
item 2): compare per-query min over THIS round's two uncontended
`graft.Bench` artifacts against the previous round's artifact, and report
the shared-query total and median ratios plus the tails and top movers.

Usage: bench_compare.py <prev.json> <cur_a.json> [cur_b.json]

Per-query min of two runs is the contention-robust statistic: the
dominant noise source on this host is external VM contention, which only
ever ADDS time. Queries under 50 ms are excluded (scheduling jitter
dominates). Exit code 1 when the shared median leaves [0.8, 1.1] — the
band the round gate treats as "no regression to explain"."""
import json
import statistics
import sys


def load(path):
    return json.load(open(path))["queries"]


def main(prev_path, *cur_paths):
    prev = load(prev_path)
    curs = [load(p) for p in cur_paths]
    cur = {k: min(c[k] for c in curs if k in c)
           for k in curs[0] if all(k in c for c in curs)}
    shared = sorted((cur[k] / prev[k], k) for k in prev
                    if k in cur and prev[k] > 0.05)
    vals = [r for r, _ in shared]
    med = statistics.median(vals)
    print(f"shared queries: {len(shared)} (prev has {len(prev)}, cur has {len(cur)})")
    tp, tc = sum(prev[k] for _, k in shared), sum(cur[k] for _, k in shared)
    print(f"total {tp:.1f} s -> {tc:.1f} s (ratio {tc / tp:.3f})")
    print(f"cur/prev median {med:.3f}  p10 {vals[len(vals)//10]:.3f}  "
          f"p90 {vals[9*len(vals)//10]:.3f}")
    print("worst 5:", [(k, round(r, 2)) for r, k in shared[-5:]])
    print("best  5:", [(k, round(r, 2)) for r, k in shared[:5]])
    new = [k for k in cur if k not in prev]
    if new:
        print(f"new queries: {len(new)}, min-total {sum(cur[k] for k in new):.1f} s")
    # Per-query A/B variance (r13 verdict item 5): how repeatable is each
    # query WITHIN this round's two uncontended runs? A query whose two
    # samples disagree widely is contention/jitter-bound — cross-round
    # drift on it (e.g. q_hits_bipartite, 2.7->3.9 s across rounds on
    # untouched code) should be adjudicated as host noise, not code.
    if len(curs) >= 2:
        unstable = sorted(
            ((max(c[k] for c in curs) / max(min(c[k] for c in curs), 1e-9), k)
             for k in cur if cur[k] > 0.05),
            reverse=True)[:8]
        print("least repeatable (A/B max/min):",
              [(k, round(r, 2)) for r, k in unstable])
    if not 0.8 <= med <= 1.1:
        print(f"REGRESSION: shared median {med:.3f} outside [0.8, 1.1]")
        sys.exit(1)
    print(f"OK: shared median {med:.3f} within [0.8, 1.1]")


if __name__ == "__main__":
    main(*sys.argv[1:])
