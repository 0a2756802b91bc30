#!/usr/bin/env python3
"""Compare two sets of benchmark records.

Usage: python3 perfbench/compare.py A B
  A, B: directories (or single files) of run records, as written by run.py
  to <build dir>/records/. Traced and untraced runs may be mixed.

Prints, per workload:
  - each end-to-end metric's median and quartiles in A and B (untraced runs),
    and the change of B's median against A's;
  - the workload-named metrics the record carries (e.g. freshness_p50_ms);
  - each per-layer metric's median in A and B (traced runs) and its delta;
  - the tracing overhead in each set: traced median over untraced median of
    every end-to-end metric.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def quart(values):
    values = sorted(v for v in values if isinstance(v, (int, float)))
    if not values:
        return None
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, statistics.median(values), q3


def metric_values(records, section):
    vals = {}
    for r in records:
        for name, m in r.get(section, {}).items():
            v = m.get("value") if isinstance(m, dict) else m
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                vals.setdefault(name, []).append(v)
    return vals


def fmt(q):
    return "-" if q is None else "%.4g [%.4g, %.4g]" % (q[1], q[0], q[2])


def delta(a, b):
    if a is None or b is None or a[1] == 0:
        return "-"
    return "%+.1f%%" % (100.0 * (b[1] - a[1]) / a[1])


def table(title, va, vb, rows=None):
    names = rows or sorted(set(va) | set(vb))
    print("  %s" % title)
    for n in names:
        qa, qb = quart(va.get(n, [])), quart(vb.get(n, []))
        print("    %-58s %-30s %-30s %s" % (n, fmt(qa), fmt(qb), delta(qa, qb)))


def overhead(records):
    plain = metric_values([r for r in records if not r["traced"]], "end_to_end")
    traced = metric_values([r for r in records if r["traced"]], "end_to_end")
    out = {}
    for n in sorted(set(plain) & set(traced)):
        p, t = statistics.median(plain[n]), statistics.median(traced[n])
        if p:
            out[n] = "%+.1f%%" % (100.0 * (t - p) / p)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted({r["workload"] for r in a + b}):
        ra = [r for r in a if r["workload"] == w]
        rb = [r for r in b if r["workload"] == w]
        ua = [r for r in ra if not r["traced"]]
        ub = [r for r in rb if not r["traced"]]
        print("== %s  (A: %d runs, %d traced; B: %d runs, %d traced)" % (
            w, len(ra), len(ra) - len(ua), len(rb), len(rb) - len(ub)))
        print("    %-58s %-30s %-30s %s" % ("metric", "A median [q1, q3]", "B median [q1, q3]", "B vs A"))
        table("end to end (untraced runs)", metric_values(ua, "end_to_end"),
              metric_values(ub, "end_to_end"))
        table("workload metrics (untraced runs)", metric_values(ua, "workload_metrics"),
              metric_values(ub, "workload_metrics"))
        ta = [r for r in ra if r["traced"]]
        tb = [r for r in rb if r["traced"]]
        if ta or tb:
            va, vb = metric_values(ta, "per_layer"), metric_values(tb, "per_layer")
            # ops a workload never calls read 0 in every run; skip them
            live = [n for n in sorted(set(va) | set(vb))
                    if any(va.get(n, [])) or any(vb.get(n, []))]
            table("per layer (traced runs)", va, vb, live)
        for label, recs in (("A", ra), ("B", rb)):
            o = overhead(recs)
            if o:
                print("  tracing overhead in %s: %s" % (
                    label, ", ".join("%s %s" % kv for kv in o.items())))
        print()


if __name__ == "__main__":
    main()
