#!/usr/bin/env python3
"""Diff two bench per-query JSON maps: sorted by delta, with totals. When
both records carry per-query jobs and executor CPU (graft.Bench's
bench_out.json does), their deltas print beside the wall time.
Usage: benchdiff.py OLD.json NEW.json [min_abs_delta]"""
import json, sys

old = json.load(open(sys.argv[1]))
new = json.load(open(sys.argv[2]))
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.3
oq, nq = old["queries"], new["queries"]
extra = [m for m in ("jobs", "executor_cpu_s") if m in old and m in new]
rows = [(nq[k] - oq[k], k, oq[k], nq[k]) for k in nq if k in oq]
rows.sort()
print(f"total {old['value']:.1f} -> {new['value']:.1f} "
      f"({new['value']-old['value']:+.1f} s)")
for m in extra:
    o, n = sum(old[m].values()), sum(new[m].values())
    print(f"{m} {o:.1f} -> {n:.1f} ({n - o:+.1f})")
for d, k, o, n in rows:
    if abs(d) >= thr:
        cols = "".join(
            f"  {m} {old[m].get(k, 0):g} -> {new[m].get(k, 0):g}"
            f" ({new[m].get(k, 0) - old[m].get(k, 0):+g})" for m in extra)
        print(f"{k:35s} {o:7.2f} -> {n:7.2f}  {d:+.2f}{cols}")
