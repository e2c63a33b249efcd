#!/usr/bin/env python3
"""Fold N bench-run JSONs into a min-of-N mins file + drift table.

Usage: python3 tools/protocol_mins.py out_mins.json run1.json run2.json ...
Prints a drift table vs BENCH_MINS.json (the committed baseline) for
every query whose min moved >25% in either direction, then writes the
new mins file (same shape as a Bench line, value = sum of mins).
A query listed under "failed" in a run has no time in that run: each
one is named with the run it failed in and the number of runs its min
comes from (none, when it failed in every run).
"""
import json
import sys


def main(out_path, *runs):
    datas = [json.load(open(p)) for p in runs]
    keys = set()
    for d in datas:
        keys |= set(d["queries"])
    mins = {q: min(d["queries"][q] for d in datas if q in d["queries"])
            for q in sorted(keys)}
    for p, d in zip(runs, datas):
        for q in d.get("failed", []):
            timed = sum(q in e["queries"] for e in datas)
            print(f"failed: {q} in {p} (min from {timed} of {len(datas)} runs)")
    total = sum(mins.values())
    base = json.load(open("BENCH_MINS.json"))["queries"]
    print(f"min-of-{len(datas)}: {total:.1f} s / {len(mins)} queries "
          f"= {total / len(mins):.3f} s/query")
    run_totals = ", ".join("{:.1f}".format(d["value"]) for d in datas)
    print(f"run totals: {run_totals}")
    moved = [(q, base[q], m, m / base[q]) for q, m in mins.items()
             if q in base and base[q] > 0.15 and (m > base[q] * 1.25 or m < base[q] * 0.75)]
    for q, b, m, r in sorted(moved, key=lambda x: -x[3]):
        print(f"  {q:<28} committed={b:7.2f}s  min={m:7.2f}s  {r:5.2f}x")
    new = [q for q in mins if q not in base]
    if new:
        print(f"new: {', '.join(sorted(new))}")
    json.dump({"queries": mins, "sf": datas[0].get("sf"), "n": len(mins),
               "metric": "total", "unit": "sec", "value": round(total, 3)},
              open(out_path, "w"))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main(sys.argv[1], *sys.argv[2:])
