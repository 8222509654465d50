#!/usr/bin/env python3
"""Derive the catalog sample (run.py's CATALOG_SAMPLE) from a full run.

    python3 perfbench/run.py --workload catalog --seed 7 --seconds 1 --ops all
    python3 perfbench/sample.py .bench_build/runs/catalog-7-0-all/result.json 16

Every entry's warm latency is its median over the run's timed passes. The
entries, ordered by that latency, are cut into `n` strata of (nearly) equal
size. Each stratum is represented by one entry: the one whose module has
the smallest share of its entries picked so far, so modules enter the
sample roughly in proportion to their size, and a module none of whose
entries is picked yet goes first; ties go to the entry nearest the
stratum's median latency. The entry is weighted by its stratum's size. The script
prints the table and, for the same run, the full catalog's memo share,
floor share and median op beside the sample's, and the weighted estimate of
a full pass beside the measured one.
"""
import json
import sys

from check import median
from run import memo_s


def latencies(res):
    ops = {}
    for p in res["passes"]:
        for o in p["ops"]:
            ops.setdefault(o["op"], []).append(o)
    return {n: (os_[0]["module"], median([o["construct"] + o["plan"] + o["exec"] for o in os_]),
                median([o["construct"] + o["plan"] for o in os_]))
            for n, os_ in ops.items()}


def stratify(lat, n):
    order = sorted(lat, key=lambda k: (lat[k][1], k))
    size = {}
    for m, _, _ in lat.values():
        size[m] = size.get(m, 0) + 1
    picked, seen = {}, {}
    for i in range(n):
        stratum = order[len(order) * i // n:len(order) * (i + 1) // n]
        mid = lat[stratum[len(stratum) // 2]][1]
        best = min(stratum, key=lambda k: (seen.get(lat[k][0], 0) / size[lat[k][0]],
                                           abs(lat[k][1] - mid), k))
        seen[lat[best][0]] = seen.get(lat[best][0], 0) + 1
        picked[best] = len(stratum)
    return picked


def main():
    with open(sys.argv[1]) as f:
        res = json.load(f)
    lat = latencies(res)
    sample = stratify(lat, int(sys.argv[2]))
    memo = memo_s(res)
    full = sum(t for _, t, _ in lat.values())
    est = sum(w * lat[k][1] for k, w in sample.items())
    unweighted = sum(lat[k][1] for k in sample)
    print("CATALOG_SAMPLE = {")
    for k in sorted(sample):
        print(f'    "{k}": {sample[k]},  # {lat[k][0]}, {lat[k][1]:.3f} s')
    print("}")
    print(f"entries {len(lat)}, modules in sample {len({lat[k][0] for k in sample})} "
          f"of {len({m for m, _, _ in lat.values()})}")
    print(f"full pass: ops {full:.2f} s + memo {memo:.2f} s = {full + memo:.2f} s "
          f"(measured {memo + median([p['wall_s'] for p in res['passes']]):.2f} s); "
          f"weighted sample estimate {est + memo:.2f} s; unweighted sample pass {unweighted + memo:.2f} s")
    print(f"memo share: full {memo / (full + memo):.3f}, weighted sample {memo / (est + memo):.3f}, "
          f"unweighted sample {memo / (unweighted + memo):.3f}")
    print(f"floor share: full {sum(f for _, _, f in lat.values()) / full:.3f}, "
          f"weighted sample {sum(w * lat[k][2] for k, w in sample.items()) / est:.3f}, "
          f"unweighted sample {sum(lat[k][2] for k in sample) / unweighted:.3f}")
    print(f"median op: full {median([t for _, t, _ in lat.values()]):.3f} s, "
          f"sample {median([lat[k][1] for k in sample]):.3f} s")


if __name__ == "__main__":
    main()
