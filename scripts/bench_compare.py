#!/usr/bin/env python3
"""Before/after read of two graft.Bench artifacts, normalised by their
embedded CPU calibration.

    python3 scripts/bench_compare.py BEFORE.json AFTER.json

Each argument is the JSON object `graft.Bench` prints (or a wrapper that
holds it under "parsed"). For the queries whose BEFORE time is above
0.3 s and that ran without error on both sides, the script prints the
quartiles of the per-query ratio AFTER / BEFORE twice: raw, and divided
by the ratio of the two pre-run single-thread calibrations
(`calib.single_pre_s`), which takes out a uniformly slower or faster
box. It also prints each side's median hypervisor steal from
`load.trace`, and flags the pair when the steal medians differ by more
than 2 points or the calibrations by more than 5%: a box effect of that
size is the same order as the code effects a single draw is read for.
"""
import json
import statistics
import sys

MIN_QUERY_S = 0.3
STEAL_POINTS = 2.0
CALIB_REL = 0.05


def load(path):
    with open(path) as fh:
        d = json.load(fh)
    return d.get("parsed", d)


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def steal_median(d):
    trace = (d.get("load") or {}).get("trace") or []
    vals = [t["steal_pct"] for t in trace if "steal_pct" in t]
    return statistics.median(vals) if vals else None


def main(argv):
    if len(argv) != 3:
        print("usage: bench_compare.py BEFORE.json AFTER.json", file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    errs = set(a.get("errors") or {}) | set(b.get("errors") or {})
    names = sorted(n for n, s in a["queries"].items()
                   if s > MIN_QUERY_S and n in b["queries"] and n not in errs)
    if len(names) < 2:
        print(f"fewer than 2 common queries above {MIN_QUERY_S} s", file=sys.stderr)
        return 1
    ratios = [b["queries"][n] / a["queries"][n] for n in names]
    cal_a, cal_b = a["calib"]["single_pre_s"], b["calib"]["single_pre_s"]
    cal = cal_b / cal_a
    st_a, st_b = steal_median(a), steal_median(b)

    def fmt(q):
        return " / ".join(f"{x:.3f}" for x in q)

    print(f"queries above {MIN_QUERY_S} s before, error-free on both sides: {len(names)}")
    print(f"totals: {a['value']:.1f} s -> {b['value']:.1f} s")
    print(f"ratio Q1 / median / Q3, raw:             {fmt(quartiles(ratios))}")
    print(f"ratio Q1 / median / Q3, / calib ({cal:.3f}): "
          f"{fmt(quartiles([r / cal for r in ratios]))}")
    print(f"calib.single_pre_s: {cal_a:.3f} s -> {cal_b:.3f} s")
    fmt_st = lambda s: "n/a" if s is None else f"{s:.1f}%"
    print(f"median steal_pct: {fmt_st(st_a)} -> {fmt_st(st_b)}")
    flags = []
    if st_a is not None and st_b is not None and abs(st_b - st_a) > STEAL_POINTS:
        flags.append(f"steal medians differ by {abs(st_b - st_a):.1f} points")
    if abs(cal - 1.0) > CALIB_REL:
        flags.append(f"calibrations differ by {100 * abs(cal - 1.0):.1f}%")
    print("FLAG: " + "; ".join(flags) if flags else "no flag: comparable draws")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
