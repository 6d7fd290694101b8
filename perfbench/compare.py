#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR
    python3 perfbench/compare.py --overhead UNTRACED_DIR TRACED_DIR

Each directory holds the stamped result files run.py writes to
.bench_build/results/ (copy them aside between commits). Runs are paired
by workload and seed. For every metric the tool prints each side's median
and quartiles, the change in median, and the share of pairs the change
wins (ties count for neither). Sets whose stamps disagree on nproc, heap,
fixture, run length or tracing are refused: their numbers do not compare.

`--overhead` compares the end-to-end times of an untraced and a traced
set of the same commit and prints the tracing overhead instead.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_lib  # noqa: E402


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if "stamp" in r:
            runs.append(r)
    if not runs:
        sys.exit(f"compare: no result files in {d}")
    return runs


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def by_workload(runs, key):
    out = {}
    for r in runs:
        w = r["stamp"]["workload"]
        for m, v in r[key].items():
            val = v["value"] if isinstance(v, dict) else v
            out.setdefault(w, {}).setdefault(m, {})[r["stamp"]["seed"]] = val
    return out


def check_stamps(base, change, ignore=()):
    for side, runs in (("base", base), ("change", change)):
        for k in ("commit", "source"):
            if len({r["stamp"].get(k) for r in runs}) > 1:
                sys.exit(f"compare: {side} set mixes several {k} values")
    for r in change:
        k = bench_lib.stamp_mismatch(base[0]["stamp"], r["stamp"])
        if k and k not in ignore:
            sys.exit(f"compare: stamps differ on {k!r}: "
                     f"{base[0]['stamp'].get(k)} vs {r['stamp'].get(k)}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--overhead", action="store_true",
                    help="base is untraced, change is traced (same commit)")
    args = ap.parse_args()
    base, change = load(args.base), load(args.change)
    if args.overhead:
        check_stamps(base, change, ignore=("trace",))
        b = by_workload(base, "end_to_end")
        c = by_workload(change, "end_to_end")
        for w in sorted(b):
            for m in ("build_s", "serve_s", "wall_s"):
                mb = statistics.median(b[w][m].values())
                mc = statistics.median(c.get(w, {}).get(m, {0: mb}).values())
                print(f"{w:15s} {m:10s} untraced {mb:9.3f} traced {mc:9.3f} "
                      f"overhead {100 * (mc - mb) / mb:+6.1f}%")
        return
    check_stamps(base, change)
    spec = bench_spec()
    key = "metrics"
    b, c = by_workload(base, key), by_workload(change, key)
    print(f"{'workload':15s} {'metric':26s} {'base q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s} {'delta':>8s} {'wins':>6s}  verdict")
    for w in sorted(b):
        for m in sorted(b[w]):
            bv, cv = b[w][m], c.get(w, {}).get(m)
            if not cv:
                continue
            better = spec.get(m, {}).get("better", "lower")
            bound = spec.get(m, {}).get("bound")
            bq, cq = quartiles(list(bv.values())), quartiles(list(cv.values()))
            delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            wins = bench_lib.win_fraction(bv, cv, better)
            worse = delta if better == "lower" else -delta
            if wins is not None and wins >= 0.9 and \
                    abs(cq[1] - bq[1]) > bq[2] - bq[0]:
                verdict = "gain"
            elif bound is not None and worse > bound:
                verdict = "REGRESSION"
            elif bound is not None and len(bv) > 1 and \
                    bench_lib.spread(list(bv.values())) > bound:
                verdict = "unresolved"
            else:
                verdict = "within bound" if bound is not None else ""
            fmt = "{:9.4g}/{:9.4g}/{:9.4g}"
            print(f"{w:15s} {m:26s} {fmt.format(*bq):>30s} "
                  f"{fmt.format(*cq):>30s} {100 * delta:+7.1f}% "
                  f"{'-' if wins is None else f'{wins:.2f}':>6s}  {verdict}")


if __name__ == "__main__":
    main()
