#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or summarize one set.

A set is a directory given to `run.py --out`: its `records/*.json` hold one
record per run (workload, seed, trace flag, environment, per-round figures
and the result line), and `spans/*.json` the spans of traced runs.

    python3 perfbench/compare.py compare <parent-set> <change-set>
    python3 perfbench/compare.py summary <set>

`compare` prints one row per (workload, end-to-end metric) of the untraced
runs: each side's median and quartiles, the change of the median, and a
verdict. Runs pair up in run order, so alternate the two sides when making
them.
  - `unresolved`: either side's spread (quartile distance over median)
    exceeds the metric's bound in BENCHMARK.json;
  - `better` / `worse`: that side wins at least 9/10 of the pairs (ties
    count for neither) and the medians differ by more than the parent's
    quartile distance;
  - `regressed`: the change's median is worse than the parent's by more
    than the bound (without a §8 loss);
  - `unproven`: the change's median is better by more than the bound
    without a §8 win;
  - `same`: the medians agree within the bound.

`summary` prints, per workload, the environment of its runs, the spread of
every end-to-end metric, the traced-vs-untraced round-time overhead, and
the mean wall and self time of every span name of the traced runs.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"]}


def records(set_dir):
    out = []
    for p in sorted(glob.glob(os.path.join(set_dir, "records", "*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    # run ids end in the start time in ms: sort into run order
    out.sort(key=lambda r: int(r["run"].rsplit("-", 1)[1]))
    return out


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def by_workload(recs, trace):
    out = {}
    for r in recs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def fmt(v):
    return f"{v:.4g}"


def compare(parent_dir, change_dir):
    spec = load_spec()
    a_runs = by_workload(records(parent_dir), 0)
    b_runs = by_workload(records(change_dir), 0)
    print(f"parent: {parent_dir}\nchange: {change_dir}\n")
    head = (f"{'workload':<14} {'metric':<21} {'n':>5} {'parent q1/med/q3':>26} "
            f"{'change q1/med/q3':>26} {'Δmed':>8} {'wins':>6} {'spr a/b':>11} verdict")
    print(head)
    print("-" * len(head))
    verdicts = []
    for wl in sorted(set(a_runs) | set(b_runs)):
        ra, rb = a_runs.get(wl, []), b_runs.get(wl, [])
        if not ra or not rb:
            print(f"{wl:<14} (runs on one side only)")
            continue
        for name, m in spec.items():
            a = [r["result"]["metrics"][name]["value"] for r in ra]
            b = [r["result"]["metrics"][name]["value"] for r in rb]
            lower = m["better"] == "lower"
            aq, bq = quartiles(a), quartiles(b)
            pairs = list(zip(a, b))
            b_wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            a_wins = sum(1 for x, y in pairs if (x < y if lower else x > y))
            diff = bq[1] - aq[1]
            rel = diff / aq[1] if aq[1] else float("inf")
            worse_by = rel if lower else -rel
            iqr_a = aq[2] - aq[0]
            sa, sb = spread(a), spread(b)
            if sa > m["bound"] or sb > m["bound"]:
                v = "unresolved"
            elif b_wins >= 0.9 * len(pairs) and abs(diff) > iqr_a:
                v = "better"
            elif a_wins >= 0.9 * len(pairs) and abs(diff) > iqr_a:
                v = "worse"
            elif worse_by > m["bound"]:
                v = "regressed"
            elif -worse_by > m["bound"]:
                v = "unproven"
            else:
                v = "same"
            verdicts.append(v)
            print(f"{wl:<14} {name:<21} {len(a):>2}/{len(b):<2} "
                  f"{fmt(aq[0]):>8}/{fmt(aq[1]):>8}/{fmt(aq[2]):>8} "
                  f"{fmt(bq[0]):>8}/{fmt(bq[1]):>8}/{fmt(bq[2]):>8} "
                  f"{rel:>+8.1%} {b_wins:>2}/{len(pairs):<3} "
                  f"{sa:>5.3f}/{sb:<5.3f} {v}")
    print()
    for v in ("same", "better", "worse", "regressed", "unproven", "unresolved"):
        print(f"{v}: {verdicts.count(v)}")


def summary(set_dir):
    spec = load_spec()
    recs = records(set_dir)
    untraced, traced = by_workload(recs, 0), by_workload(recs, 1)
    for wl in sorted(set(untraced) | set(traced)):
        print(f"== {wl}")
        for r in untraced.get(wl, []) + traced.get(wl, []):
            e = r["env"]
            print(f"  run {r['run']}: cpus {e['cpus']} cores {e['cores']} "
                  f"shuffle_partitions {e['shuffle_partitions']} load {e['load_start']:.2f}"
                  f"->{e['load_end']:.2f} jvm {e['jvm']} spark {e['spark']} "
                  f"seed {e['seed']} seconds {e['seconds']} "
                  f"correct {r['result']['correct']} "
                  f"failed {r['result']['failed']}/{r['result']['attempted']}")
        ru = untraced.get(wl, [])
        if ru:
            print(f"  end-to-end over {len(ru)} untraced runs (spread = (q3-q1)/median):")
            for name, m in spec.items():
                xs = [r["result"]["metrics"][name]["value"] for r in ru]
                q1, q2, q3 = quartiles(xs)
                print(f"    {name:<21} median {fmt(q2):>10} {m['unit']:<7} spread "
                      f"{spread(xs):.3f} (bound {m['bound']})")
        rt = traced.get(wl, [])
        if ru and rt:
            wu = statistics.median(x["wall_s"] for r in ru for x in r["rounds"])
            wt = statistics.median(x["wall_s"] for r in rt for x in r["rounds"])
            print(f"  tracing overhead: median round {fmt(wt)} s traced vs {fmt(wu)} s "
                  f"untraced ({wt / wu - 1:+.1%})")
        for r in rt:
            p = os.path.join(set_dir, "spans", f"{r['run']}.json")
            if not os.path.exists(p):
                continue
            with open(p) as f:
                spans = json.load(f)["spans"]
            agg = {}
            for s in spans:
                a = agg.setdefault(s["name"], [0, 0.0, 0.0])
                a[0] += 1
                a[1] += (s["end_ms"] - s["start_ms"]) / 1000
                a[2] += s["self_ms"] / 1000
            print(f"  spans of {r['run']} (mean per call):")
            for n, (c, w, s) in agg.items():
                print(f"    {n:<28} calls {c:>3}  wall {w / c:8.3f} s  self {s / c:8.3f} s")
        print()


def main():
    if len(sys.argv) == 4 and sys.argv[1] == "compare":
        compare(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "summary":
        summary(sys.argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
