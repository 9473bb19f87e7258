#!/usr/bin/env python3
"""Diffs two sets of benchmark artifacts, per workload.

    python3 perfbench/compare.py perfbench/baseline .bench_build/artifacts

Each side is an artifact file or a directory of them (as run.py writes
them to .bench_build/artifacts/). Each side's fail_frac (operations
that threw or failed their check, over operations attempted) is printed
first, over the seeds both sides ran when they share any; the new side
failing more operations is a regression. Runs with a failed operation
are then left out of the timing pools and listed by seed, so a run cut
short by a failure cannot pass as a speed-up. The remaining runs of one
workload on one side are pooled by taking each metric's median over
them. End-to-end metrics (untraced artifacts) are judged against the
bounds in BENCHMARK.json; a metric whose run-to-run spread (interquartile
distance over median, from four or more runs) exceeds its bound on
either side is unresolved; per-layer metrics and per-family times
(traced artifacts) are listed with their change and never judged. Runs
that started loaded are left out of the timing pools; a side with only
loaded runs is never reported as a timing regression. Exits 1 if any
regression was found.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "workload" in a:
            runs.setdefault((a["workload"], bool(a["trace"])), []).append(a)
    return runs


def pooled(arts, section):
    keys = sorted({k for a in arts for k in a.get(section, {})})
    return {k: statistics.median(a[section][k] for a in arts if k in a.get(section, {}))
            for k in keys}


def spread(arts, name):
    """Interquartile distance over median of one metric across runs, or
    None with fewer than four runs."""
    xs = [a["end_to_end"][name] for a in arts if name in a.get("end_to_end", {})]
    if len(xs) < 4:
        return None
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def fail_frac(arts, seeds):
    arts = [a for a in arts if a["seed"] in seeds] or arts
    return sum(a["failed"] for a in arts) / max(1, sum(a["attempted"] for a in arts))


def change(old, new):
    return (new - old) / old if old else float("inf") if new else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    base, new = load(a.base), load(a.new)
    regressions = 0
    for key in sorted(set(base) & set(new)):
        workload, traced = key
        b, n = base[key], new[key]
        print(f"== {workload} ({'traced' if traced else 'untraced'})")
        common = {x["seed"] for x in b} & {x["seed"] for x in n}
        fb, fn = fail_frac(b, common), fail_frac(n, common)
        failing = fn > fb
        regressions += failing
        print(f"  {'fail_frac':<14} {fb:>12.4f} -> {fn:>12.4f}"
              f"{' (shared seeds)' if common else ''}  {'REGRESSION' if failing else 'ok'}")
        for side, xs in (("base", b), ("new", n)):
            bad = sorted(x["seed"] for x in xs if x["failed"])
            if bad:
                print(f"  {side}: runs with failures left out of timing, seeds "
                      f"{', '.join(map(str, bad))}")
        b, n = [x for x in b if not x["failed"]], [x for x in n if not x["failed"]]
        if not b or not n:
            print("  no run without failures on one side; timing not compared")
            continue
        idle_b = [x for x in b if not x["env"].get("loaded")]
        idle_n = [x for x in n if not x["env"].get("loaded")]
        loaded = not idle_b or not idle_n
        b, n = idle_b or b, idle_n or n
        print(f"  timing from {len(b)} vs {len(n)} runs"
              f"{'; LOADED, not judged' if loaded else ''}")
        if not traced:
            bv, nv = pooled(b, "end_to_end"), pooled(n, "end_to_end")
            for name, m in e2e.items():
                if name not in bv or name not in nv:
                    continue
                d = change(bv[name], nv[name])
                worse = d if m["better"] == "lower" else -d
                wide = [x for x in (spread(b, name), spread(n, name)) if x is not None]
                verdict = "ok"
                if any(x > m["bound"] for x in wide):
                    verdict = "unresolved (run-to-run spread above bound)"
                elif worse > m["bound"]:
                    verdict = "worse (loaded)" if loaded else "REGRESSION"
                    regressions += 0 if loaded else 1
                elif worse < -m["bound"]:
                    verdict = "better"
                print(f"  {name:<14} {bv[name]:>12.4f} -> {nv[name]:>12.4f} {m['unit']:<4}"
                      f" {d:+8.1%}  bound {m['bound']:.0%}  {verdict}")
            fb, fn = pooled(b, "families"), pooled(n, "families")
        else:
            fb, fn = pooled(b, "per_layer"), pooled(n, "per_layer")
            t0 = [x["end_to_end"]["pass_s"] for x in base.get((workload, False), [])
                  if not x["failed"]]
            t1 = [x["end_to_end"]["pass_s"] for x in new.get((workload, False), [])
                  if not x["failed"]]
            if t1:
                print(f"  tracing overhead (traced - untraced pass_s): "
                      f"{fn.get('trace.pass_s', 0) - statistics.median(t1):+.3f} s")
            elif t0:
                print(f"  tracing overhead, base side: "
                      f"{fb.get('trace.pass_s', 0) - statistics.median(t0):+.3f} s")
        for name in sorted(set(fb) | set(fn)):
            x, y = fb.get(name, 0.0), fn.get(name, 0.0)
            if x or y:
                print(f"    {name:<28} {x:>14.4f} -> {y:>14.4f}  {change(x, y):+8.1%}")
    only = sorted(set(base) ^ set(new))
    if only:
        print("unpaired:", ", ".join(f"{w}{' traced' if t else ''}" for w, t in only))
    print(f"{regressions} regression(s)")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
