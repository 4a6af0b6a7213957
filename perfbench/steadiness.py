#!/usr/bin/env python3
"""Run untraced benchmark runs over a set of seeds and record their spread.

    python3 perfbench/steadiness.py --seeds 301-310 --out perfbench/results/steadiness-a.json
    python3 perfbench/steadiness.py --compare perfbench/results/steadiness-a.json \
        perfbench/results/steadiness-b.json

Run from the repository root. The spread of a metric is (third quartile -
first quartile) / median of its values over the seeds, the quartiles as
Python's statistics.quantiles(values, n=4) gives them. --compare checks two
sets of the same code against the bounds in BENCHMARK.json: every spread but
setup_s's within its bound, and every metric's second median not worse than
the first by more than its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(seeds, out):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    res = {"seconds": bench["run_seconds"], "seeds": seeds, "workloads": {}}
    for wl in [w["name"] for w in bench["workloads"]]:
        runs = []
        for s in seeds:
            t0 = time.time()
            p = subprocess.run(bench["command"] + [
                "--workload", wl, "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{wl} seed {s} exited {p.returncode}: {p.stderr[-2000:]}")
            r = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1), **r})
            print(wl, s, runs[-1]["wall_s"], json.dumps(r), flush=True)
        spread = {}
        for m in runs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in runs]
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            spread[m] = {"median": med, "q1": q[0], "q3": q[2],
                         "iqr_over_median": (q[2] - q[0]) / med}
        res["workloads"][wl] = {"runs": runs, "spread": spread}
        with open(out, "w") as f:
            json.dump(res, f, indent=1)


def compare(a_path, b_path):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    a, b = json.load(open(a_path)), json.load(open(b_path))
    ok = True
    for wl in a["workloads"]:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sa, sb = a["workloads"][wl]["spread"][name], b["workloads"][wl]["spread"][name]
            worse = (sa["median"] - sb["median"]) if m["better"] == "higher" else (sb["median"] - sa["median"])
            drift = worse / sa["median"]
            spread_ok = name == "setup_s" or max(sa["iqr_over_median"], sb["iqr_over_median"]) <= bound
            line_ok = spread_ok and drift <= bound
            ok &= line_ok
            print(f"{wl:8} {name:17} bound {bound:.2f}  spread {sa['iqr_over_median']:.3f} / "
                  f"{sb['iqr_over_median']:.3f}  median {sa['median']:.4g} -> {sb['median']:.4g} "
                  f"(worse by {drift:+.3f})  {'ok' if line_ok else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", help="first-last, e.g. 301-310")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    a = ap.parse_args()
    if a.compare:
        sys.exit(0 if compare(*a.compare) else 1)
    if not (a.seeds and a.out):
        ap.error("--seeds and --out, or --compare")
    run_set(seeds_of(a.seeds), a.out)


if __name__ == "__main__":
    main()
