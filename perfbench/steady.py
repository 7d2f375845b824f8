#!/usr/bin/env python3
"""Steadiness check: runs one workload as two sets of runs and compares them.

  python3 perfbench/steady.py --workload telematics_sf0.1 --runs 10

Each run gets its own seed (set A: base+0.., set B: base+1000..). For each
end-to-end metric it prints each set's median and quartiles, the spread
(quartile distance over median), and the difference of the two medians
against the metric's bound in BENCHMARK.json; then each run's
`host.cpu_steal_share` and the failed share of each set. The runs are saved
as JSON under perfbench/.work/steady/.
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


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed} exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    steal = next((float(l.split()[-1]) for l in lines
                  if l.startswith("# host.cpu_steal_share")), float("nan"))
    res.update(seed=seed, steal=steal, wall_s=time.time() - t0)
    return res


def quartiles(v: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def report(workload: str, sets: list[list[dict]], bench: dict) -> bool:
    """Prints the comparison; true when every spread and the difference of
    the two medians of every metric are within its bound, in either
    direction, the failed share is the same in every run and every run is
    correct."""
    ok = True
    print(f"\n== {workload}: {len(sets[0])} + {len(sets[1])} runs")
    print(f"{'metric':16} {'set':3} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>8}")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        meds = []
        for i, runs in enumerate(sets):
            q1, q2, q3 = quartiles([r["metrics"][name]["value"] for r in runs])
            spread = (q3 - q1) / q2
            meds.append(q2)
            flag = "" if spread <= bound / 3 else (
                "  > bound/3" if spread <= bound else "  > BOUND")
            ok = ok and spread <= bound
            print(f"{name:16} {'AB'[i]:3} {q1:12.4f} {q2:12.4f} {q3:12.4f} {spread:8.3f}{flag}")
        # Either set may be the parent: the gap is taken against the smaller
        # median, so it is the larger of the two relative differences.
        gap = abs(meds[1] - meds[0]) / min(meds)
        within = gap <= bound
        ok = ok and within
        print(f"{'':16} B vs A: {(meds[1] - meds[0]) / meds[0]:+.3f}, gap {gap:.3f} "
              f"(bound {bound}) {'ok' if within else 'OUT OF BOUND'}")
    for i, runs in enumerate(sets):
        shares = {r["failed"] / r["attempted"] for r in runs}
        print(f"set {'AB'[i]} failed share: {sorted(shares)}; steal per run: "
              + " ".join(f"{r['steal']:.3f}" for r in runs))
    same = len({r["failed"] / r["attempted"] for s in sets for r in s}) == 1
    correct = all(r["correct"] for s in sets for r in s)
    print(f"failed share identical in every run: {same}; all correct: {correct}")
    return ok and same and correct


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--base-seed", type=int, default=100)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = []
    for s in range(2):
        runs = []
        for i in range(a.runs):
            r = one_run(a.workload, a.base_seed + 1000 * s + i, bench["run_seconds"])
            print(f"set {'AB'[s]} seed {r['seed']}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items()))
                + f" steal={r['steal']:.3f} wall={r['wall_s']:.0f}s", flush=True)
            runs.append(r)
        sets.append(runs)
    out = os.path.join(HERE, ".work", "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{a.workload}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump({"workload": a.workload, "sets": sets}, f, indent=1)
    print(f"saved {os.path.relpath(path, ROOT)}")
    return 0 if report(a.workload, sets, bench) else 1


if __name__ == "__main__":
    sys.exit(main())
