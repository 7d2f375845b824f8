#!/usr/bin/env python3
"""One benchmark run: one workload, one seed, one JVM.

  python3 perfbench/run.py --workload telematics_sf0.1 --seed 1 --seconds 10 --trace 0

Builds the program and the harness if needed, stages the seed's input,
computes (or reuses) the DuckDB answers, runs the harness JVM, checks its
outputs and prints one JSON object as the last line of stdout. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones, and the spans go to `perfbench/.work/traces/`.
See README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lib  # noqa: E402

DEADLINE_S = 165  # leaves time for the check within the 180 s a run may take


def declared(kind: str) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(lib.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def end_to_end(res: dict, samples: list[dict], stream: bool) -> dict[str, float]:
    """The end-to-end metrics of an untraced run from its samples. Samples of
    failed operations count in `failed` only, never in a timing."""
    ok = [s for s in samples if not s["error"]]
    by_op: dict[str, list[float]] = {}
    for s in ok:
        by_op.setdefault(s["op"], []).append(s["ms"])
    # Each operation's median, then their geometric mean: every operation
    # weighs the same, and the figure rests on all samples rather than on the
    # one or two nearest the middle of a pooled, mixed set.
    latency = statistics.geometric_mean([statistics.median(v) for v in by_op.values()])
    # Work done per second of the median round: queries, or stream events.
    # A round's time includes what no sample covers, such as starting and
    # stopping the streaming queries.
    throughput = statistics.median(
        sum(s["rows"] if stream else 1 for s in rnd if not s["error"]) / sec
        for rnd, sec in zip(res["samples"], res["round_s"]))
    return {
        "setup_s": res["setup_s"],
        "latency_p50_ms": latency,
        "throughput": throughput,
        "live_heap_mb": res["live_heap_mb"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=lib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] of the Spark session (default: all cores)")
    a = ap.parse_args()

    build_dir = lib.build()
    stage_dir = lib.staged(a.workload, a.seed)
    oracle_dir = lib.oracle(a.workload, a.seed, build_dir)

    run_dir = os.path.join(lib.WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(os.path.join(lib.WORK, "tmp"), exist_ok=True)
    result_file = os.path.join(run_dir, "result.json")
    cmd = lib.java_cmd(build_dir, "perfbench.Harness", [
        a.workload, stage_dir, run_dir, str(a.seconds), str(a.trace),
        str(a.cores), result_file])
    steal0 = lib.steal_counters()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - T_START)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise lib.BenchError("harness ran past the deadline")
    if rc != 0 or not os.path.isfile(result_file):
        raise lib.BenchError(f"harness exited with {rc}")
    steal1 = lib.steal_counters()
    busy = steal1[1] - steal0[1]
    steal_share = (steal1[0] - steal0[0]) / busy if busy > 0 else 0.0

    with open(result_file) as f:
        res = json.load(f)
    checks = lib.check(os.path.join(run_dir, "check"), oracle_dir)
    samples = [s for rnd in res["samples"] for s in rnd]
    rounds = len(res["samples"])
    failed = 0
    correct = True
    for op, per_round in res["ops_per_round"].items():
        verdict, msg = checks.get(op, ("wrong", "no answer"))
        if verdict != "ok":
            print(f"# check {op}: {verdict} {msg}")
        if verdict == "ms" and op in lib.KNOWN_FAULTS:
            failed += per_round * rounds
        else:
            failed += sum(1 for s in samples if s["op"] == op and s["error"])
            correct = correct and verdict == "ok"
    attempted = sum(res["ops_per_round"].values()) * rounds

    print(f"# workload {a.workload} seed {a.seed}: {rounds} rounds, "
          f"{len(samples)} samples over {res['measured_s']:.1f} s; rounds (s): "
          + " ".join(f"{r:.2f}" for r in res["round_s"]))
    print(f"# host.cpu_steal_share {steal_share:.4f}")
    timings = end_to_end(res, samples, a.workload.startswith("stream"))
    if a.trace:
        # The same timings under tracing; against an untraced run they give
        # the tracing overhead.
        print("# traced " + " ".join(f"{k} {timings[k]:.6g}"
                                     for k in ("latency_p50_ms", "throughput")))
        values = res["layers"]
        values["host.cpu_steal_share"] = steal_share
    else:
        values = timings
    units = declared("per_layer" if a.trace else "end_to_end")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    if a.trace:
        traces = os.path.join(lib.WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-{a.seed}.json")
        shutil.move(os.path.join(run_dir, "spans.json"), spans)
        print(f"# spans {os.path.relpath(spans, lib.ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except lib.BenchError as e:
        lib.log(f"error: {e}")
        sys.exit(2)
