#!/usr/bin/env python3
"""Computes (again) the DuckDB answers for one workload and seed.

  python3 perfbench/oracle.py --workload stream_telematics --seed 7

Stages the seed's input if needed, then evaluates every answer over it:
the batch queries from `SparkEntry.oracleSql`, the stream operators from
`stream_oracle.sql`. Answers are cached under perfbench/.work/oracle/ and
reused by run.py; this command always remakes them.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import lib  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=lib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    d = lib.oracle(a.workload, a.seed, lib.build(), remake=True)
    con = duckdb.connect()
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            n = con.execute(f"SELECT count(*) FROM '{os.path.join(d, f)}'").fetchone()[0]
            print(f"{f[:-len('.parquet')]}: {n} rows")
    print(os.path.relpath(d, lib.ROOT))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except lib.BenchError as e:
        lib.log(f"error: {e}")
        sys.exit(2)
