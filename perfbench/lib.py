"""Shared pieces of the benchmark: building the program and the harness,
staging inputs, DuckDB answers and the output check.

Everything the benchmark writes lives under `perfbench/.work/` of the
checkout it runs in.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pandas as pd

import data
from compare import compare

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")

WORKLOADS = ("telematics_sf0.1", "stream_telematics")
# Stream twins that take event time as `ts.getTime * 1000L` and so lose its
# microseconds: their outputs cannot match, and every micro-batch they run is
# counted as failed until the truncation is mended.
KNOWN_FAULTS = {"rate_of_change", "accident_runs", "saturated_pairs"}
KEEP_SEEDS = 4

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars() -> str:
    """The jars of the Spark install that `SPARK_HOME` names."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark jars found; set SPARK_HOME to a Spark 4 install")
    return jars


def sources() -> list[str]:
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise BenchError(f"program sources not found under {PROGRAM_SRC}")
    srcs = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    return srcs + sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))


def build() -> str:
    """Compiles program + harness with the Scala compiler Spark ships; returns
    the build directory (classes/ and oracle_sql.json). Rebuilds only when a
    source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build", h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "oracle_sql.json")):
        return out
    jars = spark_jars()
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp] + srcs,
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("compilation failed")
    r = subprocess.run(
        ["java", "-cp", f"{cp}:{classes}", "perfbench.DumpOracleSql",
         os.path.join(out, "oracle_sql.json")], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("dumping the oracle SQL failed")
    log(f"built in {time.time() - t0:.1f} s")
    return out


def java_cmd(build_dir: str, main: str, args: list[str]) -> list[str]:
    cp = f"{os.path.join(spark_jars(), '*')}:{os.path.join(build_dir, 'classes')}"
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx4g", "-XX:ReservedCodeCacheSize=2g", "-XX:+UseCodeCacheFlushing",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, main] + args)


def _prune(parent: str) -> None:
    """Keeps the KEEP_SEEDS most recently used entries of a per-seed cache."""
    if not os.path.isdir(parent):
        return
    ents = sorted((os.path.join(parent, e) for e in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for e in ents[KEEP_SEEDS:]:
        shutil.rmtree(e, ignore_errors=True)


def _digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def staged(workload: str, seed: int) -> str:
    """The staged input of (workload, seed), made on first use; keyed by the
    staging code too, so a change to it restages."""
    key = _digest(os.path.join(HERE, "data.py"))
    d = os.path.join(WORK, "stage", f"{workload}-{seed}-{key}")
    if not os.path.isdir(d):
        data.stage(workload, d, seed)
    os.utime(d)
    _prune(os.path.dirname(d))
    return d


def _events_view(con, stage_dir: str, ms: bool = False) -> None:
    """The view `events` over the staged input; with `ms`, event time cut to
    the millisecond, as the KNOWN_FAULTS twins read it."""
    p = os.path.join(stage_dir, "events.parquet")
    src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
    # Stream files carry UTC-adjusted timestamps; the SQL reads UTC wall time.
    us = "epoch_ms(ts) * 1000" if ms else "epoch_us(ts)"
    con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * REPLACE (make_timestamp({us}) AS ts) "
                f"FROM read_parquet('{src}')")


def stream_sql() -> dict[str, str]:
    with open(os.path.join(HERE, "stream_oracle.sql")) as f:
        text = f.read()
    out, name, buf = {}, None, []
    for line in text.splitlines():
        if line.startswith("-- name:"):
            name, buf = line.split(":", 1)[1].strip(), []
            out[name] = buf
        elif name and not line.startswith("--"):
            buf.append(line)
    return {k: "\n".join(v).strip().rstrip(";") for k, v in out.items()}


def oracle_sql(workload: str, build_dir: str) -> dict[str, str]:
    if workload.startswith("stream"):
        return stream_sql()
    with open(os.path.join(build_dir, "oracle_sql.json")) as f:
        return json.load(f)


def oracle(workload: str, seed: int, build_dir: str, remake: bool = False) -> str:
    """DuckDB answers over the staged input of (workload, seed), cached and
    keyed by the staging code and the SQL."""
    sql_file = (os.path.join(HERE, "stream_oracle.sql") if workload.startswith("stream")
                else os.path.join(build_dir, "oracle_sql.json"))
    key = _digest(os.path.join(HERE, "data.py"), os.path.join(HERE, "lib.py"), sql_file)
    d = os.path.join(WORK, "oracle", f"{workload}-{seed}-{key}")
    if remake:
        shutil.rmtree(d, ignore_errors=True)
    if not os.path.isfile(os.path.join(d, "DONE")):
        stage_dir = staged(workload, seed)
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp', 'duckdb')}'")
        _events_view(con, stage_dir)
        sqls = oracle_sql(workload, build_dir)
        for name, sql in sorted(sqls.items()):
            t0 = time.time()
            con.execute(f"COPY ({sql}) TO '{os.path.join(tmp, name)}.parquet' (FORMAT parquet)")
            log(f"oracle {name}: {time.time() - t0:.2f} s")
        # What the KNOWN_FAULTS twins give today: the same SQL over event
        # time cut to the millisecond. Only that fault is excused by check().
        faulty = sorted(KNOWN_FAULTS & sqls.keys())
        if faulty:
            os.makedirs(os.path.join(tmp, "ms"))
            _events_view(con, stage_dir, ms=True)
            for name in faulty:
                con.execute(f"COPY ({sqls[name]}) TO '{os.path.join(tmp, 'ms', name)}.parquet' "
                            "(FORMAT parquet)")
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    os.utime(d)
    _prune(os.path.dirname(d))
    return d


def _read(con, path: str) -> pd.DataFrame:
    return con.execute(f"SELECT * FROM read_parquet('{path}')").df()


def check(check_dir: str, oracle_dir: str) -> dict[str, tuple[str, str]]:
    """Compares the run's check-pass outputs with the cached answers. The
    verdict per operation is "ok"; "ms" when its output differs from the
    answer but equals the one computed over event time cut to the
    millisecond (the KNOWN_FAULTS truncation, nothing else); or "wrong"."""
    con = duckdb.connect()
    res = {}
    for want_path in sorted(glob.glob(os.path.join(oracle_dir, "*.parquet"))):
        name = os.path.basename(want_path)[:-len(".parquet")]
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            res[name] = ("wrong", "no output")
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        if "batch_id" in got.columns:
            if name == "rate_of_change":
                # Update mode: the latest row per key is the current answer.
                got = (got.sort_values("batch_id")
                       .drop_duplicates(["user_id", "event_type"], keep="last"))
            got = got.drop(columns=["batch_id"]).reset_index(drop=True)
        ok, msg = compare(got, _read(con, want_path))
        ms_path = os.path.join(oracle_dir, "ms", f"{name}.parquet")
        if ok:
            res[name] = ("ok", "")
        elif os.path.isfile(ms_path) and compare(got, _read(con, ms_path))[0]:
            res[name] = ("ms", f"{msg}; equal to the answer over millisecond event time")
        else:
            res[name] = ("wrong", msg)
    return res


def steal_counters() -> tuple[int, int]:
    """(steal, busy) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = (v + [0] * 8)[:8]
    return steal, user + nice + system + irq + softirq + steal
