#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The first run builds the engine and this
harness from source with sbt into .bench_build/ (about a minute); later runs
reuse that build while the sources are unchanged. The benchmark JVM then makes
the workload's inputs from the seed, measures for S seconds, and checks every
output. For ops-llm the registry outputs are then compared here with their
DuckDB oracle SQL. With --trace 1 the per-layer metrics of BENCHMARK.json are
printed and the spans are written to .bench_build/traces/; with --trace 0 the
end-to-end metrics are printed. Every generated input and output is removed
before exit.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"

# Spark on JDK 17 needs these opens when started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_child(cmd, cwd, env, timeout, log_path):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and always wait until it has ended."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{cmd[0]} ran past {timeout} s; log tail:\n" + tail(log_path))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if code != 0:
        raise BenchError(f"{cmd[0]} exited with {code}; log tail:\n" + tail(log_path))


def tail(path):
    with open(path, errors="replace") as f:
        return f.read()[-4000:]


def source_files():
    files = []
    for base in (HERE, ENGINE_SRC):
        for d, _, names in os.walk(base):
            if "target" in d.split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return sorted(files)


def build():
    """Compile engine + harness unless the last build used the same sources;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BenchError(f"no engine sources under {ENGINE_SRC}")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
              HERE, env, BUILD_TIMEOUT_S, os.path.join(BUILD, "build.log"))
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def oracle_check(work):
    """Compare each ops-llm output with its oracle SQL in DuckDB over the
    generated corpus: columns by name, rows in emitted order, exact values.
    Returns {key: what differs} for the keys that differ."""
    import duckdb
    con = duckdb.connect()
    corpus = os.path.join(work, "corpus")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")
    out = os.path.join(work, "ops-out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for key, sql in sorted(oracle.items()):
        # part files in partition order carry the rows in emitted order
        files = sorted(glob.glob(os.path.join(out, key, "*.parquet")))
        if not files:
            bad[key] = "no output"
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})")
        try:
            want = con.sql(sql)
        except Exception as e:
            bad[key] = f"oracle error {e}"
            continue
        if sorted(got.columns) != sorted(want.columns):
            bad[key] = f"columns {got.columns} != {want.columns}"
            continue
        cols = [f'"{c}"' for c in sorted(got.columns)]
        g = got.select(*cols).fetchall()
        w = want.select(*cols).fetchall()
        if len(g) != len(w):
            bad[key] = f"{len(g)} rows, oracle {len(w)}"
            continue
        for i, (a, b) in enumerate(zip(g, w)):
            if not same_row(a, b):
                bad[key] = f"row {i} {a!r} != oracle {b!r}"[:300]
                break
    return bad


def same_row(a, b):
    def same(x, y):
        if isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y):
            return True
        if isinstance(x, (list, tuple)) and isinstance(y, (list, tuple)):
            return len(x) == len(y) and all(same(p, q) for p, q in zip(x, y))
        return x == y
    return same(tuple(a), tuple(b))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("object", "manifest"),
                    help="damage one output before the checks, to show they catch it")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise BenchError(f"unknown workload {a.workload}")
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "result.json")
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", out,
                  "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
               + (["--corrupt", a.corrupt] if a.corrupt else []))
        jvm_log = os.path.join(work, "jvm.log")
        run_child(cmd, work, dict(os.environ), JVM_TIMEOUT_S, jvm_log)
        with open(jvm_log, errors="replace") as f:
            for line in f:
                if line.startswith(f"[{a.workload}]"):
                    print(line.rstrip(), file=sys.stderr)
        with open(out) as f:
            r = json.load(f)
        failures = list(r["failures"])
        failed = r["failed"]
        if a.workload == "ops-llm":
            # the JVM's failures name their key first; count each key once
            bad = oracle_check(work)
            failures += [f"{k}: {v}" for k, v in bad.items()]
            failed = len({m.split()[0].rstrip(":") for m in failures})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in failures[:20]:
        log(f"check failed: {msg}")
    got = r["metrics"]
    result = {
        "correct": failed == 0,
        "attempted": r["attempted"],
        "failed": failed,
        "metrics": {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in metrics},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
