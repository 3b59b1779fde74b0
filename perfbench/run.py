#!/usr/bin/env python3
"""Repository benchmark: builds the program from this checkout, runs one
workload, checks its outputs and prints one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): spans_batch, query_mix. With --trace 0 the result carries the end-to-end metrics, with
--trace 1 the per-layer ones. The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Exit code 0 when every output check passed, 1 otherwise, 2 when the
program or the harness cannot be built.
"""
import argparse
import collections
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("spans_batch", "query_mix")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STATE = os.path.join(TARGET, "perfbench-repeat-counts.json")
RUN_LIMIT_S = 170    # a run must end within 180 s
BUILD_LIMIT_S = 800  # the first run in a checkout may also build

# jdk17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp, deadline):
    """Compiles program + harness with sbt unless this stamp is built."""
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved = fh.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == stamp:
            return saved[1].strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(deadline - time.time(), 1))
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cp = [l for l in lines if ".jar" in l and os.pathsep in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"sbt build failed (exit {proc.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + cp[-1] + "\n")
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1]


def java_binary():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or "java"


def run_jvm(args, classpath, work, deadline):
    """Runs perfbench.Main; returns its result dict (None if it died)."""
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_binary()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap and young generation keep the peak resident set from
    # following the collector's adaptive sizing; a fixed set of JIT
    # compiler threads lets the harness leave their CPU out of the
    # program's (perfbench.JitCpu)
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--result", result]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping it")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        log(f"JVM exited with code {proc.returncode}")
        return None
    with open(result) as fh:
        return json.load(fh)


def duckdb_checks(res):
    """Compares first-pass results with the queries' DuckDB twins by the
    rules of the repo's own checker, tools/check_oracle.py: each column's
    pandas dtype kind must equal the oracle's, and the rows, put in its
    canonical form, must be the same multiset. Returns (mismatched rows,
    failed attempts)."""
    checks = res.get("duckdb") or []
    if not checks:
        return 0, 0
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    sf = res["sf_dir"]
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet/*.parquet')")
    mism = failed = 0
    for c in checks:
        want = con.sql(c["sql"]).df()
        got = con.sql(f"SELECT * FROM read_parquet('{c['result']}/*.parquet')").df()
        kw = {k: want[k].dtype.kind for k in want.columns}
        kg = {k: got[k].dtype.kind for k in got.columns}
        if kw != kg:
            bad = len(want) + len(got)
            log(f"{c['query']}: columns and dtype kinds {kg} differ from the "
                f"oracle's {kw}")
        else:
            cw, cg = collections.Counter(canon(want)), collections.Counter(canon(got))
            bad = sum(((cw - cg) + (cg - cw)).values())
        if bad:
            log(f"{c['query']}: {bad} rows differ from the DuckDB oracle")
            mism += bad
            failed += c["attempts"]
        else:
            log(f"{c['query']}: matches its DuckDB oracle")
    return mism, failed


def repeat_check(res, args, stamp):
    """Counts that must not drift are compared with earlier runs of the
    same code on the same seed. Returns the number that disagree."""
    counts = res.get("repeat") or {}
    if not counts:
        return 0
    state = {}
    if os.path.exists(STATE):
        with open(STATE) as fh:
            state = json.load(fh)
    key = f"{stamp}:{args.workload}:{args.seed}"
    before = state.get(key, {})
    bad = [k for k, v in counts.items() if k in before and before[k] != v]
    for k in bad:
        log(f"count {k} = {counts[k]} differs from {before[k]} in an "
            f"earlier run on the same seed")
    before.update(counts)
    state[key] = before
    os.makedirs(TARGET, exist_ok=True)
    with open(STATE, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    return len(bad)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    t0 = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no program source tree at {ROOT} (build.sbt, src/main/scala/graft)")
        return 2
    stamp = source_stamp()
    try:
        classpath = build(stamp, t0 + BUILD_LIMIT_S)
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 2
    built = time.time()

    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        start = built if built - t0 > 5 else t0
        res = run_jvm(args, classpath, work, start + RUN_LIMIT_S)
        if res is None:
            res = {"aborted": True}
        dmism, dfailed = duckdb_checks(res) if not res.get("aborted") else (0, 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass

    repeats = repeat_check(res, args, stamp) if not res.get("aborted") else 0
    attempted = max(int(res.get("attempted", 0)), 1)
    failed = min(int(res.get("failed", 0)) + dfailed + repeats, attempted)
    mismatch = int(res.get("mismatch_rows", 0)) + dmism
    if res.get("aborted"):
        failed = max(failed, 1)
    error_rate = failed / attempted
    metrics = res.get("metrics", {})
    if args.trace:
        metrics["check.mismatch_rows"] = {"value": mismatch, "unit": "count"}
        metrics["check.error_rate"] = {"value": error_rate, "unit": "ratio"}
    correct = not res.get("aborted") and mismatch == 0 and failed == 0

    for k, v in (res.get("info") or {}).items():
        print(f"# {k}: {v}")
    for e in res.get("errors") or []:
        print(f"# error: {e}")
    for k, m in list(metrics.items()) + list((res.get("unbounded") or {}).items()):
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(f"# mismatch_rows = {mismatch} rows")
    print(f"# error_rate = {error_rate:.6g} failed/attempted "
          f"({failed}/{attempted})")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
