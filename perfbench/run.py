#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <etl_incremental_day|read_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt when the sources
changed since the last build (perfbench/build.sbt compiles ../src/main/scala
with perfbench/src), then runs perfbench.Main in a fresh JVM whose scratch
space (lake copies, Spark local dirs, warehouse, java.io.tmpdir) is a
private directory under .bench_build/perfbench that is deleted afterwards.
The last line of standard output is the JSON result; the lines before it
report every metric with its unit, the environment stamps and the output
checks. A traced run (--trace 1) also writes its spans and jobs to
.bench_build/perfbench/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("etl_incremental_day", "read_mix")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
EXPECTED = os.path.join(HERE, "expected", "read_mix.tsv")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
PREPARE_TIMEOUT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(HERE, "src"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return stamp
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.forcestart=false",
                              "compile", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}); log in {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return stamp


def java_cmd(cp, work, args):
    # the heap grows as the program needs it, so peak_rss_mb follows the
    # program and not the flags
    return (["java", "-Xmx3g", "-XX:+UseG1GC"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.callstack.depth=64", "-Duser.timezone=UTC",
             "-cp", cp, "perfbench.Main", "--work", work] + args)


def run_jvm(cmd, work, timeout):
    """Runs the harness JVM in its own process group inside `work`;
    returns its stdout, or fails with the tail of its stderr."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["GRAFT_WORLD_CACHE"] = os.path.join(work, "worlds")
    env.pop("SPARK_CONF_DIR", None)
    err_path = work + ".stderr"
    proc = None
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL,
                                    start_new_session=True, text=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {timeout} s", 1)
        if proc.returncode != 0:
            with open(err_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"benchmark JVM exited {proc.returncode}", 1)
        return out
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(err_path):
            os.remove(err_path)


def prepare(cp, base):
    """Builds the seed-free starting inputs of this build once; the JVM
    marks them done with base/_OK when every one is built."""
    if os.path.exists(os.path.join(base, "_OK")):
        return
    for d in os.listdir(STATE):
        if d.startswith("base-") and os.path.join(STATE, d) != base:
            shutil.rmtree(os.path.join(STATE, d), ignore_errors=True)
    work = os.path.join(STATE, f"prepare-{os.getpid()}")
    run_jvm(java_cmd(cp, work, ["--workload", "prepare", "--base", base]),
            work, PREPARE_TIMEOUT_S)


def check_oracle(tables, out):
    """Compares each recorded registry query result with its DuckDB oracle
    SQL on the same tables: columns sorted by name, rows in order, as the
    repo's oracle gate compares them."""
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet/*.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    ok = True
    for name in sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d))):
        got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").fetchdf()
        if name not in oracle:
            print(f"perfbench: oracle {name}: no oracle SQL ({len(got)} rows)")
            continue
        want = con.sql(oracle[name]).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        same = (list(got.columns) == list(want.columns) and len(got) == len(want) and
                all(_same(a, b) for c in got.columns
                    for a, b in zip(got[c].tolist(), want[c].tolist())))
        print(f"perfbench: oracle {name}: {'ok' if same else 'MISMATCH'} ({len(got)} rows)")
        ok = ok and same
    return ok


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float) and a != a and b != b:
        return True
    if hasattr(a, "__len__") and not isinstance(a, (str, bytes, dict)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    try:
        if a != a and b != b:
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def pass_seconds(lines):
    for l in lines:
        if l.startswith("perfbench: pass_s = "):
            return float(l.split()[3])
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record", action="store_true",
                    help="read_mix only: record the reads' digests into "
                         "perfbench/expected/ after checking the registry "
                         "queries against the DuckDB oracle")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(STATE, exist_ok=True)
    stamp = build()[:16]
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    base = os.path.join(STATE, "base-" + stamp)
    prepare(cp, base)

    work = os.path.join(STATE, f"run-{os.getpid()}")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--base", base]
    if a.trace == "1":
        args += ["--trace-out", os.path.join(STATE, f"trace-{a.workload}-{a.seed}.json")]
    if a.workload == "read_mix" and not a.record:
        args += ["--expected", EXPECTED]
    record = os.path.join(STATE, f"record-{os.getpid()}")
    if a.record:
        shutil.rmtree(record, ignore_errors=True)
        args += ["--record", record]
    out = run_jvm(java_cmd(cp, work, args), work, RUN_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("no output", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}", 1)

    # tracing overhead: this traced pass against the untraced runs of the
    # same build on record
    history = os.path.join(STATE, f"untraced-{stamp}-{a.workload}.txt")
    secs = pass_seconds(lines)
    if a.trace == "0" and secs is not None:
        with open(history, "a") as fh:
            fh.write(f"{secs}\n")
    elif a.trace == "1":
        past = []
        if os.path.exists(history):
            with open(history) as fh:
                past = sorted(float(x) for x in fh.read().split())
        share = 0.0
        if past and secs is not None:
            share = secs / past[len(past) // 2] - 1.0
            lines.insert(-1, f"perfbench: trace.overhead_share = {share} ratio "
                             f"(against {len(past)} untraced runs)")
        else:
            lines.insert(-1, "perfbench: trace.overhead_share = 0 ratio "
                             "(no untraced run of this build on record)")
        result["metrics"]["trace.overhead_share"] = {"value": share, "unit": "ratio"}
    if a.record:
        tables = next(l.split("=", 1)[1] for l in lines
                      if l.startswith("perfbench: recorded tables="))
        if not result["correct"] or not check_oracle(tables, os.path.join(record, "out")):
            sys.stderr.write("".join(l + "\n" for l in lines))
            shutil.rmtree(record, ignore_errors=True)
            fail("not recording: the run or the oracle check failed", 1)
        os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
        shutil.copyfile(os.path.join(record, "expected.tsv"), EXPECTED)
        shutil.rmtree(record, ignore_errors=True)
        print(f"perfbench: recorded {EXPECTED}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
