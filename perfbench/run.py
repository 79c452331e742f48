#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark runner with sbt (output under .bench_build/ and target/). Each run
then starts one JVM on local[4] with fresh per-run layout, temp and Spark
local directories, deletes them afterwards, and prints as its last stdout
line one JSON object: correct, attempted, failed and metrics. --trace 0
reports the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer
ones.

    python3 perfbench/run.py --derive    # re-record perfbench/expected.json
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 170
HEAP = "3g"
# The module openings Spark needs on JDK 17 outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs).
OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + runner once per source state.

    Returns the runtime classpath and whether a build ran.
    """
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine source ({need}) next to the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest and all(
                os.path.exists(p) for p in saved["classpath"].split(os.pathsep)):
            return saved["classpath"], False
    log = os.path.join(BUILD, "build.log")
    out = os.path.join(BUILD, "build.out")
    with open(log, "w") as err, open(out, "w") as fh:
        code = wait(["sbt", "-batch", "export Runtime/fullClasspath"], HERE, os.environ,
                    fh, err, deadline)
    with open(out) as fh:
        lines = [x for x in fh.read().splitlines() if x.strip()]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {log} and {out}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath, True


def wait(cmd, cwd, env, stdout, stderr, deadline):
    """Run `cmd` in its own process group until it ends or `deadline` passes;
    whatever happens, no process of the group outlives this call."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def check_data():
    with open(os.path.join(HERE, "data", "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            path = os.path.join(DATA, name)
            if not os.path.exists(path):
                fail(f"missing input {path}")
            with open(path, "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    fail(f"input {path} does not match data/SHA256SUMS")


def run_jvm(classpath, work, main_args, deadline):
    """Run the JVM runner with every temporary path inside `work`."""
    dirs = {k: os.path.join(work, k) for k in ("layout", "tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, GRAFT_LAYOUT_DIR=dirs["layout"], TMPDIR=dirs["tmp"],
               SPARK_LOCAL_DIRS=dirs["spark-local"])
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={dirs['tmp']}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in OPENS:
        cmd += ["--add-opens", o]
    cmd += ["-cp", classpath, "perfbench.Main", "--data", DATA,
            "--layout", dirs["layout"], "--work", work] + main_args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        code = wait(cmd, work, env, fh, subprocess.STDOUT, deadline)
    if code != 0:
        with open(log, errors="replace") as fh:
            tail = fh.read()[-4000:]
        fail(f"runner exited with {code}:\n{tail}")


def derive(classpath, work, out, deadline):
    """Record each probe's fingerprint and cross-check it against the
    fingerprint of the probe's oracle SQL run in DuckDB on the same data."""
    import duckdb
    run_jvm(classpath, work, ["--derive", "--out", out], deadline)
    with open(out) as fh:
        probes = json.load(fh)["probes"]
    oracle = os.path.join(work, "oracle")
    os.makedirs(oracle)
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(DATA, f)}')")
    schemas = {}
    for name, p in sorted(probes.items()):
        if p["oracle_sql"]:
            con.execute(f"COPY ({p['oracle_sql']}) TO '{os.path.join(oracle, name)}.parquet' "
                        "(FORMAT PARQUET)")
            schemas[name] = p["schema"]
    with open(os.path.join(oracle, "schemas.json"), "w") as fh:
        json.dump(schemas, fh)
    checked = os.path.join(work, "oracle.json")
    run_jvm(classpath, work, ["--crosscheck", "--oracle", oracle, "--out", checked], deadline)
    with open(checked) as fh:
        got = json.load(fh)
    record = {}
    for name, p in sorted(probes.items()):
        o = got.get(name)
        if o is None:
            verdict = "no oracle SQL"
        elif o["rows"] != p["rows"]:
            verdict = f"MISMATCH: oracle rows {o['rows']}"
        elif p["hash"] is None:
            verdict = "rows match (hash unstable, rows only)"
        else:
            verdict = "match" if o["hash"] == p["hash"] else f"MISMATCH: oracle hash {o['hash']}"
        record[name] = {"rows": p["rows"], "hash": p["hash"], "oracle": verdict}
        print(f"{name:24s} {verdict}")
    with open(EXPECTED, "w") as fh:
        json.dump({"derived_with": f"DuckDB {duckdb.__version__} oracle cross-check",
                   "probes": record}, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"wrote {EXPECTED}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--derive", action="store_true",
                    help="re-record expected.json from the current engine")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()
    # a stop request unwinds through `wait`, which kills the child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t0 = time.time()
    deadline = t0 + DEADLINE_S
    if not a.derive and a.workload not in metrics.WORKLOADS:
        fail(f"--workload must be one of {', '.join(metrics.WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_data()
    classpath, built = build(t0 + 600)
    if built:
        deadline = time.time() + DEADLINE_S
    work = os.path.join(BUILD, f"run-{os.getpid()}-{int(t0)}")
    os.makedirs(work)
    out = os.path.join(work, "out.json")
    try:
        if a.derive:
            derive(classpath, work, out, deadline + 600)
            return
        run_jvm(classpath, work, ["--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--expected", EXPECTED, "--out", out], deadline)
        with open(out) as fh:
            raw = json.load(fh)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    result, report = metrics.summarize(raw, spec)
    for line in report:
        print(line, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
