#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, a fixed measuring time.

    python3 perfbench/run.py --workload card_refresh --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds graft and the
benchmark from source (sbt, offline); later runs reuse the build. Every
input is generated from --seed inside perfbench/target/work, which is
deleted at the end of the run.

With --trace 0 the last stdout line is a JSON object whose metrics are
the end-to-end metrics in BENCHMARK.json; with --trace 1 they are the
per-layer metrics. Lines before it print every figure by name with its
unit. An output check failure prints the failures on stderr and exits 1;
a missing source tree exits 2 without a result.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ("card_refresh", "star_query", "corpus_gate")
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s", "rows_per_s": "1/s"}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the same list the
# root build passes to its forked JVMs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(ROOT, "build.sbt")
    yield os.path.join(BENCH, "build.sbt")


def build():
    """Compiles graft and the benchmark once per source change, packs the
    compiled classes into jars and records the runtime classpath and a
    class-data-sharing archive of the classes a session start loads."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft source tree at {ROOT} (expected build.sbt and src/main/scala/graft)", 2)
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(CLASSPATH) and os.path.isfile(ARCHIVE):
            built = os.path.getmtime(CLASSPATH)
            if all(os.path.getmtime(f) < built for f in sources()):
                return open(CLASSPATH).read().strip()
        print("perfbench: building graft and the benchmark (sbt)", file=sys.stderr)
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_TIMEOUT_S)
        lines = [l for l in proc.stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed", 2)
        classpath = ":".join(pack(e, i) for i, e in enumerate(lines[-1].strip().split(":")))
        # The JVM maps classes from this archive instead of loading them
        # one by one from the jars; it only accepts jars on the class path.
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        work = os.path.join(TARGET, "work", f"archive-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            jvm(classpath, work, ["warm", "--seed", "1"], [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if not os.path.isfile(ARCHIVE):
            fail("no class-data-sharing archive was written", 2)
        with open(CLASSPATH, "w") as f:
            f.write(classpath)
        return classpath


def pack(entry, i):
    """A class directory of the class path as a jar under target/jars."""
    if not os.path.isdir(entry):
        return entry
    jar = os.path.join(TARGET, "jars", f"{i:02d}-classes.jar")
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(entry)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
    return jar


def jvm(classpath, work, args, share=None):
    """Runs perfbench.Main in its own JVM and returns its result JSON.
    `share` replaces the flag that maps the class-data-sharing archive
    (the build passes the one that writes it)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    cpus = str(min(4, os.cpu_count() or 1))
    # The parallel collector does no concurrent work that would compete
    # with Spark's threads for the cores, and after a full collection its
    # heap usage is the live set (no region rounding).
    share = share or [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"]
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
           + share + ADD_OPENS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        "-cp", classpath, "perfbench.Main"] + args + ["--work", work, "--result", result])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S} s", 3)
    if code != 0 or not os.path.isfile(result):
        fail(f"the benchmark JVM exited with {code}", 3)
    with open(result) as f:
        return json.load(f)


def oracle_check(res, data):
    """Compares each relational entry's first result with DuckDB running
    the entry's oracle SQL over the same generated tables. A mismatch
    fails every op that ran the entry, and at least one op."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    problems, failed_ops = [], 0
    for o in res["oracle"]:
        got = norm(con.execute(f"SELECT * FROM read_parquet('{o['dir']}/*.parquet')").fetchdf())
        exp = norm(con.execute(o["sql"]).fetchdf())
        try:
            if list(got.columns) != list(exp.columns) or len(got) != len(exp):
                raise AssertionError(f"columns/rows {list(got.columns)}/{len(got)} vs "
                                     f"{list(exp.columns)}/{len(exp)}")
            pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
        except AssertionError as e:
            problems.append(f"{o['entry']}: differs from its DuckDB oracle: {str(e).splitlines()[0]}")
            failed_ops += max(1, res["entry_ops"].get(o["entry"], 0))
        else:
            print(f"perfbench: {o['entry']}: {len(got)} rows equal DuckDB's", file=sys.stderr)
    return problems, failed_ops


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="'all' runs every workload in turn, each in its own JVM")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", default=None, help="planted fault (perfbench/selftest.py)")
    a = ap.parse_args()

    if a.workload == "all":
        rest = ["--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        codes = [subprocess.run([sys.executable, __file__, "--workload", w] + rest).returncode
                 for w in WORKLOADS]
        sys.exit(max(codes))

    classpath = build()
    work = os.path.join(TARGET, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        if a.fault:
            args += ["--fault", a.fault]
        res = jvm(classpath, work, args)
        problems = list(res["problems"])
        failed = res["failed"]
        if res["oracle"]:
            oracle_problems, oracle_failed = oracle_check(res, os.path.join(work, "data"))
            problems += oracle_problems
            failed = min(res["attempted"], failed + oracle_failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"ops {res['attempted']} ({res['extra']['ops_timed']} timed)")
    for k, v in res["end_to_end"].items():
        print(f"  {k:<28} {v:>14.6g} {END_TO_END_UNITS[k]}")
    extra = res["extra"]
    print(f"  {'error_rate':<28} {failed / res['attempted']:>14.6g} ratio")
    for k, unit in (("heap_live_mb", "MB"), ("pinned_mb", "MB"), ("write_amp", "ratio"),
                    ("space_amp", "ratio"),
                    ("op_p90_s", "s")):
        if k in extra:
            print(f"  {k:<28} {extra[k]:>14.6g} {unit}")
    if "op_p90_s" not in extra:
        print(f"  {'op_p90_s':<28} {'n/a':>14} s (needs >= 100 timed ops)")
    print(f"  set-up: JVM start to session {extra['jvm_to_session_s']:.3f} s, inputs and state "
          f"{extra['setup_state_s']:.3f} s, warm-up {extra['warmup_s']:.3f} s")
    print("  op latencies (s): " + ", ".join(f"{x:.3f}" for x in extra["op_latencies_s"]))
    print("  set-up by phase (s): " +
          ", ".join(f"{k} {v:.3f}" for k, v in extra["setup_phases_s"].items()))
    if a.trace:
        for k, v in res["per_layer"].items():
            print(f"  {k:<36} {v:>14.6g} {res['per_layer_units'][k]}")
        shares = ", ".join(f"{c} {res['classes'].get(c, 0):.2f}"
                           for c in ("planning", "driver_gap", "shuffle", "kernel"))
        print(f"  workload classes (share of ops): {shares}")

    # the end-to-end figures in both modes, for spread.py's overhead report
    print("end_to_end " + json.dumps(res["end_to_end"]))
    correct = failed == 0 and not problems
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    units = res["per_layer_units"] if a.trace else END_TO_END_UNITS
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    sys.stdout.flush()
    if not correct:
        for p in problems:
            print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
