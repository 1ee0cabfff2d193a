#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 24 --trace 0

Builds graft and the benchmark's JVM runner from source (cached by a
digest of the sources). One JVM sets up (Spark session plus the
workload's untimed warm passes, timed from JVM start), then runs the
workload's registry queries in a closed loop: one client, one query at
a time on local[nproc], over the testdata tables copied into
perfbench/data/. Each query's output is reduced to an
order-insensitive digest of all its columns and compared with
perfbench/expected.json. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The full record (run environment, per-query times, the percentile
behind query_tail_s) goes to .bench_build/perfbench/results/, next to
the raw spans of a traced run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170
# -Xms = -Xmx, so that how far G1 has grown the heap from its small
# default start is not one more thing that differs between runs
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import layers  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not prog:
        fail(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}; "
             "run from the repository root")
    return prog + bench


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark install's jars (they include the Scala compiler), from
    SPARK_HOME or else from the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("no Spark install with the Scala compiler in its jars/; set SPARK_HOME")
    return os.path.join(home, "jars", "*")


def runner(args, cp, scratch, log_path):
    """Run graftbench.Main in a fresh scratch dir that also serves as its
    tmpdir and Spark local dir; returns the exit code, None on timeout."""
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Main", *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=tmp)
    with open(log_path, "w") as log:
        try:
            return subprocess.run(cmd, cwd=scratch, env=env, stdout=log,
                                  stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            return None


def build(jars):
    """Compile graft and the runner with scalac into one jar, skipped when
    the sources are unchanged since the last build. Returns the runner
    classpath."""
    srcs = sources()
    stamp = digest_files(srcs)
    jar = os.path.join(WORK, "graft-bench.jar")
    stamp_file = os.path.join(WORK, "build.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        for f in (stamp_file, jar):
            if os.path.exists(f):
                os.remove(f)
        classes = os.path.join(WORK, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", classes, "-cp", jars] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            for d, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, classes))
        shutil.rmtree(classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"{jar}:{jars}"


def host():
    """loadavg triple and the cumulative steal ticks of the host."""
    try:
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        return load, int(cpu[8]) if len(cpu) > 8 else None
    except OSError:
        return None, None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT)),
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; one of {sorted(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    queries = wl["queries"]
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)["digests"][a.workload]

    cp = build(spark_jars())
    data = os.path.join(HERE, "data", f"sf{wl['scale_factor']}")
    scratch = os.path.join(WORK, "scratch")
    raw_path = os.path.join(scratch, "raw.json")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    log_path = os.path.join(WORK, "results", f"{a.workload}-jvm.log")
    nproc = os.cpu_count() or 1

    load0, steal0 = host()
    # process CPU per pass falls over the first passes (JIT), so each
    # workload warms for about ten seconds; a q_hits pass is a third as
    # long as an etl_batch pass, hence its higher warm_passes
    code = runner(["--queries", ",".join(queries), "--data", data, "--seed", str(a.seed),
                   "--warm", str(wl["warm_passes"]), "--seconds", str(a.seconds),
                   "--trace", str(a.trace), "--out", raw_path],
                  cp, scratch, log_path)
    load1, steal1 = host()
    if code != 0 or not os.path.exists(raw_path):
        fail(f"runner exited with {code}; log in {os.path.relpath(log_path, ROOT)}")
    with open(raw_path) as f:
        raw = json.load(f)
    out = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    if a.trace:
        shutil.move(raw_path, out + ".spans.json")
    shutil.rmtree(scratch, ignore_errors=True)

    res = layers.evaluate(raw, expected, nproc, trace=bool(a.trace))
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "queries": queries,
        "environment": dict(
            raw["env"], scale_factor=wl["scale_factor"],
            git_commit=git_commit(), source_digest=digest_files(sources()),
            loadavg_start=load0, loadavg_end=load1,
            steal_ticks_delta=(steal1 - steal0) if steal0 is not None else None),
        **res["record"]}
    with open(out + ".json", "w") as f:
        json.dump(record, f, indent=1)
    for line in res["notes"]:
        print(line)
    print(f"full record: {os.path.relpath(out, ROOT)}.json")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
