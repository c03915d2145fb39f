#!/usr/bin/env python3
"""Shuffle benchmark: builds the program from source, runs one workload in
a fresh driver JVM and prints its metrics as one JSON object on the last
line of standard output.

Usage (from the repo root):
  python3 perfbench/run.py --workload {terasort,smallblocks-lat,query-mix}
      --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --make-expected OUT_DIR
      (dumps the query mix's results for scripts/check_oracle.py and
      writes OUT_DIR/expected.json; see perfbench/README)

The query mix reads the fixture tables from $SPARK_GRAFT_SF_DIR, else from
testdata/sf0.1 under the home directory. Everything the run writes lands in
the build directory ($CARGO_TARGET_DIR, else .bench_build).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TIMEOUT_S = 170
WORKLOADS = ("terasort", "smallblocks-lat", "query-mix")
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jvm(root, classes, work, main, args):
    for d in ("local", "tmp", "worker", "store"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_home(), "jars", "*")])
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties")]
    cmd += ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ, SPARK_SCALA_VERSION="2.13", TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"),
               SPARK_WORKER_DIR=os.path.join(work, "worker"))
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log,
                                start_new_session=True, text=True)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stdout = None
        finally:
            # executor JVMs of local-cluster share the driver's process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if stdout is None or proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit("perfbench: JVM %s" % ("timed out" if stdout is None
                                        else "exited with %d" % proc.returncode))
    return stdout.strip().splitlines()


def check_result(line, spec, trace):
    res = json.loads(line)
    want = spec["per_layer" if trace else "end_to_end"]
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        sys.exit("perfbench: malformed result line")
    got = res["metrics"]
    for m in want:
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]:
            sys.exit("perfbench: metric %s missing or in another unit" % m["name"])
    extra = set(got) - {m["name"] for m in want}
    if extra:
        sys.exit("perfbench: metrics not declared in BENCHMARK.json: %s" % sorted(extra))
    return res


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--make-expected", metavar="OUT_DIR")
    a = p.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = build.build_dir(root)
    os.makedirs(out, exist_ok=True)
    fixtures = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    work = os.path.join(out, "run")
    shutil.rmtree(work, ignore_errors=True)
    if not (a.workload or a.make_expected):
        p.error("--workload is required")
    classes = build.build(root, out)
    if a.make_expected:
        jvm(root, classes, work, "perfbench.Expected", [fixtures, os.path.abspath(a.make_expected)])
        return
    lines = jvm(root, classes, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--classes", classes,
        "--fixtures", fixtures,
        "--expected", os.path.join(root, "perfbench", "expected", "query_mix.json")])
    res = check_result(lines[-1], spec, a.trace == 1)
    for line in lines[:-1]:
        if line.startswith('{"not_applicable"'):
            print(line)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
