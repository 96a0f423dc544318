#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload elt_sync --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the engine and the harness from
source with sbt (offline) into .bench_build/ and generates the read-only
catalog fixture there; later runs reuse both while the sources are
unchanged. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. Progress and Spark logs go to
stderr. `--record-expected` re-records perfbench/expected/catalog.tsv
from the current code instead of running a workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("elt_sync", "curation_graph", "curation_text")
FIXTURE_SCALE = "0.01"
HEAP = "3g"
RUN_LIMIT_S = 170  # per harness JVM; building is not counted
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def source_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def on_signal(signum, _frame):
    # SystemExit unwinds through run_checked, which stops the child
    raise SystemExit(128 + signum)


def run_checked(cmd, cwd, env, limit, stdout=None):
    """Run cmd in its own process group; stop the whole group on timeout,
    on error and when this script is told to stop."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {limit:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def java_cmd(classes, spark_jars, tmp, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *opens, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}{os.pathsep}{spark_jars}/*", main, *args])


def build(out, env):
    """Compile engine + harness when their sources changed."""
    sources = [ROOT / "src" / "main" / "scala", BENCH / "src" / "main", BENCH / "build.sbt",
               BENCH / "project" / "build.properties"]
    stamp = out / "build.stamp"
    digest = source_hash(sources)
    classes = out / "target" / "scala-2.13" / "classes"
    if stamp.is_file() and stamp.read_text() == digest and classes.is_dir():
        return classes
    log("building engine and harness with sbt")
    env = dict(env, PERFBENCH_TARGET=str(out / "target"), COURSIER_MODE="offline")
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = env.get("SBT_OPTS", "")
    env["SBT_OPTS"] = (f"{opts} -Dsbt.offline=true -Dsbt.server.autostart=false"
                       f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    code, _ = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          BENCH, env, BUILD_LIMIT_S)
    if code != 0:
        fail(f"sbt compile failed with exit code {code}")
    stamp.write_text(digest)
    return classes


def fixture(out, classes, spark_jars, env):
    """Generate the catalog fixture once per generator version; read-only."""
    gen = ROOT / "src" / "main" / "scala" / "graft" / "tools" / "GenSf.scala"
    key = source_hash([gen])[:12]
    target = out / "fixture" / f"sf{FIXTURE_SCALE}-{key}"
    if (target / "_COMPLETE").is_file():
        return target
    log(f"generating the sf{FIXTURE_SCALE} catalog fixture")
    staging = out / "fixture" / "staging"
    shutil.rmtree(staging, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    code, _ = run_checked(java_cmd(classes, spark_jars, tmp, "graft.tools.GenSf",
                                   [str(staging), FIXTURE_SCALE]), ROOT, env, 300)
    if code != 0:
        fail(f"fixture generation failed with exit code {code}")
    shutil.rmtree(target, ignore_errors=True)
    staging.rename(target)
    (target / "_COMPLETE").write_text(FIXTURE_SCALE + "\n")
    for f in target.iterdir():
        f.chmod(0o444)
    return target


def main():
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    if not a.record_expected and a.workload is None:
        ap.error("--workload is required")

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala/graft)")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not Path(spark_home, "jars").is_dir():
        fail("SPARK_HOME must name a Spark 4 install with a jars/ directory")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH")
    spark_jars = str(Path(spark_home, "jars"))
    # Spark would put its scratch space there instead of in the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}

    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    classes = build(out, env)
    fx = fixture(out, classes, spark_jars, env)
    expected = BENCH / "expected" / "catalog.tsv"

    work = out / "work" / str(os.getpid())
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        if a.record_expected:
            code, _ = run_checked(java_cmd(classes, spark_jars, tmp, "perfbench.Main", [
                "--work", str(work), "--fixture", str(fx),
                "--record-expected", str(expected)]), ROOT, env, RUN_LIMIT_S)
            sys.exit(code)
        trace_out = out / "traces" / f"{a.workload}-seed{a.seed}.json"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--fixture", str(fx),
                "--expected", str(expected), "--trace-out", str(trace_out)]
        code, stdout = run_checked(java_cmd(classes, spark_jars, tmp, "perfbench.Main", args),
                                   ROOT, env, RUN_LIMIT_S, stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.decode("utf-8", "replace").splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"harness exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
