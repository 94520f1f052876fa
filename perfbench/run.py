#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout.

    python3 perfbench/run.py --workload forage_batch --seed 1 --seconds 10 --trace 0

Builds the program (`sbt compile`) and the benchmark (scalac from the Spark
distribution's jars, against the program's classes) into `.bench_build/`
when their sources changed, then runs the workload in one JVM. The JVM's
logs go to stderr; the last stdout line is the result JSON, checked against
BENCHMARK.json. Everything the run writes stays under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"


def spark_home():
    """SPARK_HOME, else the distribution whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else Path("spark-home-not-found")


# the Spark jars build.sbt compiles against (its unmanagedBase)
SPARK_JARS = spark_home() / "jars"
SCALA_VERSION = "2.13.17"
HEAP = "4g"
RUN_TIMEOUT_S = 170
SBT_TIMEOUT_S = 450
SCALAC_TIMEOUT_S = 250
# build.sbt's fork options: JDK 17 module opens, no UI, UTC.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
JVM_OPTS = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
]
# sbt resolves offline, from the repositories file of the user's sbt setup
SBT_REPOS = Path.home() / ".sbt" / "repositories"
SBT_OFFLINE = " ".join(
    ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={SBT_REPOS}"]
     if SBT_REPOS.is_file() else []) + ["-Dsbt.offline=true -Xmx2g"])


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((HERE / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def call(cmd, timeout, **kw):
    """Run a build step in its own process group, killing the whole group if
    it outlives `timeout`; return its exit code."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1


def spark_classpath():
    jars = sorted(SPARK_JARS.glob("*.jar"))
    if not jars:
        fail(f"no Spark jars in {SPARK_JARS}")
    return jars


def build():
    """Compile the program and the benchmark unless the stamp says they are current."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"{ROOT} is not a checkout of the program: build.sbt or src/main/scala is missing")
    stamp = BUILD / "stamp"
    want = digest(sources())
    classes = BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == want and classes.is_dir():
        return classes
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OFFLINE))
    t0 = time.time()
    if call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], SBT_TIMEOUT_S,
            cwd=ROOT, env=env) != 0:
        fail("sbt compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [SPARK_JARS / f"scala-{n}-{SCALA_VERSION}.jar" for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        fail(f"Scala compiler jars missing: {missing}")
    cp = [ROOT / "target" / "scala-2.13" / "classes"] + spark_classpath()
    srcs = sorted((HERE / "src").rglob("*.scala"))
    if call(["java", "-Xmx1g", "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
             "-deprecation", "-d", str(classes), "-classpath", os.pathsep.join(map(str, cp))]
            + [str(s) for s in srcs], SCALAC_TIMEOUT_S) != 0:
        fail("compiling the benchmark failed")
    stamp.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def declared(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(classes, main, args):
    """Run a benchmark main in a fresh work directory; return its exit code
    and result line (None when it printed none)."""
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cp = [classes, ROOT / "target" / "scala-2.13" / "classes", SPARK_JARS / "*"]
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", os.pathsep.join(map(str, cp)), main] + args + ["--work", str(work), "--data", str(HERE / "data"),
                     "--cpus", str(len(os.sched_getaffinity(0)))])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    killer = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    killer.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_RESULT "):
                result = line[len("PERFBENCH_RESULT "):].strip()
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        proc.stdout.close()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, result


def validate(line, trace):
    """The result must carry exactly the metrics BENCHMARK.json declares, in its units."""
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(res)}")
    want = declared(trace)
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))} "
             f"or units {[(k, got.get(k), u) for k, u in want.items() if got.get(k) != u]}")
    return res


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = p.parse_args()
    classes = build()
    rc, line = run_jvm(classes, "perfbench.Main",
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    if rc != 0 or line is None:
        fail(f"benchmark JVM exited with {rc} and no result")
    res = validate(line, a.trace)
    for name, m in res["metrics"].items():
        print(f"{a.workload} {name} = {m['value']} {m['unit']}")
    print(f"{a.workload} correct = {res['correct']}, error_rate = "
          f"{res['failed'] / res['attempted']} ({res['failed']} of {res['attempted']} failed)")
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
