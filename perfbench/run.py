#!/usr/bin/env python3
"""Seeded benchmark of the KG engine.

    python3 perfbench/run.py --workload kg_broadcast|kg_salted \
        --seed N --seconds S --trace 0|1

Run from the repository root. Compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler shipped in the Spark jars
directory ($SPARK_HOME/jars, else the one build.sbt names) into perfbench/.build,
reusing the output while no source changes, then runs one benchmark JVM.
Inputs, stores and Spark scratch space live in perfbench/.work/<pid> and are
removed when the run ends. The last stdout line is the result JSON; nothing
is printed on stdout when the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt names
    (`unmanagedBase := file("...")`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


JARS = spark_jars()
RUN_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 outside spark-submit
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources(d, ext):
    return sorted(glob.glob(os.path.join(d, "**", "*" + ext), recursive=True))


def resources():
    if not os.path.isdir(PROGRAM_RES):
        return []
    return sorted(p for p in glob.glob(os.path.join(PROGRAM_RES, "**"),
                                       recursive=True) if os.path.isfile(p))


def scalac(out, cp, files):
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail(f"compile failed ({out})", 3)


def build():
    """Compiled class dirs (program, benchmark), rebuilt when a source changes."""
    prog = sources(PROGRAM_SRC, ".scala")
    bench = sources(BENCH_SRC, ".scala")
    if not prog:
        fail(f"no program sources under {PROGRAM_SRC}")
    if not bench:
        fail(f"no benchmark sources under {BENCH_SRC}")
    if not glob.glob(os.path.join(JARS, "spark-core*.jar")):
        fail(f"no Spark jars in {JARS}")
    h = hashlib.sha256()
    for p in prog + resources() + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "OK")):
        shutil.rmtree(BUILD, ignore_errors=True)
        tmp = out + ".tmp"
        t0 = time.time()
        scalac(os.path.join(tmp, "program"), os.path.join(JARS, "*"), prog)
        for p in resources():
            dst = os.path.join(tmp, "program", os.path.relpath(p, PROGRAM_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        scalac(os.path.join(tmp, "bench"),
               os.path.join(tmp, "program") + os.pathsep + os.path.join(JARS, "*"),
               bench)
        with open(os.path.join(tmp, "OK"), "w") as f:
            f.write("ok\n")
        os.rename(tmp, out)
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.path.join(out, "program"), os.path.join(out, "bench")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["kg_broadcast", "kg_salted"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    program, bench = build()
    work = os.path.join(WORK, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms4g", "-Xmx4g", "-Xss4m",
           f"-Djava.io.tmpdir={work}/tmp"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([bench, program, os.path.join(JARS, "*")]),
            "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except Exception:
        fail("no result line from the benchmark JVM", 6)
    print("\n".join(lines))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
