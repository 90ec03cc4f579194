#!/usr/bin/env python3
"""Pipeline-run benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler shipped in the Spark jars
into .bench_build/, writes the seed's inputs under .bench_build/inputs/ in a
JVM without Spark (once per workload and seed), then runs one workload in
one JVM. The last line of stdout is the JSON result.
"""
import argparse
import glob
import hashlib
import os
import subprocess
import sys
import time

BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the first <dir>/../jars beside a PATH entry."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else \
        [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob("perfbench/src/*.scala"))
    if not prog:
        fail("no program sources under src/main/scala: run from the repository root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    return prog + bench


def build(jars, srcs):
    """Compile into .bench_build/classes unless the sources are unchanged."""
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    t0 = time.time()
    with open(os.path.join(BUILD, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", jars, "@" + os.path.join(BUILD, "sources.txt")])
    if r.returncode != 0:
        fail("compile failed")
    subprocess.run(["rm", "-rf", classes], check=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"build: compiled {len(srcs)} files in {time.time() - t0:.1f} s", flush=True)
    return classes


def stage(jvm, workload, seed, timeout):
    """Write the inputs of (workload, seed) once; returns their directory."""
    out = os.path.join(BUILD, "inputs", f"{workload}-{seed}")
    if os.path.exists(os.path.join(out, "ready")):
        return out
    tmp = out + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    r = subprocess.run(jvm + ["perfbench.Stage", "--workload", workload, "--seed", str(seed),
                              "--out", tmp], timeout=timeout)
    if r.returncode != 0:
        fail("staging the inputs failed")
    open(os.path.join(tmp, "ready"), "w").close()
    subprocess.run(["rm", "-rf", out], check=True)
    os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload is required")
    jars = spark_jars()
    srcs = sources()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars, srcs)
    deadline = time.time() + RUN_TIMEOUT_S
    cp = os.pathsep.join([classes, "src/main/resources", jars])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap and young generation, so heap growth does not vary
    # from run to run
    jvm = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + opens + ["-cp", cp]
    try:
        if a.selftest:
            cmd = jvm + ["perfbench.SelfTest"]
        else:
            inputs = stage(jvm, a.workload, a.seed, RUN_TIMEOUT_S)
            cmd = jvm + ["perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
                         "--input", inputs, "--seconds", str(a.seconds), "--trace", a.trace]
        r = subprocess.run(cmd, timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"timed out after {RUN_TIMEOUT_S} s")
    finally:
        subprocess.run(["rm", "-rf", tmp, os.path.join(BUILD, "work")])
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
