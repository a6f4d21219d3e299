#!/usr/bin/env python3
"""Build the program with the benchmark and run one workload.

    python3 perfbench/run.py --workload <backfill|serve|ingest|dedup> \
        --seed <n> --seconds <s> --trace <0|1> [--selftest]

Run from the root of a source tree. The first run compiles src/main/scala
together with perfbench/src into .bench_build/ (scalac from the Spark
distribution's jars, no sbt) and records a class-data archive for JVM
start-up from one op of each gated workload; later runs reuse both while the
sources are unchanged. Each run works in its own directory under .bench_tmp/, removed
at exit; traced runs write their spans to .bench_out/. The last line of
standard output is the run's JSON result.
"""
import argparse
import fcntl
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from pathlib import Path

START = time.monotonic()
ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
LIMIT_S = 175  # a run must end within 180 s once built

# A fixed-size heap with the parallel collector: its young generation is
# touched once and the old generation only grows by promotion, so peak RSS
# follows retained memory instead of when G1 happened to expand its regions.
# JVM warnings go to stderr, so standard output ends with the result line.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + [
    x for p in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the directory the program's build.sbt names."""
    dirs = [Path(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            dirs.append(Path(m.group(1)))
    for d in dirs:
        jars = sorted(d.glob("*.jar"))
        if jars:
            return jars
    fail("no Spark jars found: set SPARK_HOME")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail(f"no program sources at {main}: run from the root of a source tree")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(jars):
    """Compile once per distinct source set; return the jar and whether it
    was built now."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join([j.name for j in jars] + JVM_FLAGS).encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = BUILD / "stamp"
        jar = BUILD / "perfbench.jar"
        if stamp_file.exists() and stamp_file.read_text() == stamp and jar.is_file():
            return jar, False
        stamp_file.unlink(missing_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir()
        (BUILD / "sources.txt").write_text("\n".join(str(p) for p in srcs) + "\n")
        compiler = [j for j in jars if j.name.startswith(("scala-compiler", "scala-library",
                                                          "scala-reflect"))]
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(map(str, compiler)),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(map(str, jars)),
               "-d", str(classes), f"@{BUILD / 'sources.txt'}"]
        print("perfbench: compiling the program and the benchmark ...", file=sys.stderr)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            shutil.rmtree(classes, ignore_errors=True)
            fail("compilation failed")
        # one jar for the classes (a class-data archive cannot map a
        # directory), then a class-data archive from one short pass over the
        # gated workloads (Main.train), which halves JVM and Spark start-up
        jar = BUILD / "perfbench.jar"
        with zipfile.ZipFile(jar, "w") as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes).as_posix())
        shutil.rmtree(classes)
        archive = BUILD / "classes.jsa"
        archive.unlink(missing_ok=True)
        train = BUILD / "train"
        shutil.rmtree(train, ignore_errors=True)
        (train / "tmp").mkdir(parents=True)
        with open(BUILD / "train.log", "w") as log:
            code = subprocess.run(
                jvm(jar, jars, train, share=False)
                + [f"-XX:ArchiveClassesAtExit={archive}", "perfbench.Main",
                   "--train", "1", "--dir", str(train)],
                stdout=log, stderr=subprocess.STDOUT, cwd=train).returncode
        shutil.rmtree(train, ignore_errors=True)
        if code != 0 or not archive.is_file():
            archive.unlink(missing_ok=True)
            fail(f"recording the class-data archive failed (exit {code}); "
                 f"see {BUILD / 'train.log'}")
        stamp_file.write_text(stamp)
        return jar, True


def jvm(jar, jars, run_dir, share=True):
    """The JVM command line every run shares, up to the main class. A run
    maps the class-data archive or fails (-Xshare:on): a JVM that silently
    loaded every class from the jars would add seconds to setup_s."""
    return (["java"] + JVM_FLAGS
            + (["-Xshare:on", f"-XX:SharedArchiveFile={BUILD / 'classes.jsa'}"] if share else [])
            + [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
               "-cp", ":".join([str(jar)] + [str(j) for j in jars])])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "serve", "ingest", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="show that every check rejects a corrupted output")
    a = ap.parse_args()

    jars = spark_jars()
    jar, built = build(jars)
    limit = LIMIT_S - (0 if built else time.monotonic() - START)

    run_dir = ROOT / ".bench_tmp" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (jvm(jar, jars, run_dir)
           + ["perfbench.Main", "--launched-ns", str(time.monotonic_ns()),
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--dir", str(run_dir), "--out", str(ROOT / ".bench_out")]
           + (["--selftest"] if a.selftest else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_dir,
                            start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=max(limit, 10))
    except subprocess.TimeoutExpired:
        print("perfbench: the run exceeded its time limit", file=sys.stderr)
        stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.write(out)
    sys.exit(proc.returncode if proc.returncode >= 0 else 1)


if __name__ == "__main__":
    main()
