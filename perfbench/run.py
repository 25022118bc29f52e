#!/usr/bin/env python3
"""Build the program and its benchmark from source, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --self-test

The program (``src/main/scala``) and the benchmark (``perfbench/src``) are
compiled with the Scala compiler that ships in Spark's ``jars`` directory
(found through ``SPARK_HOME`` or ``spark-submit`` on ``PATH``) into
``.bench_build/``. Each build is keyed by a hash of its sources, so later runs
reuse it. The benchmark JVM writes its result object to a file; this script
prints it as the last line of standard output and exits with the JVM's code.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 175
COMPILE_TIMEOUT_S = 800
HEAP = "-Xmx3g"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def scala_sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def compile_once(name, files, classpath, jars, key):
    """Compile `files` into BUILD/<name>-<key>/ unless that directory exists."""
    out = BUILD / f"{name}-{key}"
    if out.is_dir():
        return out
    for old in BUILD.glob(f"{name}-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD / f"tmp-{name}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(tmp)]
    if classpath:
        cmd += ["-cp", os.pathsep.join(str(c) for c in classpath)]
    cmd += [str(f) for f in files]
    print(f"perfbench: compiling {name} ({len(files)} files)", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed")
    tmp.rename(out)
    return out


def build(jars):
    prog = scala_sources(PROGRAM_SRC) if PROGRAM_SRC.is_dir() else []
    if not prog:
        fail(f"no program sources under {PROGRAM_SRC.relative_to(ROOT)}")
    bench = scala_sources(BENCH_SRC)
    if not bench:
        fail("no benchmark sources under perfbench/src")
    prog_key = tree_hash(prog)
    prog_out = compile_once("program", prog, [], jars, prog_key)
    bench_key = tree_hash(bench, prog_key)
    bench_out = compile_once("bench", bench, [prog_out], jars, bench_key)
    return [bench_out, prog_out]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    work = ROOT / ".bench_build" / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"

    main_class = "perfbench.SelfTest" if a.self_test else "perfbench.Main"
    cmd = ["java", *[f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS],
           HEAP, "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dfile.encoding=UTF-8",
           "-Dsun.jnu.encoding=UTF-8",
           f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
           "-cp", os.pathsep.join([*(str(c) for c in classes), f"{jars}/*"]),
           main_class,
           "--work", str(work), "--result", str(result),
           "--digests", str(ROOT / "perfbench" / "digests.json"),
           "--benchmark", str(ROOT / "BENCHMARK.json"),
           "--traces", str(ROOT / ".bench_build" / "traces")]
    if not a.self_test:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    line = result.read_text().strip() if result.exists() else ""
    shutil.rmtree(work, ignore_errors=True)
    if a.self_test:
        sys.exit(code)
    if line:
        sys.stdout.flush()
        print(line)
    sys.exit(code if code != 0 or line else 1)


if __name__ == "__main__":
    main()
