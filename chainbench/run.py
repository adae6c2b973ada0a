#!/usr/bin/env python3
"""Run the ODS -> DWS chain benchmark once and print its result.

    python3 chainbench/run.py --workload chain_tick --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the repository's
main sources together with the benchmark (sbt, offline) and caches the
classpath under chainbench/.build; later runs start the JVM directly.
The last line of standard output is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics, or per-layer ones with --trace 1).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
MAIN_SOURCES = os.path.join(REPO, "src", "main", "scala")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every input of the build, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    roots = [MAIN_SOURCES, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p[len(REPO):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, compiling first if the sources changed."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in out.stdout.splitlines() if "chainbench" in l and "classes" in l
             and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(MAIN_SOURCES):
        raise SystemExit("the repository's sources (src/main/scala) are not beside "
                         "chainbench/; run from a full checkout")
    built_now = not os.path.exists(os.path.join(BUILD, "stamp"))
    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    # keep every file Spark writes inside the benchmark's work directory
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "chainbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--root", os.path.join(WORK, "run")])
    proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=(600 if built_now else 170))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark run timed out")
    sys.stdout.write(stdout)
    sys.stdout.flush()
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
