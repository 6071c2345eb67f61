#!/usr/bin/env python3
"""Build and run the continuous-Q10 benchmark.

Run from the repository root:

    python3 q10bench/run.py --workload q10_stream --seed 1 --seconds 10 --trace 0

The first run compiles the repository's main sources together with the
benchmark (sbt, offline) and writes the base tables; later runs reuse
both. The last line of standard output is the run's JSON record.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
WORKLOADS = ("q10_replay", "q10_stream")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_inputs():
    """Every file whose change calls for a rebuild."""
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                yield os.path.join(d, f)


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile if any source changed since the last build; return the
    runtime classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.exit(f"q10bench: build failed (sbt exit {out.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("q10bench: the repository's sources (src/main/scala/graft) are missing; "
                 "run from a full checkout")
    cp = classpath()
    # checkpoints, shuffle files and temp files of this run only
    scratch = os.path.join(WORK, "runs", str(os.getpid()))
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "q10bench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", WORK, "--scratch", scratch])
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
