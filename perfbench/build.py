#!/usr/bin/env python3
"""Build the program and the benchmark's JVM side from source.

Compiles the repository's `src/main/scala` (plus its resources) and then
`perfbench/jvm` against it, with the Scala compiler that ships among the
Spark jars the build uses (`unmanagedBase` in build.sbt, else
`$SPARK_HOME/jars`), into `<build dir>/classes`. The build dir is
`$CARGO_TARGET_DIR` if set, else `.bench_build`, relative to the root of
the checkout this file sits in. A stamp of every source file's content
makes a rebuild a no-op when nothing changed.

Run: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The Spark jars dir: the one build.sbt declares, else $SPARK_HOME's."""
    candidates = []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit(f"build: no Spark jars with a Scala compiler in {candidates}")


def sources():
    """(repo sources, repo resource files, benchmark sources), sorted."""
    main = os.path.join(ROOT, "src", "main")
    repo = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    res_root = os.path.join(main, "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))
    if not repo:
        raise SystemExit(f"build: no Scala sources under {main}; nothing to measure")
    return repo, res, bench


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, *files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")


def build():
    """Compile if needed; return the classpath entries for a run."""
    jars = spark_jars()
    repo, res, bench = sources()
    classes = os.path.join(build_dir(), "classes")
    repo_out = os.path.join(classes, "repo")
    bench_out = os.path.join(classes, "bench")
    stamp_file = os.path.join(classes, "stamp")
    want = stamp(repo + res + bench)
    have = open(stamp_file).read() if os.path.exists(stamp_file) else ""
    if have != want:
        shutil.rmtree(classes, ignore_errors=True)
        scalac(jars, os.path.join(jars, "*"), repo_out, repo)
        res_root = os.path.join(ROOT, "src", "main", "resources")
        for p in res:
            dst = os.path.join(repo_out, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        scalac(jars, os.pathsep.join([repo_out, os.path.join(jars, "*")]), bench_out, bench)
        with open(stamp_file, "w") as f:
            f.write(want)
    return [bench_out, repo_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
