"""Build graft and the benchmark harness with the Scala compiler that
ships in Spark's jar directory: plain `scalac` through `java -cp`, no sbt,
no network. Output goes to `.bench_build/` at the repository root and is
reused while the sources are unchanged (a digest of every source file
and of the jar list is the cache key).

Usage: python3 perfbench/build.py   (prints the class path)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars graft builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home:
        base = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        base = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(base, "*.jar"))) if base else []
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME to a Spark distribution")
    return jars


def _sources(base, exts=(".scala", ".java")):
    out = []
    for root, _, names in os.walk(base):
        out += [os.path.join(root, n) for n in names if n.endswith(exts)]
    return sorted(out)


def _digest(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def _scalac(jars, classpath, dest, srcs):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", ":".join(classpath), "-d", dest] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"compile failed: {dest}")


def _cached(name, key, compile_into):
    """Return .bench_build/<name>-<key>, compiling it unless present."""
    dest = os.path.join(OUT, f"{name}-{key[:16]}")
    if not os.path.exists(os.path.join(dest, "OK")):
        for old in glob.glob(os.path.join(OUT, f"{name}-*")):
            shutil.rmtree(old)
        compile_into(os.path.join(dest, "classes"))
        open(os.path.join(dest, "OK"), "w").close()
    return os.path.join(dest, "classes")


def build():
    """Compile what changed; return the run-time class path."""
    graft_src = os.path.join(ROOT, "src", "main")
    g, b = _sources(graft_src), _sources(os.path.join(HERE, "src"))
    if not g:
        raise SystemExit(f"no graft sources under {graft_src}")
    jars = spark_jars()
    gkey = _digest(g, jars)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        graft_cls = _cached("graft", gkey, lambda d: _scalac(jars, jars, d, g))
        bench_cls = _cached("bench", _digest(b, [gkey]),
                            lambda d: _scalac(jars, [graft_cls] + jars, d, b))
    resources = os.path.join(graft_src, "resources")
    return [graft_cls, bench_cls] + ([resources] if os.path.isdir(resources) else []) + jars


if __name__ == "__main__":
    print(":".join(build()))
