"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`, `src/main/resources`) together with the benchmark's own
JVM program (`perfbench/scala`) with the Scala compiler that ships in the
Spark jar directory the repo's build.sbt names (`unmanagedBase`).

    python3 perfbench/build.py        # prints the classpath it built

The output lands in perfbench/.work/build/<hash of every input source>,
so a build is reused only for byte-identical sources and never across a
change.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory from build.sbt's `unmanagedBase := file(...)`."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise SystemExit("no build.sbt here: run from the root of the repository")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(root, "src", "main", "resources"),
            os.path.join(HERE, "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, root)}")
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            for n in sorted(names):
                yield d, os.path.join(base, n)


def build(root, work):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars(root)
    files = list(_sources(root))
    h = hashlib.sha256()
    for _, p in files:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(work, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    shutil.rmtree(os.path.join(work, "build"), ignore_errors=True)
    os.makedirs(classes)
    resources = os.path.join(root, "src", "main", "resources")
    for d, p in files:
        if d == resources:
            dst = os.path.join(classes, os.path.relpath(p, resources))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
    srcs = [p for _, p in files if p.endswith(".scala")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("compilation failed")
    open(os.path.join(out, "ok"), "w").close()
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(HERE, ".work")))
