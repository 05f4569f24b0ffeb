"""Build the program and the benchmark harness from source.

Compiles the repository's `src/main/scala` together with
`perfbench/src` with the Scala compiler that ships in Spark's jar
directory, against those same jars (the `unmanagedBase` classpath
`build.sbt` uses).
Classes land in `.bench_build/perfbench/<source hash>/classes`; a build
whose sources are unchanged is reused.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars."""
    jars = None
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m and m.group(1)
    if not jars and os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jar directory ({jars})")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    roots = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: src/main/scala not found; run from a repository checkout")
    files = []
    for root in roots:
        for d, _, fs in os.walk(root):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile if needed; return (classes dir, classpath list)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(OUT, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss32m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.pathsep.join(jars), "@" + argfile]
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("perfbench: compilation failed")
        open(os.path.join(out, "ok"), "w").close()
    return classes, jars


if __name__ == "__main__":
    print(build()[0])
