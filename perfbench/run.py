"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --workload <dedup_stream|corpus_build> --seed <n> --record

`--record` runs the program once and prints the output digest that
`perfbench/expected.json` holds for that workload and seed.

Builds the program (see build.py), then starts one JVM that generates
the seeded inputs, drives the program's hosted entry point, checks its
outputs and prints one JSON result object as the last stdout line.
Scratch data lives under `.bench_build/run-<pid>` and is removed at exit;
traced runs keep their spans as JSON lines in `.bench_build/traces`.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# JVM flags Spark needs outside spark-submit on JDK 17 (as build.sbt sets them)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    classes, jars = build.build()
    root = os.path.join(build.REPO, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss32m", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + jars)]
    if a.selftest:
        cmd += ["perfbench.SelfTest", "--root", root]
    else:
        cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", root,
                "--bench-dir", HERE,
                "--trace-dir", os.path.join(build.REPO, ".bench_build", "traces"),
                "--record", "1" if a.record else "0"]
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: timed out after {TIMEOUT_S} s", file=sys.stderr)
        code = 1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
