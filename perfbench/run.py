"""graft benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The script compiles graft's main
sources and the harness with the Scala compiler that ships among Spark's
jars ($SPARK_HOME/jars, else the directory build.sbt compiles against),
caching the classes by source hash under $CARGO_TARGET_DIR (default
`.bench_build`). It generates the seed's inputs once (perfbench/gen.py,
cached per seed), runs the harness in one JVM on `GraftSession.local`
with every core, and prints the harness's report lines followed by one
JSON result line. It exits non-zero when the build fails, when an output
check fails or when graft's sources are missing.

Extra options, for the smoke test and for re-recording known answers:
`--scale` (input size, 1.0 = benchmark size), `--known` (known-answer
file), `--record-known 1`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query_mix", "transfer_bulk", "stream_drain", "index_serve")
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that graft's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    return main, harness


def _compile(root, jars, out, files, classpath, what):
    """Compile `files` into `out`, a directory named by a hash of its
    inputs; an existing directory is reused."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail(f"compiling {what} failed")
    os.rename(tmp, out)
    return out


def _digest(root, files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, jars, out_root, main, harness):
    """graft's classes (keyed by its sources), then the harness's (keyed
    by both); returns the classpath entries."""
    all_jars = os.path.join(jars, "*")
    g = _digest(root, main)
    graft = _compile(root, jars, os.path.join(out_root, f"graft-{g}"), main, [all_jars], "graft")
    h = _digest(root, harness, g)
    bench = _compile(root, jars, os.path.join(out_root, f"harness-{h}"), harness,
                     [graft, all_jars], "harness")
    return [bench, graft]


def generate(out_root, workload, seed, scale):
    data = os.path.join(out_root, "data", f"{workload}-s{seed}-x{scale:g}")
    if os.path.exists(os.path.join(data, "manifest.json")):
        return data
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), workload, str(seed),
                    str(scale), tmp], check=True, timeout=300)
    shutil.rmtree(data, ignore_errors=True)
    os.rename(tmp, data)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--known", default=os.path.join(HERE, "known_answers.json"))
    ap.add_argument("--record-known", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    main_src, harness_src = sources(root)
    if not main_src:
        fail("no graft sources under src/main/scala; run from the root of a graft checkout")
    jars = spark_jars(root)
    if not jars or not os.path.isdir(jars):
        fail(f"Spark jars not found (SPARK_HOME unset, build.sbt unmanagedBase: {jars})")
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    os.makedirs(out_root, exist_ok=True)
    classes = build(root, jars, out_root, main_src, harness_src)
    data = generate(out_root, a.workload, a.seed, a.scale)

    work = os.path.join(out_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    jvm = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m"]
    for p in JDK17_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
            "graftbench.Harness", "--workload", a.workload, "--data", data,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus), "--known", os.path.abspath(a.known),
            "--record", str(a.record_known)]
    log_path = os.path.join(out_root, "last-run.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    if proc.returncode != 0 or result is None or not result.get("correct"):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        for l in lines[:-1] if result else lines:
            print(l, file=sys.stderr)
        print(f"perfbench: {a.workload} failed (exit {proc.returncode}, "
              f"{time.time() - t0:.1f} s)", file=sys.stderr)
        sys.exit(1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
