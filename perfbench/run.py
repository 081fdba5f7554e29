#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--scale full|tiny]

Run from the repository root. The first run builds, into .bench_build/:
it compiles the engine (src/main/scala) and the harness (perfbench/src)
with the Scala compiler that ships in $SPARK_HOME/jars, packs the classes
into a jar, and runs every workload once at tiny scale to dump a JVM
class-data archive (which cuts JVM and Spark start-up by about half).
Later runs reuse the build while the sources are unchanged.

Each run is one JVM on a local[N] Spark session, N = min(4, nproc - 1).
--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
prints the per-layer metrics of a traced run and writes its spans to
.bench_build/traces/. --scale tiny runs the same code on tiny inputs.
Workloads not listed in BENCHMARK.json (graph_iterate) print every metric
they measure. A traced run of a listed workload fails if it misses a
per-layer metric, unless metrics.json lists the workload under that
metric's flat_on (a layer it never calls, which reads 0).
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = HERE / "src"
SIZES = HERE / "workloads.json"
DEADLINE_S = 170        # a run that reuses the build
FIRST_DEADLINE_S = 880  # a run that builds first
HEAP = "2g"  # peak RSS stays near 2 GB; the machine's memory is shared

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
] + ["-Xss8m", "-Xlog:all=warning:stderr", "-Dspark.ui.enabled=false",
     f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
     f"-Djava.io.tmpdir={BUILD / 'tmp'}"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark install with a jars/ directory")
    return str(pathlib.Path(home) / "jars" / "*")


def run_bounded(cmd, deadline, capture=True):
    """Run cmd in its own process group, Spark scratch space inside the
    build directory; kill the group at the deadline. Returns (exit code,
    stdout) or None on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(BUILD / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                            start_new_session=True, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def harness_cmd(jar, jars, extra, args):
    return [java(), f"-Xmx{HEAP}", *JVM_OPTS, *extra,
            "-cp", f"{jar}{os.pathsep}{jars}", "perfbench.Main",
            "--build-dir", str(BUILD), "--sizes", str(SIZES), *args]


def build(jars, deadline, train):
    """Compile, jar and archive engine + harness once per source tree; the
    class-data archive is dumped from tiny runs of the `train` workloads.
    Returns the build directory and whether this call built it."""
    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / "build" / digest.hexdigest()[:16]
    if (out / ".ok").exists():
        return out, False
    shutil.rmtree(BUILD / "build", ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    (BUILD / "tmp").mkdir(exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    res = run_bounded([java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                       "-nowarn", "-classpath", jars, "-d", str(classes), f"@{argfile}"],
                      deadline, capture=False)
    if res is None or res[0] != 0:
        fail("compilation failed", 1)
    with zipfile.ZipFile(out / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    res = run_bounded(harness_cmd(out / "perfbench.jar", jars,
                                  [f"-XX:ArchiveClassesAtExit={out / 'classes.jsa'}"],
                                  ["--workload", "train", "--train", ",".join(train),
                                   "--seed", "1"]),
                      deadline)
    if res is None or res[0] != 0:
        fail("the tiny training run failed", 1)
    (out / ".ok").touch()
    return out, True


def main():
    start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    jars = spark_jars()
    spec = json.loads(SIZES.read_text())
    if a.workload not in spec:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec)}")
    bench_path = ROOT / "BENCHMARK.json"
    bench = json.loads(bench_path.read_text()) if bench_path.exists() else {}
    gated = [w["name"] for w in bench.get("workloads", [])]
    out, fresh = build(jars, start + FIRST_DEADLINE_S, gated or list(spec))
    archive = out / "classes.jsa"
    extra = [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else []
    res = run_bounded(harness_cmd(out / "perfbench.jar", jars, extra,
                                  ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", a.trace,
                                   "--scale", a.scale]),
                      start + (FIRST_DEADLINE_S if fresh else DEADLINE_S))
    if res is None:
        fail("workload did not finish before the deadline", 1)
    code, stdout = res
    result = None
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if code != 0 or result is None:
        fail(f"workload exited with code {code} and no result", 1)
    if a.workload in gated:
        want = bench["per_layer" if a.trace == "1" else "end_to_end"]
        got = result["metrics"]
        if a.trace == "1":
            # A layer the workload never calls did no work: only metrics whose
            # map entry lists the workload as flat may be absent, and read 0.
            layer_map = json.loads((HERE / "metrics.json").read_text())["per_layer"]
            for m in want:
                if a.workload in layer_map.get(m["name"], {}).get("flat_on", []):
                    got.setdefault(m["name"], {"value": 0, "unit": m["unit"]})
        bad = [m["name"] for m in want
               if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
        if bad:
            fail(f"metrics missing or in the wrong unit: {', '.join(bad)}", 1)
        result["metrics"] = {m["name"]: got[m["name"]] for m in want}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
