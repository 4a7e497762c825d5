#!/usr/bin/env python3
"""graft KG pipeline benchmark.

Runs one workload in one Spark process (local[N], N = min(4, cores),
shuffle partitions = N) and prints one JSON object as its last stdout line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones (setup_s, run_s, cpu_s, output_mb); with --trace 1
they are the per-layer ones of an extra traced run.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload delta_queries --seed 1 --seconds 5 --trace 1 --smoke

Run from the repository root: the program is compiled from src/main/scala
(plus perfbench/src) into .bench_build/, and every input is generated from
the seed under .bench_build/work/, which is removed when the run ends.
Spans of a traced run are kept in .bench_build/traces/.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

# scale factor per workload, and how often the inputs are generated (the
# median time counts in setup_s); --smoke shrinks everything
WORKLOADS = {"kg_build": 0.01, "delta_queries": 0.01}
GEN_REPS = 3
BUILD_DIR = ".bench_build"

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny scale (sf0.001), inputs generated once")
    return p.parse_args()


def prepare(work, a):
    """Generates the inputs GEN_REPS times; returns the median seconds."""
    sf = 0.001 if a.smoke else WORKLOADS[a.workload]
    times = []
    for _ in range(1 if a.smoke else GEN_REPS):
        t = time.perf_counter()
        datagen.generate(f"{work}/input", a.workload, a.seed, sf)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def jvm_command(jar, work, a, gen_s, archive=None):
    jars = os.path.join(build.spark_jars(), "*")
    conf = os.path.join(HERE, "conf")
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
        # a fixed set of JIT compiler threads, whose CPU cpu_s leaves out
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={conf}/log4j2.properties",
        f"-Dperfbench.conf={conf}",
    ]
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--input", f"{work}/input", "--gen-s", repr(gen_s)]
    if a.trace:
        args += ["--trace-out",
                 os.path.abspath(f"{BUILD_DIR}/traces/{a.workload}-seed{a.seed}.json")]
    if archive:
        opts.append(f"-XX:SharedArchiveFile={archive}")
    return ["java"] + opts + ["-cp", f"{jar}:{jars}", "graft.perfbench.Main"] + args


def class_archive(jar, stamp):
    """A class data sharing archive of the JVM's start-up classes, made once
    per build by a smoke run of kg_build: it cuts JVM start and warm-up for
    every later run. Returns None when the JVM could not make one.
    """
    archive = os.path.abspath(f"{BUILD_DIR}/perfbench.jsa")
    stamp_file = archive + ".stamp"
    if os.path.exists(archive) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return archive
    train = argparse.Namespace(workload="kg_build", seed=0, seconds=0.0, trace=0, smoke=True)
    work = os.path.abspath(f"{BUILD_DIR}/work/train-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    try:
        cmd = jvm_command(jar, work, train, prepare(work, train))
        cmd.insert(1, f"-XX:ArchiveClassesAtExit={archive}")
        made = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                              timeout=600).returncode == 0
    except subprocess.TimeoutExpired:
        made = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not made or not os.path.exists(archive):
        # a partial archive is never used
        if os.path.exists(archive):
            os.remove(archive)
        return None
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return archive


def main():
    a = parse()
    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: run from the repository root (src/main/scala not found)")
    jar, stamp = build.build(".", BUILD_DIR)
    jar = os.path.abspath(jar)
    archive = class_archive(jar, stamp)
    work = os.path.abspath(f"{BUILD_DIR}/work/{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    try:
        gen_s = prepare(work, a)
        done = subprocess.run(jvm_command(jar, work, a, gen_s, archive), stdout=subprocess.PIPE,
                              text=True, timeout=170)
        lines = [l for l in done.stdout.splitlines() if l.startswith("{")]
        if done.returncode != 0 or not lines:
            sys.exit(f"perfbench: benchmark process failed ({done.returncode})")
        result = json.loads(lines[-1])
        first = f"{work}/warmup1"
        bad = (oracle.check(a.workload, first) if os.path.exists(f"{first}/oracle.json")
               else ["first run"])
        if bad:
            print(f"perfbench: {a.workload} oracle mismatch: {bad}", file=sys.stderr)
            # every later run was checked against the first run's result
            result["failed"] = result["attempted"]
            result["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
