#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

Builds the engine (src/main/scala) and the harness (perfbench/src) from
source with the Scala compiler that ships in the Spark distribution, then
runs one workload in a fresh JVM and prints its metrics, one per line, with
the result JSON object as the last line of standard output.

    python3 perfbench/run.py --workload tql_iot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload
    python3 perfbench/run.py --self-test                 # the harness's own tests
    python3 perfbench/run.py --make-expected             # re-pin expected results

Everything the benchmark writes stays in the checkout: .bench_build/
(classes), .bench_data/ (the generated corpus, made once per checkout),
.bench_work/ (Spark scratch, index trees) and .bench_out/ (run records,
spans, JVM logs).
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")


def spark_home():
    """SPARK_HOME, or the installed pyspark package, which bundles the jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    spec = importlib.util.find_spec("pyspark")
    return os.path.dirname(spec.origin) if spec and spec.origin else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
WORKLOADS = ["tql_iot", "ingest_serve"]
GOLDEN_WORKLOADS = ["tql_iot"]
HEAP = "4g"
# a run must end within 180 s; the first one in a checkout also builds and
# generates the corpus, which may take 900 s in all
RUN_TIMEOUT_S = 160
CORPUS_TIMEOUT_S = 600
LONG_TIMEOUT_S = 800

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_to(srcs, classpath, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + ["@" + argfile], cwd=ROOT)
    if r.returncode != 0:
        fail(f"compilation into {dest} failed")


def build():
    """Compile engine and harness unless the classes match the sources."""
    engine = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = scala_sources(os.path.join(HERE, "src"))
    if not engine:
        fail("no engine sources under src/main/scala: run from a full checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark distribution at {SPARK_JARS!r} (set SPARK_HOME)")
    h = hashlib.sha256()
    for p in engine + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    main_cls = os.path.join(BUILD, "engine-classes")
    bench_cls = os.path.join(BUILD, "bench-classes")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        os.makedirs(BUILD, exist_ok=True)
        compile_to(engine, None, main_cls)
        compile_to(bench, main_cls, bench_cls)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return [main_cls, bench_cls, os.path.join(SPARK_JARS, "*")]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def jvm(classpath, args, log_name, timeout):
    """Run the harness; return its stdout lines, or exit on failure."""
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"] +
           [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.commit={commit()}",
            "-cp", os.pathsep.join(classpath), "perfbench.Main"] + args)
    log_path = os.path.join(OUT, log_name)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {timeout} s (log: {log_path})")
    lines = out.splitlines()
    if proc.returncode != 0:
        sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: harness exited with {proc.returncode} (log: {log_path})",
              file=sys.stderr)
        sys.exit(1)
    return lines


def ensure_corpus(cp):
    """Generate the corpus in a JVM of its own, so that no measured run's
    JVM has been warmed by the generation."""
    with open(os.path.join(HERE, "src", "perfbench", "Corpus.scala")) as f:
        version = re.search(r'val Version = "(\w+)"', f.read()).group(1)
    if not os.path.exists(os.path.join(ROOT, ".bench_data", version, "_DONE")):
        jvm(cp, ["corpus", ROOT], "corpus.log", CORPUS_TIMEOUT_S)


def run_one(cp, workload, seed, seconds, trace):
    ensure_corpus(cp)
    lines = jvm(cp, ["run", workload, str(seed), str(seconds), str(trace), ROOT],
                f"{workload}-seed{seed}-trace{trace}.log", RUN_TIMEOUT_S)
    result = json.loads(lines[-1])
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--make-expected", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.make_expected):
        ap.error("give --workload, --self-test or --make-expected")
    cp = build()

    if a.self_test:
        ensure_corpus(cp)
        for line in jvm(cp, ["selftest", ROOT], "selftest.log", LONG_TIMEOUT_S):
            print(line)
        return
    if a.make_expected:
        ensure_corpus(cp)
        for w in GOLDEN_WORKLOADS:
            jvm(cp, ["expect", w, ROOT, os.path.join(HERE, "expected", f"{w}.tsv")],
                f"expect-{w}.log", LONG_TIMEOUT_S)
            print(f"perfbench: wrote expected/{w}.tsv")
        return

    if a.workload != "all":
        lines, result = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
        for line in lines:
            print(line)
        print(json.dumps(result))
        return

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        lines, result = run_one(cp, w, a.seed, a.seconds, a.trace)
        for line in lines:
            print(line)
        merged["correct"] = merged["correct"] and result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
