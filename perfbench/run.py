#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload curate_corpus --seed 1 --seconds 30 --trace 0

The script compiles the engine (``src/main/scala``) and the harness
(``perfbench/src``) with the Scala compiler shipped in the Spark jars, caches
the classes under ``$CARGO_TARGET_DIR`` (default ``.bench_build``), generates
the seeded inputs (``perfbench/gen.py``, cached by workload, seed and size),
runs the workload in one JVM at ``local[<cores>]`` and prints one JSON result
as the last line of standard output: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Every run state
directory lives under the build directory and is removed at the end.

A run does a fixed amount of work (one pass, or a fixed request sequence),
so runs of different lengths never time different work; ``--seconds`` is
accepted and ignored, and ``run_seconds`` in ``BENCHMARK.json`` states about
how long the timed section takes.

``--selftest`` runs the harness self-tests instead.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# workload -> the parts its process runs, each with its own inputs, and the
# parts only its traced run adds (README, "Workloads")
WORKLOADS = {"curate_corpus": ("curate_corpus",), "index_serve": ("index_serve",)}
TRACED_PARTS = {"index_serve": ("tabular_learn",)}
TIMEOUT_S = 175
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars next to
    the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 distribution")
    d = os.path.join(home, "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {d}")
    return jars


def scalac(sources, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath)] + sources
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compiling {len(sources)} sources failed")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    log(f"compiled {len(sources)} sources in {time.time() - t0:.1f} s")


def build(build_dir):
    """Compile engine and harness unless the cached classes match the
    sources; returns the runtime classpath."""
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala "
                         "(run from the root of a checkout)")
    jars = spark_jars()
    out = {}
    for name, srcs, extra in (("engine", engine, []),
                              ("harness", harness, ["engine"])):
        h = hashlib.sha256()
        for p in jars + srcs:
            h.update(p.encode())
        for p in srcs:
            with open(p, "rb") as f:
                h.update(f.read())
        for e in extra:
            h.update(out[e + "_stamp"].encode())
        stamp = h.hexdigest()
        classes = os.path.join(build_dir, name, "classes")
        stamp_file = os.path.join(build_dir, name, "stamp")
        cur = open(stamp_file).read() if os.path.exists(stamp_file) else ""
        if cur != stamp or not os.path.isdir(classes):
            scalac(srcs, classes, jars + [out[e] for e in extra])
            with open(stamp_file, "w") as f:
                f.write(stamp)
        out[name], out[name + "_stamp"] = classes, stamp
    return [out["harness"], out["engine"], os.path.join(
        os.path.dirname(jars[0]), "*")]


def run_jvm(classpath, workload, inputs, run_dir, trace):
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: the JVM writes nothing outside the checkout.
    # ParallelGC: a throughput collector; on these short batch JVMs it cut
    # the timed work by about 7% against G1 (4-vCPU host, same seed)
    cmd += ["-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={run_dir}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(classpath), "graftbench.Main",
            workload, run_dir, str(trace)] + inputs
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {workload} exceeded {TIMEOUT_S} s")
    if code != 0:
        raise SystemExit(f"perfbench: harness JVM exited with {code}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    if a.selftest:
        import selftest
        return selftest.main()
    if not a.workload:
        ap.error("--workload is required")

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classpath = build(build_dir)
    inputs = []
    for part in WORKLOADS[a.workload] + (TRACED_PARTS.get(a.workload, ()) if a.trace else ()):
        d, planted = gen.ensure_inputs(os.path.join(build_dir, "inputs"),
                                       part, a.seed)
        inputs.append(d)
        shares = {k: v for k, v in planted.items() if not isinstance(v, list)}
        print(json.dumps({"workload": a.workload, "inputs": shares}))

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result = run_jvm(classpath, a.workload, inputs, run_dir, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = metrics.fail_counts(result)
    for c in result["checks"]:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    for name, v, unit, better, n in metrics.workload_report(a.workload, result):
        print(f"{a.workload} {name} = {fmt(v)} {unit} ({better} is better, n={n})")
    if a.trace:
        values = metrics.per_layer(a.workload, result)
        wanted = bench["per_layer"]
        traced_work = metrics.unstolen(metrics.work_seconds(a.workload, result),
                                       result["steal"]["timed"])
        print(json.dumps({"workload": a.workload, "per_layer": values,
                          "traced_work_s": traced_work}))
    else:
        values = {k: v for k, (v, _) in metrics.end_to_end(a.workload, result).items()}
        wanted = bench["end_to_end"]
    out = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or v != v:
            raise SystemExit(f"perfbench: metric {m['name']} was not measured")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
