#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload read-mix --seed 7 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed, the harness
JVM runs one client on local[N] (N = usable cores) for --seconds, every op
result is checked against an independent expectation, and the last line of
stdout is the JSON result. A setup, build or correctness failure exits
non-zero; see perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("read-mix", "ingest-pipeline")
DEADLINE_S = 170          # a run must end well inside 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout also builds
HEAP = "3g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "heap_live_mb": "MB",
}

# op kinds per workload; each gets the OP_MEASURES in a traced run
LAYER_OPS = {
    "read-mix": ["read.get", "read.scan", "filter.scan", "agg.range", "read.multiget"],
    "ingest-pipeline": ["write.commit", "write.verify_get", "stream.replay", "flow.bulkload",
                        "ext.dedup", "ext.ann_topk", "ext.brute_topk", "ext.bm25"],
}
OP_MEASURES = {"plan_ms": "ms", "exec_ms": "ms", "jobs": "count", "stages": "count",
               "task_ms": "ms", "shuffle_bytes": "bytes"}
LAYER_EXTRAS = {
    "run.op_p50_ms": "ms",
    "run.items_per_s": "1/s",
    "write.bytes_per_user_byte": "ratio",
    "flow.bulkload.bytes_per_cell": "bytes",
    "ext.dedup.candidate_pairs": "count",
    "ext.dedup.kept_ratio": "ratio",
    "model.setup.materialize_s": "s",
    "model.setup.land_s": "s",
    "spark.driver_ms": "ms",
    "spark.spill_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "stream.conf_drift": "count",
    "trace.overhead_pct": "%",
    "trace.unaccounted_pct": "%",
}


# every traced run prints all of these; a measure of an op kind the
# workload does not run reads 0
PER_LAYER = {**{f"{op}.{m}": u for w in WORKLOADS for op in LAYER_OPS[w]
                for m, u in OP_MEASURES.items()}, **LAYER_EXTRAS}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def prepare_work(work):
    """A fresh work directory with a tmp dir and a quiet log4j config."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\nappender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")


def java_cmd(classpath, work, cpus, harness_args, jvm_extra=()):
    return (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
               f"-XX:ParallelGCThreads={cpus}", f"-XX:ActiveProcessorCount={cpus}",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               f"-Dlog4j2.configurationFile={os.path.join(work, 'log4j2.properties')}",
               "-Dspark.ui.enabled=false", *jvm_extra, "-cp", classpath, "graftbench.Main",
               *harness_args, "--work", work, "--cpus", str(cpus)])


def build(deadline, cpus):
    """Compile engine + harness once per source state. Returns the classpath
    and the JVM options that load the class-data archive.

    After compiling, the classes are packed into one jar and a short run
    records a class-data-sharing archive of every class it loads; later JVMs
    map that archive instead of loading and verifying the Spark classes one
    by one, which takes seconds off every run's start. Every run uses the
    archive: a build that cannot record it fails."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must point at a Spark installation with a jars/ directory")
    target = os.path.join(HERE, "target")
    jar = os.path.join(target, "graftbench.jar")
    archive = os.path.join(target, "graftbench.jsa")
    classpath = jar + os.pathsep + os.path.join(spark_home, "jars", "*")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if not (os.path.exists(jar) and os.path.exists(archive) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        log("building engine and harness (sbt compile)")
        t0 = time.time()
        for f in (stamp_file, jar, archive):
            if os.path.exists(f):
                os.remove(f)
        try:
            r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=sys.stderr,
                               stderr=sys.stderr, timeout=max(60, deadline - time.time()))
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed: {e}")
        if r.returncode != 0:
            die(f"build failed with exit code {r.returncode}")
        classes = os.path.join(target, "scala-2.13", "classes")
        with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
            for d, _, files in sorted(os.walk(classes)):
                for f in sorted(files):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, classes))
        os.replace(jar + ".tmp", jar)
        # record the class-data archive from a short run of the workload
        # that loads the most classes
        import gen
        work = os.path.join(HERE, "work", f"archive-{os.getpid()}")
        archive_log = os.path.join(target, "archive.log")
        prepare_work(work)
        try:
            gen.generate("ingest-pipeline", 1, os.path.join(work, "inputs"))
            with open(archive_log, "w") as out:
                r = subprocess.run(java_cmd(classpath, work, cpus,
                                            ["--workload", "ingest-pipeline", "--seed", "1",
                                             "--seconds", "1", "--trace", "0"],
                                            [f"-XX:ArchiveClassesAtExit={archive}"]),
                                   cwd=ROOT, stdout=out, stderr=out,
                                   timeout=max(30, deadline - time.time()))
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"recording the class-data archive failed: {e}; see {archive_log}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if r.returncode != 0 or not os.path.exists(archive):
            die(f"recording the class-data archive failed (exit code {r.returncode}); "
                f"see {archive_log}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build took {time.time() - t0:.1f} s")
    return classpath, [f"-XX:SharedArchiveFile={archive}", "-Xshare:on"]


def usable_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def quantile(xs, q):
    """Inclusive linear-interpolation quantile."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    t_start = time.time()

    cpus = usable_cpus()
    classpath, jvm = build(t_start + BUILD_DEADLINE_S, cpus)
    deadline = time.time() + DEADLINE_S

    import gen
    import check

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    prepare_work(work)
    try:
        sizes = gen.generate(a.workload, a.seed, inputs)
        log(f"inputs {a.workload} seed={a.seed}: " + json.dumps(sizes, sort_keys=True))
        cmd = java_cmd(classpath, work, cpus,
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace)],
                       jvm)
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=max(10, deadline - time.time() - 15))
        except subprocess.TimeoutExpired:
            die("harness JVM timed out", 3)
        if r.returncode != 0:
            die(f"harness JVM failed with exit code {r.returncode} (setup or landing failure)", 3)
        with open(os.path.join(work, "summary.json")) as f:
            summary = json.load(f)
        with open(os.path.join(work, "ops.jsonl")) as f:
            ops = [json.loads(line) for line in f if line.strip()]

        # ---- correctness: every timed op against its own expectation ----
        chk = check.checker(a.workload, inputs, cpus)
        phase = "trace" if a.trace else "measure"
        timed = [o for o in ops if o["phase"] == phase]
        failed = 0
        for o in ops:
            if hasattr(chk, "apply"):  # stateful checkers follow every op in order
                chk.apply(o)
            if o["phase"] != phase:
                continue
            good = o["ok"]
            if good:
                try:
                    good = chk.check(o["kind"], o["params"], o["result"])
                except Exception as e:  # an unexpected result shape is a mismatch
                    log(f"check error on op {o['i']} {o['kind']}: {e!r}")
                    good = False
            if not good:
                failed += 1
                if failed <= 5:
                    log(f"FAILED op {o['i']} {o['kind']} params={json.dumps(o['params'])[:300]} "
                        f"err={o['err'][:300]} result={json.dumps(o['result'])[:300]}")
        drift = summary["conf_drift"]
        if summary["warm_errors"]:
            log(f"warmup errors: {summary['warm_errors']} of {summary['warm_ops']}")
        correct = failed == 0 and drift == 0 and len(timed) > 0

        if a.trace == 0:
            values = {
                "setup_s": statistics.median(s["total"] for s in summary["setups"]),
                # the loop covers whole op cycles, so every op kind counts
                # with its share of a cycle
                "ops_per_s": sum(o["ok"] for o in timed) / summary["measured_s"],
                "heap_live_mb": summary["heap_live_mb"],
            }
            units = END_TO_END
            kinds = {}
            for o in timed:
                kinds.setdefault(o["kind"], []).append(o["plan_ms"] + o["exec_ms"])
            log("per-op p50 ms: " + ", ".join(
                f"{k}={quantile(v, 0.5):.1f} (n={len(v)})" for k, v in sorted(kinds.items())))
        else:
            layer = summary["layer"]
            units = PER_LAYER
            values = {k: float(layer.get(k, 0.0)) for k in units}
            # latency and item throughput of the traced run's untraced loop
            passed = [o for o in ops if o["phase"] == "measure" and o["ok"]]
            values["run.op_p50_ms"] = quantile([o["plan_ms"] + o["exec_ms"] for o in passed], 0.5)
            values["run.items_per_s"] = sum(o["items"] for o in passed) / summary["measured_s"]
            for ph in ("materialize", "land"):
                values[f"model.setup.{ph}_s"] = statistics.median(
                    s.get(ph, 0.0) for s in summary["setups"])
            # tracing overhead: traced vs untraced median latency per op kind,
            # then the median over kinds
            by_kind = {}
            for o in ops:
                if o["phase"] in ("measure", "trace"):
                    by_kind.setdefault(o["kind"], {}).setdefault(o["phase"], []).append(
                        o["plan_ms"] + o["exec_ms"])
            ratios = [quantile(v["trace"], 0.5) / quantile(v["measure"], 0.5)
                      for v in by_kind.values() if "trace" in v and "measure" in v]
            if ratios:
                values["trace.overhead_pct"] = 100.0 * (statistics.median(ratios) - 1.0)
            trace_out = os.path.join(HERE, "out")
            os.makedirs(trace_out, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(trace_out, f"spans-{a.workload}-{a.seed}.jsonl"))
        result = {
            "correct": correct,
            "attempted": len(timed),
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        sys.exit(0 if correct else 1)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
