#!/usr/bin/env python3
"""Benchmark of the graft KG engine (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in $SPARK_HOME/jars, into $CARGO_TARGET_DIR (default
.bench_build). Each run generates the workload's inputs from the seed,
runs one JVM with one local Spark session and one closed-loop client for
the given seconds, checks every op's output against the DuckDB oracle, and
prints one line per metric followed by the JSON result as the last line.
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

import check  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

# The metrics BENCHMARK.json gates; check.summary computes these and the
# ungated wall-time ones a traced run reports with the layers.
END_TO_END = ["setup_s", "op_cpu_s_p50"]
JVM_TIMEOUT_S = 170
HEAP = "3g"

# What a spark-submit launch would add on JDK 17 (build.sbt carries the
# same list for sbt's forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("no Spark jars found; set SPARK_HOME")


def build(root, out):
    """Compiles engine + benchmark unless the sources are unchanged."""
    srcs = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True)
                  + glob.glob(f"{HERE}/src/*.scala"))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    jars = spark_jars()
    compiler = [glob.glob(f"{jars}/scala-{n}-2.13.*.jar")
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler in {jars}")
    # compile next to the old classes and swap, so an interrupted build
    # never leaves a half-written class tree behind a valid stamp
    fresh = f"{classes}.{os.getpid()}"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
         "-d", fresh] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(fresh, ignore_errors=True)
        fail(f"build failed:\n{r.stdout[-4000:]}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes


def run_jvm(root, classes, work, args, deadline):
    # no hsperfdata files: the JVM would write them to /tmp
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars()}/*", "graftbench.BenchMain",
              args.workload, str(args.seed), str(args.seconds), str(args.trace),
              work])
    try:
        # the JVM's stdout goes to our stderr: our stdout ends with the result
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        r = subprocess.run(cmd, cwd=root, env=env, stdout=sys.stderr,
                           stderr=sys.stderr,
                           timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("the program did not finish in time")
    if r.returncode != 0:
        fail(f"the program exited with code {r.returncode}")


def oracle_tables(workload, work):
    docs = (f"{work}/in/documents.parquet" if workload == "crawl_build"
            else f"{work}/raw/documents.parquet")
    tables = {"documents": docs}
    if os.path.exists(f"{work}/raw/embeddings.parquet"):
        tables["embeddings"] = f"{work}/raw/embeddings.parquet"
    return tables


def report(workload, result, expected, spans, trace):
    """Prints metric lines and returns the final result object."""
    ops = check.verify(result["ops"], expected)
    failed = [o for o in ops if not o["ok"]]
    for o in failed:
        print(f"FAILED op {o['i']} ({o['phase']}): {o['why']}")
    s = check.summary(result)
    if s is None:
        fail("no timed op passed its check")
    e2e, notes = s
    print("  op seconds: " + " ".join(f"{o['phase'][0]}{o['s']:.2f}/{o['cpu_s']:.1f}" for o in ops))
    print(f"{workload}: {len(ops)} ops attempted, {len(failed)} failed, "
          f"error_rate {check.error_rate(ops):.4f}")
    for k, v in check.part_medians(result).items():
        print(f"  part {k}: median {v:.4f} s")
    if trace:
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in layers.metrics(result, spans, e2e).items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    for k, (v, u) in e2e.items():
        if v is not None:
            gate = "end-to-end" if k in END_TO_END else "not gated"
            print(f"  {k} = {v:.6g} {u}  ({gate}{'; ' + notes[k] if k in notes else ''})")
    for k, m in metrics.items():
        if k not in e2e:
            print(f"  {k} = {m['value']:.6g} {m['unit']}")
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=check.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        import selftest
        selftest.main()
        return
    if args.workload is None:
        fail("--workload is required", 2)
    started = time.time()
    deadline = started + JVM_TIMEOUT_S
    root = os.getcwd()
    if not os.path.isdir(f"{root}/src/main/scala/graft"):
        fail("engine sources not found under src/main/scala; "
             "run from the repository root", 2)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, out)
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S)

    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("raw", "in", "tmp"):
        os.makedirs(f"{work}/{d}")
    try:
        inputs.generate(args.workload, args.seed, f"{work}/raw")
        t_jvm = time.time()
        run_jvm(root, classes, work, args, deadline)
        t_oracle = time.time()
        result = check.load(f"{work}/result.json")
        print(f"session {result['session_s']:.2f} s, materialize "
              f"{', '.join('%.2f' % x for x in result['materialize_s'])} s, "
              f"prepare {result['prepare_s']:.2f} s, "
              f"warm-up {result['warmup_s']:.2f} s", file=sys.stderr)
        exp = check.expected(args.workload, check.load(f"{work}/oracle_sql.json"),
                             oracle_tables(args.workload, work))
        print(f"perfbench: program {t_oracle - t_jvm:.1f} s, oracle "
              f"{time.time() - t_oracle:.1f} s", file=sys.stderr)
        spans = f"{work}/spans.jsonl"
        final = report(args.workload, result, exp, spans, args.trace)
        if args.trace:
            os.makedirs(f"{out}/spans", exist_ok=True)
            kept = f"{out}/spans/{args.workload}-seed{args.seed}.jsonl"
            shutil.copy(spans, kept)
            print(f"  spans written to {os.path.relpath(kept, root)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.time() - started:.1f} s", file=sys.stderr)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
