#!/usr/bin/env python3
"""The warehouse benchmark: one command runs one workload from a seed,
checks its outputs and prints one JSON record as its last line.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 20 --trace 0

Workloads: `etl_daily` (the ten pipelines, daily, with report reads) and
`sql_core` (a slice of q01-q30, then the graph family's q85).
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of perfbench/layers.json. The first run builds the engine and the
runner from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Everything a run writes stays under
perfbench/: the build in target/, the run's scratch in .work/, the full
record and span trace in .records/, and the DuckDB oracle hashes in .cache/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl_daily", "sql_core")
DEADLINE_S = 170  # a run must end within 180 s; the build is not counted
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads; a changed file means rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE, os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner once per source state; returns
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the engine and the benchmark runner with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                   stdout=sys.stderr, stderr=sys.stderr, check=True,
                   timeout=850)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read()


def jvm(classpath, work, args, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, *opens, "-Xmx3g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", classpath, "perfbench.Main", "--work", work, *args]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("the benchmark JVM ran past the deadline")
    for line in reversed(out.splitlines()):
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line.split(" ", 1)[1])
    raise RuntimeError(f"the benchmark JVM exited {proc.returncode} without a result")


def verdict(record):
    """Every failure of a run: the JVM's own, then each query whose oracle
    check did not say "ok". A skip fails the run too, since it compared
    nothing."""
    return list(record["failures"]) + [
        f"{q}: {v}" for q, v in sorted(record.get("oracle", {}).items()) if v != "ok"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE)}; "
            "run from a full checkout")
        return 2
    classpath = build()

    t0 = time.time()
    deadline = t0 + DEADLINE_S
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--t0", str(int(t0 * 1000))]
    sys.path.insert(0, HERE)
    data = os.path.join(work, "data")
    if a.workload == "etl_daily":
        import gen_school
        gen_school.write(data, a.seed)
    else:
        import gen_tpch
        gen_tpch.write(data, a.seed)
    record = jvm(classpath, work, args + ["--data", data], deadline)
    log(f"benchmark JVM done at {time.time() - t0:.1f} s")

    if a.workload != "etl_daily":
        import oracle
        results = os.path.join(work, "results")
        record["oracle"] = oracle.check(
            data, results, os.path.join(HERE, ".cache", "oracle"),
            timeout=max(5.0, deadline - time.time() - 5))
        log(f"oracle check done at {time.time() - t0:.1f} s")
    failures = verdict(record)
    record["failures"] = failures
    record["attempted"] += len(record.get("oracle", {}))

    records = os.path.join(HERE, ".records")
    os.makedirs(records, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if a.trace:
        with open(os.path.join(HERE, "layers.json")) as f:
            record["layer_map"] = json.load(f)
    with open(os.path.join(records, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace:
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(records, name + ".trace.jsonl"))
    for msg in failures:
        log(f"FAILED {msg}")
    host = record["host"]
    log("host probe: single-thread {:.3f} s, all-cores/single ratio {:.2f} -> {:.2f}"
        .format(host["start"]["st_s"], host["start"]["par_ratio"],
                host["end"]["par_ratio"]))
    metrics = record["layers"] if a.trace else record["metrics"]
    print(json.dumps({"correct": not failures, "attempted": record["attempted"],
                      "failed": len(failures), "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on a broken run
        log(f"error: {e}")
        sys.exit(3)
