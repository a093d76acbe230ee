#!/usr/bin/env python3
"""graft benchmark: one closed-loop client, one process, local[4].

  python3 perfbench/run.py --workload <daily_refresh|curation>
                           --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
from source with the Scala compiler that ships in the Spark jars (cached
under .bench_build/), generates the seeded inputs, runs the workload in
one JVM, checks every output, and prints a report line followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Exit code 0 means every check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 150
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt
    declares as its unmanaged base. It must hold a Scala compiler."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            die("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def tree_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
            if os.path.isfile(p):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, sources, log):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + sources
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"compile failed ({log})")


def compiled(build_dir, jars, name, src_dir, classpath):
    """Classes of the Scala sources under `src_dir`, compiled against
    `classpath` and cached by the hash of both."""
    key = tree_hash(src_dir) + hashlib.sha256(
        "|".join(classpath).encode()).hexdigest()[:8]
    out = os.path.join(build_dir, f"{name}-{key}")
    if not os.path.exists(out + ".ok"):
        for old in glob.glob(os.path.join(build_dir, f"{name}-*")):
            shutil.rmtree(old) if os.path.isdir(old) else os.remove(old)
        scalac(jars, out, classpath + [os.path.join(jars, "*")],
               glob.glob(os.path.join(src_dir, "**", "*.scala"),
                         recursive=True),
               os.path.join(build_dir, f"{name}.log"))
        open(out + ".ok", "w").close()
    return out


def build(root, build_dir, jars):
    """Compiles the engine and the benchmark; returns the run classpath."""
    main = compiled(build_dir, jars, "main",
                    os.path.join(root, "src", "main", "scala"), [])
    bench = compiled(build_dir, jars, "bench", os.path.join(HERE, "scala"),
                     [main])
    return [bench, main, os.path.join(root, "src", "main", "resources"),
            os.path.join(jars, "*")]


def java_cmd(classpath, work, main, args):
    """The JVM command line: a fixed heap, and every temporary file and
    Spark local dir inside the work root."""
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            # no hsperfdata file outside the work root
            ["-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}",
             "-cp", os.pathsep.join(classpath), main] + args)


def run_jvm(cmd, work):
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                               env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"workload did not finish in time ({log})")
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"workload failed with exit code {r.returncode} ({log})")


def end_to_end(jvm, quality):
    ops = jvm["ops"]
    lat = [o["s"] for o in ops]
    busy = sum(lat)
    reads = [o["s"] for o in ops if not o["write"]]
    writes = [o["s"] for o in ops if o["write"]]
    m = {
        "setup_s": (jvm["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        # the p90: a run times 16-20 ops, so fewer than ten lie beyond
        # it; the report states the count
        "op_tail_s": (statistics.quantiles(lat, n=10, method="inclusive")[8],
                      "s"),
        "ops_per_s": (len(lat) / busy, "1/s"),
        "rows_per_s": (quality["rows"] / busy, "rows/s"),
        "read_p50_s": (statistics.median(reads) if reads else 0.0, "s"),
        "write_p50_s": (statistics.median(writes) if writes else 0.0, "s"),
        "peak_rss_mb": (jvm["peak_rss_mb"], "MB"),
    }
    for k, (v, unit) in quality.get("metrics", {}).items():
        m[k] = (v, unit)
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["s"])
    info = {"ops": len(lat), "reads": len(reads), "writes": len(writes),
            "tail_quantile": 0.9, "phase_s": jvm["phase_s"],
            "p50_by_kind": {k: statistics.median(v) for k, v in kinds.items()}}
    return m, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not all(os.path.exists(os.path.join(root, p)) for p in
               ("src/main/scala/graft", "tools/gen_sf.py", "build.sbt")):
        die("run from the root of a graft checkout (no src/main/scala/graft, "
            "tools/gen_sf.py or build.sbt here)")
    jars = spark_jars(root)
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir, jars)
    # every lake, index and check root lives here, wiped at start
    work = os.path.join(build_dir, "work", a.workload)
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "out"))
    meta = gen.generate(root, build_dir, a.workload, a.seed, work)
    run_jvm(java_cmd(classpath, work, "perfbench.Main",
                     [a.workload, work, str(a.seconds), str(a.trace)]), work)
    with open(os.path.join(work, "out", "jvm.json")) as f:
        jvm = json.load(f)
    result = checks.check(a.workload, work, meta, jvm)
    correct = all(c["ok"] for c in result["checks"])
    attempted = len(jvm["ops"])
    # a failed check fails every timed op of the kinds it covers; one that
    # covers no timed op still counts once
    failed = sum(1 for o in jvm["ops"] if o["name"] in result["failed_kinds"])
    if not correct:
        failed = max(failed, 1)
    m, info = end_to_end(jvm, result)
    m["fail_ratio"] = (failed / attempted, "ratio")
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
              "samples": info, "checks": result["checks"]}
    if a.trace:
        layers = dict(jvm["layers"])
        layers.update(result.get("layers", {}))
        layers["trace.op_p50_s"] = m["op_p50_s"][0]
        layers["trace.setup_s"] = m["setup_s"][0]
        layers["trace.ops_per_s"] = m["ops_per_s"][0]
        report["layers"] = layers
        # against the checkout's latest untraced run of the workload
        untraced = os.path.join(build_dir, f"last-{a.workload}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            report["tracing_overhead"] = {"untraced_seed": base["seed"]}
            report["tracing_overhead"].update({
                k: m[k][0] / base["metrics"][k]["value"] - 1
                for k in ("op_p50_s", "setup_s", "ops_per_s")})
    with open(os.path.join(build_dir,
                           f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f)
    print("report " + json.dumps(report, sort_keys=True))
    for c in result["checks"]:
        if not c["ok"]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    spec = checks.load_spec(root)
    if a.trace:  # a layer the workload does not touch reads 0
        metrics = {x["name"]: {"value": float(report["layers"].get(x["name"], 0)),
                               "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": float(m[x["name"]][0]),
                               "unit": x["unit"]} for x in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
