#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload build|mixed_ops|watch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark harness (sbt, in this directory);
later runs reuse the classes while the sources are unchanged. Each run
starts one JVM with a local Spark session on every core, generates its
inputs from the seed, sets up, measures for S seconds and checks the
outputs. With --trace 1 it instead runs a fixed number of operations
with per-span Spark counters and prints the per-layer metrics; the
span file is kept under perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("build", "mixed_ops", "watch")
JAR = os.path.join(HERE, "target", "perfbench.jar")
CDS = os.path.join(HERE, "target", "perfbench.jsa")
CODE_INDEX = os.path.join(HERE, "target", "code-index")
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(env):
    jars = sorted(glob.glob(os.path.join(env["SPARK_HOME"], "jars", "*.jar")))
    return os.pathsep.join([JAR] + jars)


def build(env):
    """Package the program and the harness once per source state, then
    write the seed-independent code index that mixed_ops reads, and
    record a JVM class-data archive from that pass and a short watch
    pass (it cuts JVM and Spark start-up by seconds on every later run)."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    want = source_hash()
    if all(os.path.exists(p) for p in (stamp, JAR, CDS, CODE_INDEX)):
        with open(stamp) as fh:
            if fh.read() == want:
                return
    if os.path.exists(stamp):
        os.remove(stamp)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.isfile(JAR):
        fail("build failed")
    work = os.path.join(HERE, ".work", "tour")
    shutil.rmtree(work, ignore_errors=True)
    if os.path.exists(CDS):
        os.remove(CDS)
    shutil.rmtree(CODE_INDEX, ignore_errors=True)
    code = run_jvm(["java"] + JVM_OPTS + [f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off",
                       f"-Djava.io.tmpdir={work}", "-cp", classpath(env), "perfbench.Main",
                       "--workload", "tour", "--seed", "0", "--work", work,
                       "--code-index", CODE_INDEX], env)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail("code index and class-data archive run failed")
    with open(stamp, "w") as fh:
        fh.write(want)


def run_jvm(cmd, env):
    """Run the benchmark JVM; returns its exit code."""
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait()
    except BaseException:
        p.kill()
        p.wait()
        raise


LAYERS = ("parser", "postings", "dedup", "graph", "similarity", "queries",
          "streaming", "encode", "setup")
COUNTERS = ("wall_s", "construct_s", "jobs", "mat_jobs", "tasks", "shuffle_mb",
            "spill_mb", "cpu_s")
# single build phases worth their own line: the largest ones
PHASES = {"graph.triangle_counts": ("wall_s", "cpu_s"),
          "graph.copurchase_edges": ("wall_s",),
          "dedup.winnow_pairs": ("wall_s",),
          "dedup.neardup_pairs": ("wall_s",),
          "similarity.ivf_centroids": ("wall_s", "jobs"),
          "parser.chunks": ("wall_s",),
          "parser.nl_describe": ("wall_s",)}
PROGRESS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "getBatch")
# per-layer metrics beyond the span counters, produced by the workload
# that covers the layer
EXTRA = {"dedup": ("pairs_emitted",), "queries": ("op_p50_s",),
         "streaming": ("batch_p90_s",) + tuple(f"{k}_s" for k in PROGRESS)}
# the layers each workload's traced spans cover; every per-layer metric
# of a covered layer must come from the trace
COVERS = {"build": ("setup", "parser", "postings", "dedup", "graph", "similarity", "encode"),
          "mixed_ops": ("setup", "postings", "graph", "similarity", "queries"),
          "watch": ("setup", "parser", "streaming")}


def zero_filled(workload):
    """Per-layer metrics that read 0 on this workload because it does no
    work there: every metric of a layer its spans do not cover, and the
    single build phases outside `build`."""
    names = {f"{l}.{c}" for l in LAYERS if l not in COVERS[workload]
             for c in COUNTERS + EXTRA.get(l, ())}
    if workload != "build":
        names |= {f"{p}.{c}" for p, cs in PHASES.items() for c in cs}
    return names


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def span_counters(s):
    return {"jobs": s["jobs"], "mat_jobs": s["mat_jobs"], "tasks": s["tasks"],
            "shuffle_mb": s["shuffle_bytes"] / 1e6, "spill_mb": s["spill_bytes"] / 1e6,
            "cpu_s": s["cpu_ns"] / 1e9}


def layer_metrics(workload, spans_path, result):
    """Per-layer metrics from the span side file, plus a per-span
    summary (total and self time) for the side report. Metrics this
    workload does not produce are left out (see zero_filled)."""
    spans, progress, engine = [], [], {}
    with open(spans_path) as fh:
        for line in fh:
            r = json.loads(line)
            {"span": spans.append, "progress": progress.append}.get(
                r["kind"], lambda x: engine.update(x))(r)
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def root_of(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    def layer_of(s):
        # a set-up span's whole subtree counts toward the set-up layer
        return "setup" if root_of(s)["layer"] == "setup" else s["layer"]

    covered = COVERS[workload]
    seen = {layer_of(s) for s in spans}
    m = {f"{l}.{c}": 0.0 for l in covered if l in seen for c in COUNTERS}
    if workload == "build":
        keys = {f"{s['layer']}.{s['name']}" for s in spans if layer_of(s) != "setup"}
        m.update({f"{p}.{c}": 0.0 for p, cs in PHASES.items() if p in keys for c in cs})
    summary = []
    for s in spans:
        wall = s["end_s"] - s["start_s"]
        self_s = wall - sum(c["end_s"] - c["start_s"] for c in children.get(s["id"], []))
        summary.append(dict(s, wall_s=wall, self_s=self_s))
        layer = layer_of(s)
        if layer not in covered:
            continue
        counters = span_counters(s)
        # wall time once per outermost span of the layer
        if s["parent"] < 0 or (layer != "setup" and by_id[s["parent"]]["layer"] != layer):
            m[f"{layer}.wall_s"] += wall
            m[f"{layer}.construct_s"] += s["construct_s"]
        for k, v in counters.items():
            m[f"{layer}.{k}"] += v
        key = f"{s['layer']}.{s['name']}"
        if f"{key}.wall_s" in m and layer != "setup":
            vals = dict(counters, wall_s=wall)
            for c in PHASES[key]:
                m[f"{key}.{c}"] += vals[c]
    e = span_counters(engine)
    m.update({"spark.jobs": e["jobs"], "spark.stages": engine.get("stages", 0),
              "spark.tasks": e["tasks"], "spark.shuffle_mb": e["shuffle_mb"],
              "spark.spill_mb": e["spill_mb"], "spark.cpu_s": e["cpu_s"],
              "spark.gc_s": engine.get("gc_ms", 0) / 1e3})
    for k in PROGRESS:
        xs = [p[k] / 1e3 for p in progress if k in p]
        if xs:
            m[f"streaming.{k}_s"] = median(xs)
    m["trace.spans"] = len(spans)
    if "trace_overhead_s" in result["values"]:
        m["trace.overhead_s"] = result["values"]["trace_overhead_s"]
    return m, summary


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a full checkout")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home())
    build(env)

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = ["java"] + JVM_OPTS + [f"-XX:SharedArchiveFile={CDS}", f"-Djava.io.tmpdir={work}",
                                 "-cp", classpath(env), "perfbench.Main",
                                 "--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--work", work, "--result", result_path,
                                 "--code-index", CODE_INDEX]
    try:
        code = run_jvm(cmd, env)
        if code != 0 or not os.path.isfile(result_path):
            fail(f"benchmark JVM exited with code {code}")
        with open(result_path) as fh:
            result = json.load(fh)
        values = dict(result["values"])
        if a.trace:
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            side = os.path.join(out_dir, f"trace-{a.workload}-seed{a.seed}")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), side + ".jsonl")
            layer, summary = layer_metrics(a.workload, side + ".jsonl", result)
            with open(side + ".summary.json", "w") as fh:
                json.dump({"metrics": layer, "values": values, "series": result["series"],
                           "spans": summary}, fh, indent=1)
            values.update(layer)
            values.update(dict.fromkeys(zero_filled(a.workload) - set(values), 0.0))
            wanted = spec["per_layer"]
        else:
            wanted = spec["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        if values.get(m["name"]) is None:
            fail(f"metric {m['name']} was not produced")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    attempted = max(int(result["attempted"]), 1)
    out = {"correct": bool(result["correct"]), "attempted": attempted,
           "failed": min(int(result["failed"]), attempted), "metrics": metrics}
    print(f"perfbench: values {json.dumps(values)}", file=sys.stderr)
    print(f"perfbench: series {json.dumps(result['series'])}", file=sys.stderr)
    for f in result["failures"]:
        print(f"perfbench: check failed: {f}", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
