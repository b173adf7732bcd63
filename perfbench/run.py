#!/usr/bin/env python3
"""Benchmark of the graft Spark rebuild: the 14-asset pipeline, the
iterative graph lines and a mix of single-shot query lines, one workload per
run.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the harness with the
repository's sources (sbt, under perfbench/) and writes the input tables
under perfbench/.work/; later runs reuse both while the sources are
unchanged. The last stdout line is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics, or with
`--trace 1` the per-layer metrics of a traced run). Every op's output is
compared with the digest recorded in perfbench/expected.json; a mismatch
counts as a failed op. Workloads, line lists and the reasoning behind them
are in perfbench/workloads.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import stats  # noqa: E402

DEADLINE_S = 175  # a run must end within 180 s once built
SCALE_FACTOR = "0.01"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


def source_stamp():
    """Hash of every input of the build: the repository's main sources and
    the harness's own sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, cwd, env=None):
    """Runs `cmd` in its own process group with stdout sent to stderr; on
    timeout the whole group is killed. Returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("timed out after %.0f s: %s" % (timeout, cmd[0]))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4.1 distribution")
    return os.path.join(home, "jars")


def build():
    """Compiles the harness and the repository's sources unless the classes
    match the current sources. Returns the class directory."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp_path = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp and os.path.isdir(classes):
        return classes
    log("building the harness (sbt compile)")
    t0 = time.time()
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 840, BENCH)
    if code != 0:
        fail("sbt compile failed with exit code %d" % code)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return classes


def java_cmd(classes, main, args, tmp):
    return (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g",
        "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
        main] + args)


def child_env(tmp):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_ONLY"):
        env.pop(k, None)
    return env


def ensure_data(classes, tmp):
    sf = SCALE_FACTOR
    data = os.path.join(WORK, "data-sf" + sf)
    done = os.path.join(data, "_COMPLETE")
    if not os.path.exists(done):
        log("writing the sf%s input tables" % sf)
        shutil.rmtree(data, ignore_errors=True)
        code = run_child(java_cmd(classes, "perfbench.GenData", [data, sf], tmp),
                         300, WORK, child_env(tmp))
        if code != 0:
            fail("input generation failed with exit code %d" % code)
        open(done, "w").close()
    return data


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's op digests as the expected ones (after a verified change)")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline", "Pipeline.scala")):
        fail("the repository's sources (src/main/scala/graft) are not next to perfbench/")
    workloads = load_json("workloads.json")["workloads"]
    if a.workload not in workloads:
        fail("unknown workload %r (known: %s)" % (a.workload, ", ".join(sorted(workloads))))
    spec = workloads[a.workload]
    os.makedirs(WORK, exist_ok=True)
    classes = build()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    data = ensure_data(classes, tmp)

    out = os.path.join(WORK, "record-%s-%d-%d.json" % (a.workload, a.seed, a.trace))
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", repr(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", tmp, "--out", out,
            "--spans", os.path.join(WORK, "spans-%s-%d.jsonl" % (a.workload, a.seed)),
            "--cores", str(len(os.sched_getaffinity(0)))]
    for key in ("substrates", "lines"):
        if spec.get(key):
            args += ["--" + key, ",".join(spec[key])]
    launched = time.time()
    code = run_child(java_cmd(classes, "perfbench.Main", args, tmp), DEADLINE_S, tmp, child_env(tmp))
    if code != 0 or not os.path.exists(out):
        fail("the harness exited with code %d" % code)
    with open(out) as f:
        record = json.load(f)

    expected = load_json("expected.json")
    want = expected.get(a.workload, {})
    ops = [o for i in record["iterations"] for o in i["ops"]]
    failed = 0
    for o in ops:
        if not o["ok"]:
            log("op %s failed: %s" % (o["name"], o["error"]))
            failed += 1
        elif want.get(o["name"]) != o["digest"]:
            log("op %s output digest %s, expected %s" % (o["name"], o["digest"], want.get(o["name"])))
            failed += 1
    if a.record_digests:
        got = {}
        for o in ops:
            if o["ok"]:
                got.setdefault(o["name"], set()).add(o["digest"])
        unstable = sorted(n for n, d in got.items() if len(d) > 1)
        if unstable or len(got) != len({o["name"] for o in ops}):
            fail("not recording: unstable or failed ops %s" % unstable)
        expected[a.workload] = {n: d.pop() for n, d in sorted(got.items())}
        with open(os.path.join(BENCH, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        log("recorded %d digests for %s" % (len(got), a.workload))

    if a.trace:
        spans = []
        if record.get("spans"):
            with open(record["spans"]) as f:
                spans = [json.loads(line) for line in f]
        metrics, per_iter = stats.layer_rollup(record, spans)
        with open(os.path.join(WORK, "rollup-%s-%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump({"seed": a.seed, "metrics": metrics, "iterations": per_iter}, f, indent=1)
        if a.workload == "pipeline":
            shares = sum(v for k, v in metrics.items() if k.startswith("pipeline."))
            log("per-asset seconds add up to %.3f s; the traced pipeline iteration took %.3f s" % (
                shares, metrics["trace.wall_s"]))
        log("seed %d: traced wall_s %.3f s (compare the untraced runs' wall_s); tracing overhead "
            "on warm iterations: traced %.3f s vs untraced %.3f s (%+.1f%%)" % (
                a.seed, metrics["trace.wall_s"], metrics["trace.warm_traced_s"],
                metrics["trace.warm_untraced_s"], metrics["trace.overhead_pct"]))
    else:
        metrics = stats.end_to_end(record)
        metrics["setup_s"] = record["setup_end_ms"] / 1000.0 - launched
        log("seed %d: setup_s %.3f, wall_s %.3f" % (a.seed, metrics["setup_s"], metrics["wall_s"]))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    result = {
        "correct": failed == 0 and len(ops) > 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
