#!/usr/bin/env python3
"""Benchmark of the graft engine's client path, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload tpch-sf0.05 --seed 1 --seconds 10 --trace 0

One run builds the program from source if needed (cached by a source
hash), generates the seeded inputs (cached by seed), starts one JVM that
sets up a ``SessionContext.local(nproc, nproc)`` session, runs one untimed
warm pass and then timed passes of the workload's ops, checks every op's
result against the program's DuckDB oracle, and prints one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs with a
SparkListener, a QueryExecutionListener and a StreamingQueryListener
attached on every other pass and reports the per-layer metrics plus the
tracing overhead; its full artifact (per-op spans, machine context) is
written to ``perfbench/.out/``.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

LLM_ROWS = ["dedup_minhash_lsh", "text_pii_redact"]
STREAM_ROWS = ["stream_exec_multi_batch", "stream_exec_dedup"]

# Two workloads that stress different layers: tpch-sf0.05 is dominated by
# per-query fixed costs (Catalyst, job scheduling, idle task slots) and never
# calls an operator builder; pipelines spends its time in builder-side jobs,
# parquet sinks and micro-batch state commits, and never calls ctx.sql.
# workload -> (input kind, [(op, kind)], minimum timed passes); every table
# of the input kind is registered. Op kinds: sql = ctx.sql + ctx.collect,
# row = SparkEntry.queries builder + ctx.collect, sink = builder +
# ctx.writeParquet. A pipelines pass has only four ops and is as long as
# --seconds, so it runs a fixed two passes rather than one or two by chance.
WORKLOADS = {
    "tpch-sf0.05": ("tpch", [(f"tpch_q{i}", "sql") for i in range(1, 23)], 1),
    "pipelines": ("pipelines", [(n, "sink") for n in LLM_ROWS] +
                  [(n, "row") for n in STREAM_ROWS], 2),
}
MAX_PASSES = 400
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
JAVA_OPTS = ["-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


_children = []


def _kill_children(*_):
    for c in _children:
        if c.poll() is None:
            os.killpg(c.pid, signal.SIGKILL)
            c.wait()
    if _:
        sys.exit(2)


def run_proc(cmd, timeout, what, **kw):
    """Runs ``cmd`` in its own process group; on timeout or on our own
    termination the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        _kill_children()
        fail(f"{what} timed out")
    return p.returncode, out


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    files = [os.path.join(d, f) for d in (ROOT, HERE)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compiled classpath of the program plus the driver; sbt runs only
    when a source changed since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    fp = h.hexdigest()
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    try:
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fp"] == fp:
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                       "-Xmx2g -XX:-UsePerfData " + env.get("SBT_OPTS", ""))
    rc, out = run_proc(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], BUILD_TIMEOUT_S, "build",
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    cp = [ln for ln in out.splitlines()
          if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        json.dump({"fp": fp, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


def run_jvm(classpath, workload, orders, data_dir, work, seconds, trace,
            traced_first):
    kind, ops, min_passes = WORKLOADS[workload]
    tables = gen.TABLES[kind]
    out = os.path.join(work, "run.json")
    plan_file = os.path.join(work, "plan.txt")
    with open(plan_file, "w") as f:
        f.write(",".join(tables) + "\n")
        f.write(",".join(f"{n}:{k}" for n, k in ops) + "\n")
        f.writelines(",".join(map(str, o)) + "\n" for o in orders)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
           "perfbench.Driver", plan_file, data_dir, work, str(seconds),
           str(trace), str(traced_first),
           str(max(2, min_passes) if trace else min_passes), out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        rc, _ = run_proc(cmd, JVM_TIMEOUT_S, "benchmark JVM", cwd=work,
                         env=env, stdout=lf, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _kill_children)

    classpath = build()
    import oracle  # reads the repository's tools/check_oracle.py
    kind, ops, _ = WORKLOADS[a.workload]
    data_dir = gen.ensure(kind, a.seed)
    orders = stats.pass_orders(a.seed, len(ops), MAX_PASSES)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # the seed's parity picks whether a traced run starts with a traced
        # or an untraced pass
        run = run_jvm(classpath, a.workload, orders, data_dir, work,
                      a.seconds, a.trace, a.seed % 2)
        failures = oracle.check(data_dir, gen.TABLES[kind], run["oracles"],
                                run["results"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    timed = [s for s in run["samples"] if s["pass"] >= 1]
    failed_ops = {s["op"] for s in run["samples"] if s["error"]}
    failed = sum(1 for s in timed
                 if s["error"] or s["op"] in failures)
    for s in run["samples"]:
        if s["error"]:
            print(f"perfbench: {s['op']} failed: {s['error']}", file=sys.stderr)
    for op, why in failures.items():
        print(f"perfbench: {op} failed: {why}", file=sys.stderr)
    kinds = dict(ops)
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{'trace' if a.trace else 'run'}-{a.workload}-seed{a.seed}.json"
    with open(os.path.join(out_dir, "raw-" + name), "w") as f:
        json.dump(run, f)
    if a.trace:
        metrics, artifact = layers.per_layer(run, kinds)
    else:
        metrics, artifact = layers.end_to_end(run)
    artifact.update(workload=a.workload, seed=a.seed, trace=a.trace,
                    machine=dict(run["machine"], nproc=run["cores"]),
                    failures=failures, failed_ops=sorted(failed_ops))
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1)
    m = run["machine"]
    print(f"machine: nproc={run['cores']} "
          f"load={m['start']['load']:.2f}->{m['end']['load']:.2f} "
          f"probe_s={m['start']['probe_s']:.3f}->{m['end']['probe_s']:.3f}")
    result = {
        "correct": failed == 0 and not failures and not failed_ops,
        "attempted": len(timed),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
