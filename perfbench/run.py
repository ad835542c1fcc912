#!/usr/bin/env python3
"""graft's benchmark: run one workload with one seed and print its result.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the harness
and graft from source with sbt (into perfbench/target); later runs reuse
the build while the sources are unchanged. Each run gets a private
directory under .perfbench/runs/ (JVM temp dir, Spark local, checkpoint
and warehouse dirs, graph artifacts, result dumps), removed at the end.

The JVM (perfbench.Main) sets up the workload, measures for --seconds and
writes its figures; this script then checks every dumped result against
expected/sf0.01.json with an order-insensitive hash, and prints two
lines: a detail object (every figure, the environment stamp, failures,
and per-layer figures by op type when traced), then the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are BENCHMARK.json's end_to_end metrics (--trace 0) or its
per_layer metrics (--trace 1). A traced run also keeps its span tree in
.perfbench/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("sql_mix", "llm_dedup", "graph_serve", "cot_feed")
# A run must end within 180 s, or 900 s when it builds first.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 600

# The JDK 17 module opens Spark needs outside spark-submit (build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, budget_s, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it. Returns (exit code or None on timeout, seconds)."""
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        code = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = None
    return code, time.monotonic() - t0


def build(digest):
    """Compile graft and the harness; return the runtime classpath.
    A lock serialises concurrent runs in one checkout."""
    out = os.path.join(STATE, "build")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(out, digest)


def build_locked(out, digest):
    cp_file, stamp = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Djava.io.tmpdir={out}/tmp").strip()
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        code, secs = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_BUDGET_S, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}) after {secs:.0f} s; log: {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {secs:.1f} s", file=sys.stderr)
    return cp


def check_data():
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(DATA, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    fail(f"fixture {name} does not match SHA256SUMS")


def check_dumps(result, run_dir):
    """Hash every dumped result and compare with the expected values.
    Returns {row: cause} for the rows that mismatch."""
    if not result["dumped"]:
        return {}
    import canon  # pandas loads only when there is something to hash
    with open(os.path.join(HERE, "expected", "sf0.01.json")) as fh:
        expected = json.load(fh)["rows"]
    bad = {}
    for name in result["dumped"]:
        want = expected.get(name)
        if want is None:
            bad[name] = "no expected value"
            continue
        try:
            got, rows = canon.dump_hash(os.path.join(run_dir, "dump", name))
        except Exception as e:  # unreadable dump counts as a wrong result
            bad[name] = f"dump unreadable: {e}"
            continue
        if got != want["hash"]:
            bad[name] = (f"result hash differs from the {want['source']} value "
                         f"({rows} rows, expected {want['rows']})")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (result dumps) afterwards")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}; run from a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_data()
    digest = source_digest()
    cp = build(digest)
    t0 = time.monotonic()

    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        rev = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True).stdout.strip()
    except OSError:
        rev = ""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    env["SPARK_GRAFT_CPUS"] = "4"
    cmd = (["java", "-Xmx3g", *ADD_OPENS,
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--run", run_dir,
            "--rev", rev or f"src-{digest[:12]}"])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        code, _ = run_bounded(cmd, RUN_BUDGET_S - (time.monotonic() - t0) - 10,
                              cwd=run_dir, env=env, stdout=fh, stderr=subprocess.STDOUT)
    res_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_file):
        tail = open(log, errors="replace").read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{a.workload} run failed (exit {code})")
    with open(res_file) as fh:
        res = json.load(fh)

    bad = check_dumps(res, run_dir)
    res["failures"] += [f"{k}: {v}" for k, v in sorted(bad.items())]
    # a wrong result makes every timed execution of that row a failure
    res["failed"] += sum(res["op_counts"].get(k, 0) for k in bad)
    e2e = res["end_to_end"]
    e2e["failed_frac"] = res["failed"] / max(1, res["attempted"])

    if a.trace:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        shutil.copy(os.path.join(run_dir, "trace.json"), os.path.join(
            STATE, "traces", f"{a.workload}-seed{a.seed}.json"))
    if not a.keep:
        shutil.rmtree(run_dir, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    source = dict(res["per_layer"], **{"trace.overhead": res["trace_overhead"]}) \
        if a.trace else e2e
    metrics = {}
    for m in spec[key]:
        v = source.get(m["name"])
        if v is None:
            fail(f"{a.workload}: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    detail = {k: res[k] for k in res if k not in ("dumped", "op_counts")}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not res["failures"] and res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
