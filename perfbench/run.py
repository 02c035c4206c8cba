#!/usr/bin/env python3
"""etlspark benchmark driver.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
Scala driver offline (sbt, `COURSIER_MODE=offline`); later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, starts a fresh JVM in its own work directory under
`perfbench/work/`, measures the workload for `--seconds`, checks every op's
output, removes the work directory and prints one JSON line last: the
end-to-end metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
The line before it is a detail record (machine facts, the tail percentile
used, per-kind latencies, failures).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("etl_batch", "control_plane")
# Input size, as a multiple of the sf0.01 corpus (gen.py).
SCALE = 1.0
# Per-layer metrics of layers a workload does not drive read 0.
# (control_plane's tasks run their scripts inside the scheduler's executor,
# which `sched.executor_ms` times; `Sql.runScript` is timed on etl_batch.)
IDLE_LAYERS = {"etl_batch": ("sched.", "alerts.", "catalog.", "serve."),
               "control_plane": ("sources.", "core.mat_", "sqlx.")}
RUN_LIMIT_S = 170        # one run, build excluded
BUILD_LIMIT_S = 600      # the first run in a checkout compiles
HEAP = "3g"
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "bench-build.sha256")
SPARK_JARS = "/opt/spark/jars"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's main sources and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile once per source state; returns seconds spent building."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from a "
             "checkout of the repository")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return 0.0
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Xmx2g -XX:-UsePerfData"))
    t0 = time.time()
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "compile"],
                             cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        rc = wait(p, BUILD_LIMIT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return time.time() - t0


def wait(p, limit):
    """Wait for p; on timeout, or when this process is told to stop, kill
    p's whole process group first. Returns rc."""
    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def tail(xs):
    """(value, percentile): the highest percentile with at least 10 samples
    beyond it, i.e. the 11th largest; the median below 21 samples."""
    if len(xs) < 21:
        return percentile(xs, 50), 50.0
    return sorted(xs)[-11], 100.0 * (len(xs) - 10) / len(xs)


def percentile(xs, p):
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    build_s = build()

    import gen
    import oracle

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "scratch", "derby", "out"):
        os.makedirs(os.path.join(work, d))
    try:
        result, detail = run(a, work, gen, oracle)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail["build_s"] = build_s
    print(json.dumps(detail))
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        if a.trace and m["name"].startswith(IDLE_LAYERS[a.workload]):
            result["metrics"].setdefault(m["name"], 0.0)
        if m["name"] not in result["metrics"]:
            fail(f"metric {m['name']} was not measured", 4)
        metrics[m["name"]] = {"value": result["metrics"][m["name"]], "unit": m["unit"]}
    result["metrics"] = metrics
    print(json.dumps(result))


def run(a, work, gen, oracle):
    cores = len(os.sched_getaffinity(0))
    data = os.path.join(work, "data")
    t0 = time.time()
    rows = gen.generate(data, a.seed, SCALE)
    gen_s = time.time() - t0
    out = os.path.join(work, "out")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dspark.local.dir={work}/local",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", out,
            "--cores", str(cores)])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"))
    spawn_ms = time.time() * 1000.0
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        rc = wait(p, RUN_LIMIT_S - gen_s)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        log_tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        print(log_tail, file=sys.stderr)
        fail(f"benchmark JVM ended with {rc}", 5)
    r = json.load(open(res_path))

    # every op's output: digest equal to its kind's first run (checked in the
    # JVM) and that first run equal to the DuckDB oracle (checked here)
    v = r["verify"]
    compared = oracle.check(data, v["dump_dir"], v["oracle_sql"]) if v.get("oracle_sql") else {}
    bad = {k: e for k, (e, _) in compared.items() if e}
    ties = {k: n for k, (_, n) in compared.items() if n}
    expected = {}
    if "task_logs" in v:
        expected = oracle.scalars(data, v["oracle_counts"])
        v.setdefault("failed_checks", []).extend(oracle.check_task_logs(v, expected))
        fires = {"rows_gt": lambda n, t: n > t, "not_empty": lambda n, t: n > 0}
        for line in v["tick_results"]:
            t = json.loads(line)
            got = {str(al["id"]): al["action"] for al in t["alerts"]}
            for aid, (cond, threshold) in sorted(v["alert_conditions"].items()):
                want = "triggered" if fires[cond](expected[f"alert{aid}"], threshold) else "no_trigger"
                if got.get(aid) != want:
                    v["failed_checks"].append(f"tick {t['tick']} alert {aid}: {got.get(aid)} vs {want}")
    ops = r["ops"]
    # a tick that threw or whose results were incomplete is a failed unit
    v.setdefault("failed_checks", []).extend(
        f"tick: {t['error']}" for t in r["ticks"] if not t["ok"])
    ok = [o for o in ops if o["ok"] and o["kind"] not in bad]
    failed = len(ops) - len(ok) + len(v["failed_checks"])
    attempted = len(ops) + len(r["ticks"])
    lat = [o["ms"] for o in ops]
    ticks = [t["ms"] for t in r["ticks"]]
    op_tail, tail_p = tail(lat)
    setup_s = gen_s + (r["first_op_ms"] - spawn_ms) / 1000.0
    m = {
        "setup_s": setup_s,
        "ops_per_s": len(ops) / r["window_s"],
        "op_p50_ms": percentile(lat, 50),
        "op_tail_ms": op_tail,
        "cpu_ms_per_op": r["cpu_ms"] / max(1, len(ops)),
    }
    layers = dict(r["layers"])
    layers.update({
        "jvm.gc_ms": r["gc_ms"],
        "jvm.heap_peak_mb": r["heap_peak_mb"],
        "jvm.rss_peak_mb": r["rss_peak_mb"],
        "sched.tick_p50_ms": percentile(ticks, 50),
    })
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "facts": dict(r["facts"], input_rows=rows, scale=SCALE),
        "setup": {"gen_s": gen_s, "session_s": r["session_s"],
                  "workload_setup_s": r["setup_s"], "warmup_s": r["warmup_s"]},
        "failed_frac": failed / max(1, attempted),
        "window_s": r["window_s"], "gc_ms": r["gc_ms"], "steal_frac": r["steal_frac"],
        "op_tail_percentile": tail_p, "ops": len(ops),
        "tick_p50_ms": percentile(ticks, 50), "ticks": len(ticks),
        "kind_p50_ms": {k: percentile(x, 50) for k, x in sorted(by_kind.items())},
        "oracle_failures": bad, "oracle_rounding_ties": ties,
        "op_failures": sorted({f"{o['kind']}: {o['error']}" for o in ops if not o["ok"]})[:20],
        "check_failures": v.get("failed_checks", [])[:20],
        "expected": expected,
    }
    metrics = layers if a.trace else m
    result = {"correct": failed == 0 and len(ops) > 0,
              "attempted": max(1, attempted), "failed": failed, "metrics": metrics}
    return result, detail


if __name__ == "__main__":
    main()
