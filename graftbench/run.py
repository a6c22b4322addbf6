#!/usr/bin/env python3
"""graft benchmark: one closed-loop, single-client workload per run.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark's instruments from source (sbt, only
when a source changed), then runs the benchmark JVM (graftbench.Main) over
the sf0.1 tables in data/sf0.1 (corpus_10x: over the seeded 10x corpus
fixture of gen.py, cached on disk, not part of any metric): cold set-up,
a gate pass, WARM_PASSES untimed passes, then timed passes, every registry
query of the workload once per pass in an order drawn from the seed.
S sizes the timed part: it runs round(S / pass_s) passes, at least three,
where pass_s is the workload's pass time on a 4-core box. The count does
not follow the engine's speed, so a faster engine is not timed over more,
and warmer, passes. Afterwards every query's gate-pass output is
compared with its DuckDB oracle through tools/localverify.py; a query
that fails the compare fails every one of its timed ops.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The line before it records the run's context:
load average, passes, warmup time, per-query median latency.

The seed permutes the op order of every pass (and, for corpus_10x, draws
the 10x corpus); the sf0.1 tables are the same in every run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
JAR = os.path.join(HERE, "target", "scala-2.13", "graftbench_2.13-0.1.0.jar")
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Each workload is a fixed list of registry queries; README.md says why
# each was chosen. corpus_10x is not in BENCHMARK.json: at 10x data a run
# of it takes ~75 s on a 4-core box, more than the run budget allows.
WORKLOADS = {
    "sql_analyst": {"docs_scale": 1, "pass_s": 3.2, "queries": [
        "q03_filter_pushdown", "q04_window_topk", "q05_anti_join", "q07_union_dedup",
        "q205_srm_check", "q255_sql_surface", "q261_sql_window_surface"]},
    "dag_lifecycle": {"docs_scale": 1, "pass_s": 3.2, "queries": [
        "q249_csv_quarantine", "q252_orc_roundtrip", "q257_rezoning_lifecycle"]},
    "corpus_10x": {"docs_scale": 10, "pass_s": 6.0, "queries": [
        "q16_dedup_exact", "q20_knn_bruteforce", "q42_quality_rules", "q97_bpe_merges"]},
}

RUN_LIMIT_S = 170        # whole invocation once built
WARM_PASSES = 3          # untimed passes after the gate pass
BUILD_LIMIT_S = 850
FIXTURES_KEPT = 3        # seeds whose fixtures stay cached

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def sources_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def wait_or_kill(p, deadline, what):
    """Wait for a child started in its own session; past the deadline, kill
    its whole process group and fail the run."""
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{what} exceeded its time limit")


def build(home):
    stamp_file = os.path.join(HERE, "target", "graftbench.stamp")
    stamp = sources_stamp()
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building engine + benchmark (sbt package)")
    rc = wait_or_kill(subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "package"], cwd=HERE, env=env,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True),
        time.monotonic() + BUILD_LIMIT_S, "the build")
    if rc != 0 or not os.path.exists(JAR):
        fail(f"build failed (rc={rc})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def fixture(seed, docs_scale):
    """Fixture dir: the sf0.1 tables as they are, or a 10x corpus derived
    from them by `gen.py`, generated on first use and cached on disk."""
    if docs_scale == 1:
        return gen.SF01
    root = os.path.join(WORK, "fixtures")
    d = os.path.join(root, f"seed-{seed}-docs{docs_scale}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.write_fixture(seed, tmp, docs_scale)
        os.rename(tmp, d)
    os.utime(d)
    kept = sorted((os.path.join(root, s) for s in os.listdir(root)),
                  key=os.path.getmtime, reverse=True)
    for old in kept[FIXTURES_KEPT:]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def run_jvm(home, heap, run_dir, args, deadline):
    """Run the benchmark JVM (launched directly, fixed heap) to completion;
    past the deadline it is killed and the run fails."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
    # -XX:+AlwaysPreTouch: the heap's pages are faulted in at JVM start, so
    # first-touch page faults (costly and uneven in a virtual machine) stay
    # out of the measured parts
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-Dspark.callstack.depth=64",
              "-cp", JAR + os.pathsep + os.path.join(home, "jars", "*"),
              "graftbench.Main"] + args)
    log_path = os.path.join(run_dir, "bench.log")
    with open(log_path, "w") as out:
        rc = wait_or_kill(subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                           cwd=run_dir, start_new_session=True),
                          deadline, "the benchmark JVM")
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the benchmark JVM exited with {rc}")


def cpu_times():
    """Total and steal jiffies of all CPUs, or None off Linux. Steal is
    time the host gave this machine's CPUs to others."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
        return sum(v[:8]), v[7]
    except (OSError, ValueError, IndexError):
        return None


def gate(fixture_dir, gate_dir, names, timeout=120):
    """Run tools/localverify.py over the queries' outputs; True per query
    whose output matches its oracle exactly."""
    names = list(names)
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "localverify.py"),
                        fixture_dir, gate_dir, ",".join(names)],
                       capture_output=True, text=True, timeout=timeout)
    passed = set()
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] == "PASS":
            passed.add(parts[1])
        elif parts and parts[0] == "FAIL":
            log(line)
    return {n: n in passed for n in names}


def failed_ops(ops, verdict):
    """Timed ops that raised, or whose query's output failed its oracle."""
    return [o for o in ops if not o["ok"] or not verdict.get(o["name"], False)]


def per_layer(res, cores):
    """Per-layer metrics: sums over the traced passes' ops, per pass."""
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    ops = [o for o in res["ops"] if o["traced"]]
    n = len(traced)

    def tot(k):
        return sum(o[k] for o in ops)

    m = {}
    for k, unit in [("queries.build_s", "s"), ("queries.build_jobs", "count"),
                    ("plans.exchanges", "count"), ("plans.single_partition_exchanges", "count"),
                    ("plans.codegen_fallback_exprs", "count"),
                    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
                    ("spark.driver_gap_s", "s"), ("spark.task_run_s", "s"),
                    ("spark.task_cpu_s", "s"), ("spark.task_gc_s", "s"),
                    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
                    ("spark.spill_mb", "MB"), ("spark.input_mb", "MB"),
                    ("operators.jobs", "count"), ("operators.job_s", "s"),
                    ("pipelines.jobs", "count"), ("pipelines.job_s", "s"),
                    ("sources.jobs", "count"), ("sources.job_s", "s"),
                    ("sources.fs_creates", "count"), ("sources.fs_renames", "count"),
                    ("sources.fs_deletes", "count"), ("sources.fs_lists", "count"),
                    ("sources.fs_status", "count"), ("sources.fs_opens", "count"),
                    ("sources.fs_mkdirs", "count"),
                    ("sources.fs_s", "s"), ("sources.bytes_written_mb", "MB")]:
        src = {"queries.build_s": "build_s"}.get(k, k)
        m[k] = (tot(src) / n, unit)
    m["plans.plan_s"] = (tot("plan_s") / n, "s")
    m["spark.exec_s"] = (tot("exec_s") / n, "s")
    ops_n = tot("plans.operators")
    m["plans.codegen_share"] = (tot("plans.codegen_operators") / ops_n if ops_n else 0.0, "ratio")
    wall_ms = tot("wall_ms")
    m["spark.slot_busy_frac"] = (tot("spark.task_busy_s") * 1e3 / (wall_ms * cores) if wall_ms else 0.0,
                                 "ratio")
    m["jvm.gc_s"] = (sum(p["gc_s"] for p in traced) / n, "s")
    m["jvm.heap_peak_mb"] = (max(p["heap_peak_mb"] for p in traced), "MB")
    # fastest against fastest: the least disturbed pass of each side
    tw = min(p["wall_s"] for p in traced)
    uw = min(p["wall_s"] for p in untraced)
    m["trace.overhead_frac"] = (tw / uw - 1.0, "ratio")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--heap", default="3g")
    a = ap.parse_args(argv)

    for need in [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(ROOT, "tools", "localverify.py")]:
        if not os.path.exists(need):
            fail(f"engine source missing: {os.path.relpath(need, ROOT)}")
    home = spark_home()
    build(home)
    started = time.monotonic()
    wl = WORKLOADS[a.workload]
    cores = max(1, min(a.cores, os.cpu_count() or 1))
    fx = fixture(a.seed, wl["docs_scale"])

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load0 = os.getloadavg()[0]
    cpu0 = cpu_times()
    out = os.path.join(run_dir, "out")
    run_jvm(home, a.heap, run_dir,
            ["--fixture", fx, "--out", out, "--queries", ",".join(wl["queries"]),
             "--seed", str(a.seed), "--passes", str(max(3, round(a.seconds / wl["pass_s"]))),
             "--warmup", str(WARM_PASSES),
             "--trace", str(a.trace), "--cores", str(cores)],
            started + RUN_LIMIT_S - 20)
    cpu1 = cpu_times()
    steal = ((cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])) if cpu0 and cpu1 else None
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    verdict = gate(fx, os.path.join(out, "gate"), wl["queries"],
                   timeout=max(5.0, RUN_LIMIT_S - (time.monotonic() - started)))

    ops = res["ops"]
    bad = failed_ops(ops, verdict)
    for f in res["failures"]:
        log(f"op failed: {f['name']}: {f['error']}")
    lat = {}
    for o in ops:
        lat.setdefault(o["name"], []).append(o["latency_s"])
    print(json.dumps({"run": {
        "workload": a.workload, "seed": a.seed, "cores": cores, "heap": a.heap,
        "trace": a.trace, "load_avg_start": load0, "load_avg_end": os.getloadavg()[0],
        "cpu_steal_frac": steal,
        "pass_load_avg": [p["load_avg"] for p in res["passes"]],
        "passes": len(res["passes"]), "ops": len(ops),
        "warmup_s": res["warmup_s"], "warm_pass_s": res["warm_pass_s"],
        "timed_s": res["timed_s"],
        "pass_wall_s": [p["wall_s"] for p in res["passes"]],
        "pass_jit_s": [p["jit_s"] for p in res["passes"]],
        "oracle_failed": sorted(n for n, ok in verdict.items() if not ok),
        "query_median_s": {n: statistics.median(v) for n, v in sorted(lat.items())}}}))

    if a.trace:
        metrics = per_layer(res, cores)
    else:
        walls = [p["wall_s"] for p in res["passes"]]
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "wall_s": (statistics.median(walls), "s"),
            # the JIT is still compiling the engine after the warm passes
            # (2-4 s of a 5-8 s pass on a 4-core box); that warmup work
            # is not the engine's, so it is left out
            "cpu_s": (statistics.median(p["cpu_s"] - p["jit_s"] for p in res["passes"]), "s"),
            "op_p50_s": (statistics.median(o["latency_s"] for o in ops), "s"),
            "heap_live_mb": (res["heap_live_mb"], "MB"),
        }
    print(json.dumps({
        "correct": not bad,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
