#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the harness (first run
only), generates the workload's inputs from the seed, sets up a fresh JVM
three times and runs one timed pass of the workload, checks every judged row
against its DuckDB oracle, prints every metric by name and unit, and ends
with one JSON line. Each workload's pass is sized to take longer than
`--seconds`; the run says so when it does not. See perfbench/README.md for
the workloads and the metrics.
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
sys.path.insert(0, HERE)

import oracle  # noqa: E402
from gen import generate  # noqa: E402
from workloads import ETL_GROUPS, WORKLOADS  # noqa: E402

TESTDATA = os.path.expanduser("~/testdata")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 150
# set-ups per run; setup_s is their median
SETUPS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, digest):
    """Compiles the library with the harness; returns the runtime classpath.
    Reuses the previous build while no source has changed."""
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            old, cp = f.read().split("\n")[:2]
        if old == digest:
            return cp
    offline = os.environ.get("SBT_OPTS") or " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true"])
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        offline, "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={HERE}/target/tmp"]))
    os.makedirs(os.path.join(HERE, "target", "tmp"), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as f:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        f.write(p.stdout)
    cp = p.stdout.strip().split("\n")[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or "perfbench" not in cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def heap_size():
    """Driver heap: half of physical memory, 2 to 8 GiB (the test suite's
    rule)."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def quantile(xs, q):
    """Linear-interpolated quantile, 0 <= q <= 1."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    i = int(pos)
    j = min(i + 1, len(xs) - 1)
    return xs[i] + (xs[j] - xs[i]) * (pos - i)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still kills and reaps its build or JVM child:
    # subprocess.run kills the child on any exception, SystemExit included
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala")):
        fail("run from the repository root (src/main/scala/graft not found)")
    wl = WORKLOADS[args.workload]
    src = os.path.join(TESTDATA, wl["base"])
    if not os.path.isfile(os.path.join(src, "documents.parquet")):
        fail(f"testdata not found at {src}")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME does not name a Spark installation")

    digest = source_hash(root)
    cp = build(root, digest)

    # per-run directories, wiped first
    run = os.path.join(HERE, ".run", args.workload)
    shutil.rmtree(run, ignore_errors=True)
    dirs = {k: os.path.join(run, k) for k in
            ("input", "out", "tmp", "warehouse", "local")}
    for d in dirs.values():
        os.makedirs(d)

    g0 = time.monotonic()
    inputs = generate(src, dirs["input"], args.seed)
    gen_s = time.monotonic() - g0
    input_bytes = sum(t["bytes"] for t in inputs.values())

    ops = wl["ops"]
    report = os.path.join(run, "report.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{heap_size()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dderby.system.home={dirs['tmp']}",
           "-cp", cp, "graft.perfbench.Harness",
           f"input={dirs['input']}", f"out={dirs['out']}",
           f"warehouse={dirs['warehouse']}", f"local={dirs['local']}",
           f"ops={','.join(ops)}", f"setups={SETUPS}",
           f"trace={args.trace}", f"report={report}",
           f"spans={os.path.join(run, 'trace.jsonl')}"]
    with open(os.path.join(run, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=run, stdout=log, stderr=log,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {JVM_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(report):
        fail(f"harness exited with {p.returncode}, see {run}/jvm.log")
    with open(report) as f:
        rep = json.load(f)

    rows = [o for o in ops if not o.startswith("stage:")]
    checks = oracle.check(dirs["input"], dirs["out"], rows, rep["oracle"])
    bad_rows = {n for n, (ok, _, _) in checks.items() if not ok}
    runs = rep["ops"]
    failed = [r for r in runs if r["error"] or r["name"] in bad_rows]
    for r in runs:
        if r["error"]:
            print(f"[perfbench] {r['name']} threw: {r['error']}")
    for n in sorted(bad_rows):
        print(f"[perfbench] {n} does not match its oracle: {checks[n][2]}")

    # each operation's wall time less the share of it the host stole from
    # this machine's CPUs, so that other machines' load does not move it
    op_walls = [r["wall_s"] * (1 - r["steal_share"]) for r in runs]
    wall_s = sum(op_walls)
    wall_raw_s = sum(r["wall_s"] for r in runs)
    setups = rep["setup_s"]
    print(f"workload {args.workload}  seed {args.seed}  cores {rep['cpus']}  "
          f"operations {len(runs)}  input {input_bytes / 2**20:.1f} MB  "
          f"trace {args.trace}")
    if wall_raw_s < args.seconds:
        print(f"  note: the pass took {wall_raw_s:.1f} s, less than --seconds "
              f"{args.seconds:g}")
    print(f"  {'gen_s':<30} {gen_s:12.4f} s      input generation, not in setup_s")
    print(f"  {'wall_raw_s':<30} {wall_raw_s:12.4f} s      the pass by the clock; "
          f"the host stole {1 - wall_s / wall_raw_s:.1%} of it")
    print(f"  {'setup_cold_s':<30} {setups[0]:12.4f} s      "
          "the first set-up, from JVM start")
    print(f"  {'setups_s':<30} {' '.join(f'{x:.3f}' for x in setups):>12} s      "
          "every set-up of this run; setup_s is their median")
    print(f"  {'fail_frac':<30} {len(failed) / len(runs):12.4f} 1      "
          f"{len(failed)} of {len(runs)} operations threw or missed the oracle")
    print(f"  {'op_p50_s':<30} {statistics.median(op_walls):12.4f} s      "
          f"median of {len(op_walls)} operation times")
    tail = tail_pct(len(op_walls))
    if tail is None:
        print(f"  {'op_tail_s':<30} {'-':>12}        not reported: {len(op_walls)} "
              "operations leave fewer than 10 beyond any percentile above p50")
    else:
        print(f"  {'op_tail_s':<30} {quantile(op_walls, tail / 100):12.4f} s      "
              f"p{tail} of {len(op_walls)} operations")
    untraced = os.path.join(HERE, ".run", f"{args.workload}.untraced.json")
    if args.trace:
        metrics = layer_metrics(rep, checks, wall_s)
        base = untraced_wall(untraced, args.seed, digest, ops)
        if base:
            print(f"  {'trace.overhead_share':<30} {wall_s / base - 1:12.4f} 1      "
                  f"traced wall_s / untraced wall_s {base:.3f} s - 1")
        else:
            print(f"  {'trace.overhead_share':<30} {'-':>12}        not measured: "
                  "no untraced run of this seed and source came first")
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "wall_s": (wall_s, "s"),
            "heap_live_peak_mb": (rep["heap_live_peak_b"] / 2**20, "MB"),
            "disk_written_per_input_byte":
                (rep["disk_bytes"] / input_bytes, "B/B"),
        }
        record_untraced(untraced, args.seed, digest, ops, wall_s)
    for k, (v, u) in metrics.items():
        print(f"  {k:<30} {v:12.4f} {u}")
    print(json.dumps({
        "correct": not failed, "attempted": len(runs), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def record_untraced(path, seed, digest, ops, wall_s):
    """Keeps each seed's latest untraced wall_s with the source hash and the
    operations it ran, the base of trace.overhead_share."""
    walls = {}
    if os.path.exists(path):
        with open(path) as f:
            walls = json.load(f)
    walls[str(seed)] = {"source": digest, "ops": ops, "wall_s": wall_s}
    with open(path, "w") as f:
        json.dump(walls, f)


def untraced_wall(path, seed, digest, ops):
    """The untraced wall_s of this seed on these sources and operations, or
    None."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        w = json.load(f).get(str(seed))
    if w and w.get("source") == digest and w.get("ops") == ops:
        return w["wall_s"]
    return None


def tail_pct(n):
    """The highest whole percentile above p50 with at least ten of `n`
    samples beyond it, or None."""
    p = int(100 * (1 - 10 / n)) if n > 10 else 0
    return p if p > 50 else None


def layer_metrics(rep, checks, wall_s):
    """Per-layer totals of the pass."""
    runs = rep["ops"]
    layer = rep["layer"]

    def tot(key, names=None):
        return sum(x["m"][key] for x in layer
                   if names is None or x["name"] in names)

    def wall(pred):
        return sum(r["wall_s"] for r in runs if pred(r["name"]))

    op_wall = wall(lambda _: True)
    stream_rows = {r["name"] for r in runs if "stream" in r["name"]
                   and not r["name"].startswith("stage:")}
    stream_wall = wall(lambda x: x in stream_rows)
    result_rows = sum(c[1] for c in checks.values())
    trig = rep["triggers_ms"]
    trig_tail = tail_pct(len(trig))
    active = tot("job_active_ms") / 1e3
    mb = 2**20
    return {
        "spark.jobs": (tot("jobs"), "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.tasks_per_stage": (tot("tasks") / max(1, tot("stages")), "1"),
        "spark.job_active_s": (active, "s"),
        "spark.driver_gap_s": (op_wall - active, "s"),
        "spark.driver_gap_share": ((op_wall - active) / op_wall, "1"),
        "spark.plan_s": (tot("plan_ms") / 1e3, "s"),
        "spark.executor_run_s": (tot("run_ms") / 1e3, "s"),
        "spark.executor_cpu_s": (tot("cpu_ns") / 1e9, "s"),
        "spark.gc_s": (tot("gc_ms") / 1e3, "s"),
        "spark.core_busy_share":
            (tot("run_ms") / 1e3 / (op_wall * rep["cpus"]), "1"),
        "spark.shuffle_write_mb": (tot("shuffle_write_b") / mb, "MB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_b") / mb, "MB"),
        "spark.spill_mb": (tot("spill_b") / mb, "MB"),
        "spark.input_mb": (tot("input_b") / mb, "MB"),
        "spark.output_mb": (tot("output_b") / mb, "MB"),
        "spark.join_rows_out": (tot("join_rows"), "count"),
        "spark.result_rows": (result_rows, "count"),
        "spark.failed_tasks": (tot("failed_tasks"), "count"),
        "ops.candidate_yield": (result_rows / max(1, tot("join_rows")), "1"),
        "queries.build_s": (sum(r["build_s"] for r in runs
                                if not r["name"].startswith("stage:")), "s"),
        "queries.exec_s": (sum(r["exec_s"] for r in runs), "s"),
        "queries.stage_build_s": (wall(lambda x: x.startswith("stage:")), "s"),
        "queries.stage_mb": (sum(r["stage_bytes"] for r in runs) / mb, "MB"),
        "etl.sources_s": (wall(lambda x: ETL_GROUPS.get(x) == "sources"), "s"),
        "etl.staging_s": (wall(lambda x: ETL_GROUPS.get(x) == "staging"), "s"),
        "etl.star_s": (wall(lambda x: ETL_GROUPS.get(x) == "star"), "s"),
        "etl.written_mb": (tot("output_b", set(ETL_GROUPS)) / mb, "MB"),
        "ops.dedup_s": (wall(lambda x: x.startswith("dd_")), "s"),
        "ops.similarity_s": (wall(lambda x: x.startswith(("sim_", "emb_"))), "s"),
        "ops.text_s": (wall(lambda x: x.startswith("tx_")), "s"),
        "stream.drains": (tot("drains"), "count"),
        "stream.batches": (tot("batches"), "count"),
        "stream.input_rows": (tot("input_rows"), "count"),
        "stream.batch_p50_ms": (quantile(trig, 0.5) if trig else 0.0, "ms"),
        "stream.batch_tail_ms":
            (quantile(trig, trig_tail / 100) if trig_tail else 0.0, "ms"),
        "stream.rows_per_s":
            (tot("input_rows") / stream_wall if stream_wall else 0.0, "1/s"),
        "stream.add_batch_ms": (tot("add_batch_ms"), "ms"),
        "stream.query_planning_ms": (tot("query_planning_ms"), "ms"),
        "stream.wal_commit_ms": (tot("wal_commit_ms"), "ms"),
        "stream.latest_offset_ms": (tot("latest_offset_ms"), "ms"),
        "stream.commit_offsets_ms": (tot("commit_offsets_ms"), "ms"),
        "stream.drain_overhead_s":
            (stream_wall - tot("trigger_ms", stream_rows) / 1e3, "s"),
        "stream.state_rows_peak":
            (max([x["m"]["state_rows_peak"] for x in layer] or [0]), "count"),
        "stream.state_mb_peak":
            (max([x["m"]["state_bytes_peak"] for x in layer] or [0]) / mb, "MB"),
        "trace.wall_s": (wall_s, "s"),
    }


if __name__ == "__main__":
    main()
