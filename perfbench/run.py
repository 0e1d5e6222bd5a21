#!/usr/bin/env python3
"""Benchmark of the minipandasspark library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark code together (`sbt compile` in perfbench/, offline, then one
jar and a class-data sharing archive from an untimed training run); later
runs reuse the build while no source changed. Each run starts one JVM with
a fixed heap limit, `local[<cores>]` and an empty scratch root of its own
(also its `java.io.tmpdir`, so no artifact or fixture persists between
runs), times the workload for `--seconds`, checks its outputs and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the per-layer
ones from a traced run (the span and listener records are kept in
perfbench/out/).

Other modes:
    --selftest                    the benchmark's own arithmetic tests
    --record --workload <name>    run the warm-up pass only and write its
                                  output fingerprints to
                                  perfbench/expected/<name>.json; each op's
                                  result and its oracle SQL are kept in
                                  perfbench/out/record-<name>/ for
                                  `python3 tools/check_correctness.py
                                  perfbench/fixtures perfbench/out/record-<name>`
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
import zipfile
from pathlib import Path

import stats

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
FIXTURES = BENCH / "fixtures"
OUT = BENCH / "out"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
JAR = BENCH / "target" / "perfbench.jar"
CDS_ARCHIVE = BENCH / "target" / "perfbench.jsa"
STAMP = BENCH / "target" / "perfbench.stamp"

WORKLOADS = ("pandas_interactive", "tpch_sql", "llm_curation", "lakehouse_rw")
HEAP = "2g"
HEAP_START = "1g"
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 120
RUN_TIMEOUT_S = 170

END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("ops_per_s", "ops/s"),
    ("peak_live_mb", "MB"),
]

PER_LAYER = [
    ("build.wall_s", "s/op"), ("build.share", "ratio"), ("build.jobs", "count/op"),
    ("build.schema_jobs", "count/op"),
    ("core.from_dict_s", "s"), ("core.mask_s", "s"), ("core.filter_project_s", "s"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("plan.actions", "count/op"),
    ("sched.jobs", "count/op"), ("sched.stages", "count/op"), ("sched.tasks", "count/op"),
    ("sched.tasks_per_stage", "ratio"), ("sched.gap_s", "s/op"),
    ("exec.task_run_s", "s/op"), ("exec.task_cpu_s", "s/op"), ("exec.gc_s", "s/op"),
    ("exec.core_util", "ratio"), ("exec.straggler_share", "ratio"),
    ("io.scan_bytes", "B/op"), ("io.scan_rows", "rows/op"), ("io.shuffle_write_bytes", "B/op"),
    ("io.shuffle_read_bytes", "B/op"), ("io.spill_bytes", "B/op"),
    ("artifact.similarity_s", "s"), ("artifact.built", "count"), ("artifact.root_bytes", "B"),
    ("log.append_s", "s"), ("log.merge_s", "s"), ("log.delete_s", "s"), ("log.compact_s", "s"),
    ("log.read_s", "s"), ("log.commit_p50_s", "s"), ("log.files_added", "count/write"),
    ("log.bytes_written", "B/write"), ("log.write_amp", "ratio"),
    ("log.bytes_per_user_byte", "ratio"), ("log.rows_scanned_per_row_returned", "ratio"),
    ("self.op_s", "s/op"), ("self.build_s", "s/op"), ("self.action_s", "s/op"),
    ("self.plan_s", "s/op"), ("self.job_s", "s/op"), ("self.stage_s", "s/op"),
    ("host.scan_control_start_s", "s"), ("host.scan_control_end_s", "s"),
    ("host.cpu_control_start_s", "s"), ("host.cpu_control_end_s", "s"), ("host.steal_share", "ratio"),
    ("trace.overhead", "ratio"), ("trace.ops", "count"),
]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark installation: $SPARK_HOME, else the first bin/ directory on
    PATH whose parent holds jars/."""
    candidates = [os.environ.get("SPARK_HOME", "")]
    candidates += [str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
                   if d and (Path(d) / "spark-submit").is_file()]
    for home in candidates:
        if home and (Path(home) / "jars").is_dir():
            return Path(home)
    fail("no Spark installation: set SPARK_HOME to a directory with jars/")


def source_digest():
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the library's sources (src/main/scala) are not in this checkout")
    digest = source_digest()
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    STAMP.unlink(missing_ok=True)
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    with open(OUT / "build.log", "wb") as log:
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                           BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        fail(f"build failed (exit {code}); see {OUT / 'build.log'}", 1)
    # One jar, because a class-data sharing archive takes classes only
    # from jars.
    with zipfile.ZipFile(JAR, "w") as z:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(CLASSES).as_posix())
    # A training run (the pandas_interactive warm-up pass, untimed) whose
    # JVM leaves at exit an archive of every class it loaded. Each run
    # maps it instead of loading and verifying those classes again, which
    # takes several seconds off session start and the warm-up. Classes
    # not in it load as usual.
    CDS_ARCHIVE.unlink(missing_ok=True)
    run_jvm("pandas_interactive", 0, 0, False, TRAIN_TIMEOUT_S,
            jvm_flags=[f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    STAMP.write_text(digest)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(workload, seed, seconds, trace, budget_s, record_dir=None, jvm_flags=None):
    """One benchmark JVM; returns its result record (None in record mode)."""
    scratch = OUT / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    result = scratch / "result.json"
    jars = spark_home() / "jars"
    # A fixed heap limit and start size, so neither depends on the host's
    # memory; the heap grows only as far as the program needs.
    cmd = ["java", f"-Xms{HEAP_START}", f"-Xmx{HEAP}"]
    if jvm_flags is not None:
        cmd += jvm_flags
    elif CDS_ARCHIVE.is_file():
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={scratch / 'tmp'}",
        f"-Dspark.local.dir={scratch / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
        "-cp", f"{JAR}{os.pathsep}{jars}/*",
        "perfbench.Main",
        f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
        f"trace={1 if trace else 0}", f"cores={cores()}", f"fixtures={FIXTURES}",
        f"scratch={scratch}", f"expected={BENCH / 'expected' / (workload + '.json')}",
        f"out={record_dir if record_dir else result}",
        f"record={1 if record_dir else 0}",
    ]
    try:
        with open(scratch / "jvm.log", "wb") as log:
            cmd.append(f"launch_ns={time.time_ns()}")
            code = run_bounded(cmd, budget_s, cwd=scratch, stdout=log,
                               stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        if code != 0:
            tail = (scratch / "jvm.log").read_text(errors="replace")[-3000:]
            keep = OUT / f"failed-{workload}-{seed}.log"
            shutil.copy(scratch / "jvm.log", keep)
            fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
                 f"log kept in {keep}\n{tail}", 1)
        if record_dir:
            return None
        return json.loads(result.read_text())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def reads(rec):
    return [s["lat"] for s in rec["samples"] if s["ok"] and s["kind"] == "read"]


def end_to_end(rec):
    ok = [s for s in rec["samples"] if s["ok"]]
    busy = rec["timed_wall_s"] - rec["timed_check_s"]
    return {
        "setup_s": rec["setup_s"],
        "latency_p50_s": stats.percentile(reads(rec), 0.5),
        "ops_per_s": len(ok) / busy if busy > 0 else 0.0,
        "peak_live_mb": max(rec["live_setup_mb"], rec["live_end_mb"]),
    }


def per_layer(rec):
    c = rec["controls"]
    values = dict(rec["layers"])
    values.update(stats.trace_layers(rec))
    values.update({
        "host.scan_control_start_s": c["scan_start_s"], "host.scan_control_end_s": c["scan_end_s"],
        "host.cpu_control_start_s": c["cpu_start_s"], "host.cpu_control_end_s": c["cpu_end_s"],
        "host.steal_share": c["steal_share"],
    })
    return values


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)

    if args.selftest:
        build()
        import unittest
        suite = unittest.defaultTestLoader.discover(str(BENCH), pattern="test_*.py")
        ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
        cmd = ["java", "-cp", f"{JAR}{os.pathsep}{spark_home() / 'jars'}/*",
               "perfbench.SelfTest"]
        ok = run_bounded(cmd, 120) == 0 and ok
        sys.exit(0 if ok else 1)
    if not args.workload:
        fail("--workload is required")

    build()
    if args.record:
        dest = OUT / f"record-{args.workload}"
        shutil.rmtree(dest, ignore_errors=True)
        run_jvm(args.workload, args.seed, 0, False, 900, record_dir=dest)
        shutil.copy(dest / "expected.json", BENCH / "expected" / f"{args.workload}.json")
        print(f"recorded {BENCH / 'expected' / (args.workload + '.json')}; "
              f"vet with: python3 tools/check_correctness.py {FIXTURES} {dest}")
        return

    # the first run in a checkout also builds; the JVM's budget starts after that
    rec = run_jvm(args.workload, args.seed, args.seconds, bool(args.trace), RUN_TIMEOUT_S)

    failed = len(rec["errors"]) + len(rec["mismatches"])
    attempted = len(rec["samples"]) + rec["warmup_ops"]
    for msg in (rec["errors"] + rec["mismatches"])[:20]:
        print(f"FAILED {msg}")
    e2e = end_to_end(rec)
    n = len(reads(rec))
    q = stats.highest_supported(n)
    c = rec["controls"]
    print(f"{args.workload} seed={args.seed} trace={args.trace} cores={rec['cores']}: "
          f"{len(rec['samples'])} timed ops ({n} reads), {rec['checks']} output checks, "
          f"failed_ops_ratio={failed / attempted:.4f}")
    print("set-up: session {:.2f}s, fixtures {:.2f}s, warm-up and checks {:.2f}s".format(
        rec["session_s"], rec["fixture_s"], rec["warmup_s"]))
    print("host: scan control {:.4f}s -> {:.4f}s, cpu control {:.4f}s -> {:.4f}s, "
          "stolen cpu {:.1%} of the timed phase".format(
              c["scan_start_s"], c["scan_end_s"], c["cpu_start_s"], c["cpu_end_s"],
              c["steal_share"]))
    for k, unit in END_TO_END:
        print(f"  {k} = {e2e[k]:.6g} {unit}")
    if q is not None:
        print(f"  latency p{round(q * 100)} = {stats.percentile(reads(rec), q):.6g} s "
              f"(the highest percentile with {stats.SAMPLES_BEYOND} of the {n} reads beyond it)")
    print("  memory: live {:.1f} MB after set-up, {:.1f} MB at the end; peak resident "
          "{:.1f} MB".format(rec["live_setup_mb"], rec["live_end_mb"], rec["peak_rss_mb"]))
    if args.workload == "lakehouse_rw":
        for k in ("log.commit_p50_s", "log.bytes_per_user_byte"):
            print(f"  {k} = {rec['layers'][k]:.6g}")

    OUT.mkdir(parents=True, exist_ok=True)
    kept = OUT / f"{'trace' if args.trace else 'result'}-{args.workload}-{args.seed}.json"
    kept.write_text(json.dumps(rec))
    if args.trace:
        values = per_layer(rec)
        for k, unit in PER_LAYER:
            print(f"  {k} = {values.get(k, 0.0):.6g} {unit}")
        print(f"trace records: {kept}")
        metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
