#!/usr/bin/env python3
"""Steal-first benchmark: one workload, one seed, one JSON line.

  python3 stealbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a kleptospark checkout. The first run builds the
program and the benchmark from source with sbt (offline) and generates the
input lake and the Derby source under `.bench_build/`; later runs reuse
them. A run starts one JVM: one client issuing one operation at a time
(local[nproc], Steal concurrency nproc). It times set-up, a cold operation
and a fixed number of warm operations (`--seconds` is a deadline for
them), then the outputs are checked with DuckDB
(`check.py`). The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`.

Extra flags: `--pin` rewrites `pins.json` from this run's query outputs
(queries workload only); `--keep` leaves the run's work directory.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import lake  # noqa: E402
import spec  # noqa: E402

DEADLINE_S = 170          # a run must end within 180 s once built
BUILD_DEADLINE_S = 850    # the first run of a checkout may take 900 s

WORKLOADS = ("lake_subset_parquet", "queries", "db_subset_db", "lake_full_sqltext")

END_TO_END = {
    "setup_s": "s", "cold_s": "s", "wall_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics printed with --trace 1 (the BENCHMARK.json set): layer
# self times in seconds, counters, and the trace's own wall time and
# overhead. Metrics of a layer a workload does not use read 0 there.
PER_LAYER = {
    "config.load_ms": "ms",
    "sources.catalog_s": "s", "sources.open_s": "s", "sources.scan_s": "s",
    "sources.rows_in": "count", "sources.scan_partitions": "count",
    "plan.build_s": "s", "plan.exec_s": "s", "plan.rows_out": "count",
    "plan.selectivity": "ratio", "plan.shuffle_mb": "MB",
    "anonymise.build_s": "s", "anonymise.exec_s": "s",
    "anonymise.udf_cells": "count", "anonymise.codegen_cells": "count",
    "sinks.write_s": "s", "sinks.driver_s": "s",
    "sinks.statements": "count", "sinks.bytes_per_row": "B/row",
    "sinks.write_tasks": "count", "sinks.out_mb": "MB",
    "steal.tables": "count", "steal.serial_sum_s": "s",
    "steal.parallel_eff": "ratio", "steal.slowest_table_s": "s",
    "ops.queries": "count", "ops.build_s": "s", "ops.exec_s": "s",
    "ops.sweep_s": "s", "ops.leaked_rdds": "count",
    **{f"ops.{q}_s": "s" for q in spec.QUERIES},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_idle_s": "s", "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.gc_s": "s", "spark.spill_mb": "MB", "spark.shuffle_mb": "MB",
    "spark.exchanges": "count", "spark.broadcasts": "count",
    "trace.wall_s": "s", "trace.overhead": "ratio",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"stealbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "stealbench/build.sbt", "stealbench/project/build.properties",
                 "stealbench/src"):
        p = os.path.join(root, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, bb):
    """Compile program + benchmark once per source tree; returns classpath."""
    stamp_file = os.path.join(bb, "build.stamp")
    cp_file = os.path.join(bb, "classpath.txt")
    stamp = source_stamp(root)
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    tmp = os.path.join(bb, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files and JVM perf data of sbt's JVMs stay in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
        f" -Dsbt.offline=true -Dsbt.server.autostart=false "
        f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Xmx2g"))
    log = os.path.join(bb, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S - 60)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "stealbench/target" in l and ":" in l
           and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        tail = "\n".join(lines[-30:])
        fail(f"build failed (exit {proc.returncode}); see {log}\n{tail}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def java_cmd(cp, work):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        # fixed initial heap and young generation: without them G1's
        # sizing decisions made peak RSS bimodal across processes
        "-Xms2g", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.stream.error.file={work}/derby.log",
        f"-Dderby.system.home={work}",
        "-cp", cp, "stealbench.Main"])


def ensure_inputs(bb, cp, workload):
    """Lake (always) and Derby source (db workload), built once."""
    lake_dir = os.path.join(bb, "lake")
    if not os.path.exists(os.path.join(lake_dir, "_DONE")):
        shutil.rmtree(lake_dir, ignore_errors=True)
        lake.write(lake_dir)
    derby_dir = os.path.join(bb, "derby_src")
    if workload == "db_subset_db" and not os.path.exists(derby_dir + ".done"):
        shutil.rmtree(derby_dir, ignore_errors=True)
        tmp = os.path.join(bb, "derby_prep")
        os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
        subprocess.run(java_cmd(cp, tmp) + [
            "prepare-derby", os.path.join(lake_dir, "csv"), derby_dir],
            check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            timeout=BUILD_DEADLINE_S)
        shutil.rmtree(tmp, ignore_errors=True)
        open(derby_dir + ".done", "w").close()
    return lake_dir, derby_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src/main/scala/graft"))):
        fail("run from the root of a kleptospark checkout "
             "(build.sbt and src/main/scala/graft not found)")
    bb = os.path.join(root, ".bench_build")
    os.makedirs(bb, exist_ok=True)
    cp = build(root, bb)
    lake_dir, derby_dir = ensure_inputs(bb, cp, a.workload)

    prm = spec.params(a.seed)
    cpus = os.cpu_count() or 1
    work = os.path.join(bb, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--trace", str(a.trace),
            "--cpus", str(cpus), "--lake", lake_dir, "--secret", prm["secret"]]
    if a.workload in ("lake_subset_parquet", "db_subset_db"):
        cfg = os.path.join(work, "klepto.toml")
        with open(cfg, "w") as f:
            f.write(spec.config_toml(prm["segment"], prm["table_order"],
                                     upper=a.workload == "db_subset_db"))
        args += ["--config", cfg]
    if a.workload == "db_subset_db":
        args += ["--derby", derby_dir]
    if a.workload == "queries":
        args += ["--order", ",".join(prm["query_order"])]

    # a fresh checkout pays the build before this point; the run itself
    # gets a full 180 s budget after it
    work_log = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"))
    with open(work_log, "w") as log:
        try:
            proc = subprocess.run(
                java_cmd(cp, work) + args +
                ["--work", work, "--seconds", str(a.seconds)],
                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=DEADLINE_S - 10)
        except subprocess.TimeoutExpired:
            fail(f"JVM exceeded {DEADLINE_S - 10} s; see {work_log}", 3)
    res_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_path):
        fail(f"JVM exited {proc.returncode}; see {work_log}\n"
             f"{open(work_log).read()[-3000:]}", 3)
    res = json.load(open(res_path))

    walls = sorted(res["wall_samples"])
    fails = []
    if res["cold_s"] is None or not walls:
        fails.append("no cold or no timed operation completed: " +
                     "; ".join(res["errors"][:3]))
    # the cold repetition and the last one
    reps = [os.path.join(work, "out", f"rep{r}") for r in (0, res["reps"][-1])]
    try:
        if a.workload == "queries":
            pins_path = os.path.join(HERE, "pins.json")
            base = os.path.join(work, "out", "queries")
            if a.pin:
                with open(pins_path, "w") as f:
                    json.dump(check.query_digests(base), f, indent=1,
                              sort_keys=True)
                    f.write("\n")
            pins = json.load(open(pins_path)) if os.path.exists(pins_path) else {}
            fails += check.check_queries(base, pins)
        else:
            ext = ".sql" if a.workload == "lake_full_sqltext" else ""
            fails += check.check_steal(a.workload, prm["segment"], lake_dir,
                                       [r + ext for r in reps])
    except Exception as e:  # outputs missing or unreadable
        fails.append(f"check could not run: {e!r}")
    # a failed check fails the repetitions it covers
    failed = res["failed"] + (len(reps) if fails else 0)

    e2e = {
        "setup_s": res["setup_s"],
        "cold_s": res["cold_s"],
        "wall_s": statistics.median(walls) if walls else None,
        "cpu_s": statistics.median(res["cpu_samples"]) if walls else None,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    detail = {"workload": a.workload, "seed": a.seed, "segment": prm["segment"],
              "wall_n": len(walls),
              "wall_samples": res["wall_samples"],
              "out_mb": res["out_bytes"] / 1e6, "errors": res["errors"][:5],
              "failures": fails[:20]}
    if a.trace:
        detail["layers"] = dict(sorted(res["layers"].items()))
        metrics = {k: {"value": float(res["layers"].get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items() if e2e[k] is not None}
    print(json.dumps(detail))
    print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    if not a.keep:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
