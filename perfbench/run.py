#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload suite|corpus|ingest --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout.  The first run builds the program and the
harness from source (perfbench/jvm, cached in .bench_build/ by a hash of the
sources) and, for `suite`, writes the sf0.1-shaped tables (.bench_data/);
neither counts as set-up.  The JVM (perfbench.Main) then sets up, runs whole
rounds of the workload's operations for S seconds, checks its outputs and
writes .bench_runs/<run>/record.json.

`suite` rows are written in set-up and compared with DuckDB after the JVM
exits (oracle.py, whose results are cached by SQL text and tables).
PERFBENCH_KEEP=1 keeps the run's inputs, stores and dumps under .bench_runs.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1).  Exits non-zero, without that line, if the program cannot be
built or run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
DATA_DIR = os.path.join(ROOT, ".bench_data")
RUNS_DIR = os.path.join(ROOT, ".bench_runs")
sys.path.insert(0, HERE)

WORKLOADS = ("suite", "corpus", "ingest")
CORES = min(2, os.cpu_count() or 1)
HEAP = "2g"
JVM_TIMEOUT_S = 160
UNITS = {  # metric -> unit, as in BENCHMARK.json
    "setup_s": "s", "peak_rss_mb": "MB", "cpu_s": "s", "work_per_s": "1/s", "op_p50_s": "s",
}
LAYER_UNITS = {
    "build.wall_s": "s", "build.jobs": "count", "plan.wall_s": "s", "exec.wall_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_mb": "MB", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "host.cpu_util": "ratio", "trace.coverage": "ratio",
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")))


def _files_under(*dirs):
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            for f in sorted(files):
                yield os.path.join(base, f)


def source_stamp():
    h = hashlib.sha256()
    jvm = os.path.join(HERE, "jvm")
    paths = list(_files_under(os.path.join(ROOT, "src", "main"), os.path.join(jvm, "src")))
    paths += [os.path.join(jvm, "build.sbt"), os.path.join(jvm, "project", "build.properties")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def _read(path):
    with open(path) as f:
        return f.read()


def build():
    """Compiles program + harness; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD_DIR, "stamp"), os.path.join(BUILD_DIR, "classpath")
    want = source_stamp()
    if os.path.isfile(stamp) and os.path.isfile(cp_file) and _read(stamp) == want:
        return _read(cp_file)
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "jvm"), env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    if r.returncode != 0 or not cps:
        raise BenchError(f"build failed (see {log})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return cps[-1]


def tables_dir():
    """The sf0.1-shaped tables, written once per checkout by tables.py."""
    import tables
    d = os.path.join(DATA_DIR, "tables")
    stamp = os.path.join(d, "stamp")
    with open(os.path.join(HERE, "tables.py"), "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    if not (os.path.isfile(stamp) and _read(stamp) == want):
        tables.write(d)
        with open(stamp, "w") as f:
            f.write(want)
    return d


def java_cmd(cp, run_dir, main_args):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap's ceiling is fixed and nothing is pre-touched, so what is
    # resident follows what the program uses.  The parallel collector without
    # its adaptive (pause-time driven) sizing grows the heap by occupancy
    # alone, so the heap's size does not depend on the host's timing.  The
    # JIT stops at its first tier (C1), which settles within a few rounds;
    # C2 kept compiling through a whole run, by an amount that varied from
    # run to run.
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
             "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + opens
            + ["-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cp, run_dir, main_args):
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        # few malloc arenas: less native memory that varies with threading
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(java_cmd(cp, run_dir, main_args), cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"JVM did not finish within {JVM_TIMEOUT_S} s (see {log})")
    if rc != 0:
        raise BenchError(f"JVM exited with {rc} (see {log})")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args(argv)
    if not program_present():
        raise BenchError(f"no program sources under {ROOT} (build.sbt, src/main/scala/graft)")
    cp = build()
    run_dir = os.path.join(RUNS_DIR, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--out", run_dir, "--cores", str(CORES)]
    if a.workload == "suite":
        import oracle
        tables = tables_dir()
        slots = os.path.join(HERE, "suite_slots.tsv")
        args += ["--data", tables, "--slots", slots]
    run_jvm(cp, run_dir, args)
    with open(os.path.join(run_dir, "record.json")) as f:
        rec = json.load(f)
    errors = list(rec["errors"])
    failed = rec["failed"]
    if a.workload == "suite":
        disagree, oracle_errors = oracle.check_run(run_dir, tables, os.path.join(DATA_DIR, "oracle"))
        errors += oracle_errors
        runs = rec["figures"]["slot_runs"]
        failed += sum(runs.get(s, 0) for s in disagree)
        rec["oracle_disagree"] = sorted(disagree)
    rec["correct"] = not errors
    rec["errors"] = errors
    rec["failed"] = failed
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    if os.environ.get("PERFBENCH_KEEP") != "1":
        for sub in ("corpus-input", "ingest", "dumps", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    source, units = (rec["layers"], LAYER_UNITS) if a.trace == "1" else (rec["metrics"], UNITS)
    metrics = {}
    for name, unit in units.items():
        v = source.get(name)
        if v is None:
            raise BenchError(f"metric {name} missing from {run_dir}/record.json")
        metrics[name] = {"value": v, "unit": unit}
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
