#!/usr/bin/env python3
"""Benchmark of the catalog ETL-and-serve loop and an analytics slice.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve|analytics \
        --seed N --seconds S --trace 0|1

The first run builds the library and the load generator from source with
sbt (outputs in .bench_build/); later runs start the JVM directly. One
workload runs in one JVM with a Spark local[nproc] session. The last line
of standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics; a traced run also
writes its spans to .bench_build/traces/.

Developer mode (no JSON result): write each analytics entry's result for
the DuckDB oracle check (see perfbench/METRICS.md):
    python3 perfbench/run.py --dump-analytics OUT_DIR
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "classpath.txt"
STAMP = BUILD / "stamp"
JVM_SECONDS = 170
BUILD_SECONDS = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    yield BENCH / "build.sbt"
    yield BENCH / "project" / "build.properties"
    for top in (ROOT / "src" / "main", BENCH / "src"):
        yield from sorted(p for p in top.rglob("*") if p.is_file())


def source_stamp():
    h = hashlib.sha256()
    for p in sources():
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the stamp says the classes are current."""
    stamp = source_stamp()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log("building with sbt")
    t0 = time.time()
    code, _ = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "exportClasspath"],
                        BENCH, BUILD_SECONDS, env)
    if code != 0 or not CLASSPATH.exists():
        raise SystemExit(f"[perfbench] build failed (exit {code})")
    STAMP.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def run_child(cmd, cwd, limit, env=None):
    """Runs `cmd` in its own process group, with its output on stderr, and
    waits for it. The group is killed after `limit` seconds or when this
    script is interrupted. Returns (exit code, peak RSS in MB)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)

    def kill():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            os.waitpid(proc.pid, 0)
        except ChildProcessError:
            pass

    def interrupted(signum, _frame):
        kill()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    deadline = time.time() + limit
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0
        if time.time() > deadline:
            log(f"{cmd[0]} exceeded {limit} s; killing it")
            kill()
            return 1, 0.0
        time.sleep(0.05)


def run_jvm(run_dir, main_args):
    """Runs the load generator; returns (exit code, peak RSS in MB)."""
    tmp = run_dir / "tmp"
    for d in (tmp, run_dir / "spark-local", run_dir / "warehouse"):
        d.mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
            "--run-dir", str(run_dir), "--data-dir", str(BENCH / "data")] + main_args
    # Spark prefers these variables over spark.local.dir; the run's scratch
    # space must stay inside the run directory
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    return run_child(cmd, run_dir, JVM_SECONDS, env)


def result_line(bench, raw, trace, rss_mb):
    """Checks the generator's metrics against BENCHMARK.json and returns
    the final result object."""
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    got = dict(raw["metrics"])
    if trace:
        got["rss_peak_mb"] = {"value": rss_mb, "unit": "MB"}
    unknown = sorted(set(got) - set(units))
    if unknown:
        raise SystemExit(f"[perfbench] undeclared metrics: {unknown}")
    metrics = {}
    for name, unit in units.items():
        if name in got:
            if got[name]["unit"] != unit:
                raise SystemExit(f"[perfbench] {name}: unit {got[name]['unit']} != {unit}")
            if got[name]["value"] is None:
                raise SystemExit(f"[perfbench] {name} has no value")
            metrics[name] = {"value": got[name]["value"], "unit": unit}
        elif trace:
            # a layer this workload never calls did no work
            metrics[name] = {"value": 0, "unit": unit}
        else:
            raise SystemExit(f"[perfbench] end-to-end metric {name} missing")
    return {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--dump-analytics")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("[perfbench] library sources (src/main/scala/graft) not found; "
                         "run from the root of a full checkout")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = {w["name"] for w in bench["workloads"]}
    if not a.dump_analytics and a.workload not in workloads:
        raise SystemExit(f"[perfbench] --workload must be one of {sorted(workloads)}")

    build()
    run_dir = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        if a.dump_analytics:
            code, _ = run_jvm(run_dir, ["--dump-analytics", str(Path(a.dump_analytics).resolve())])
            return code
        out = run_dir / "result.json"
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", str(out)]
        if a.trace:
            traces = BUILD / "traces"
            args += ["--trace-file", str(traces / f"{a.workload}-seed{a.seed}.jsonl")]
        code, rss = run_jvm(run_dir, args)
        if code != 0 or not out.exists():
            log(f"load generator failed (exit {code})")
            return code or 1
        res = result_line(bench, json.loads(out.read_text()), a.trace == 1, rss)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
