#!/usr/bin/env python3
"""Run one benchmark workload; see perfbench/README.md.

Usage:
  python3 perfbench/run.py --workload {cf_batch,session_panel} --seed N \
      --seconds S --trace {0,1} [--trace-file PATH] [--refresh-oracle]

Builds the program if its sources changed (perfbench/build.py), starts
one JVM on the compiled classpath with local[N] (N from SPARK_GRAFT_CPUS,
else the CPUs this process may run on), checks the outputs against the
DuckDB oracle (perfbench/oracle.py), and prints two JSON lines: the run
record (stamps, per-operation times, check details), then the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Every run works in a fresh directory under .bench_build/ that is its
working directory, Spark's local and warehouse directory, the temp
directory and the home of the program's fixture and index stores; it
is deleted at exit, so a run leaves the checkout as it found it.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
# the repository's sf0.01 test tables, which both workloads read
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("cf_batch", "session_panel")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit: the module opens build.sbt's
# javaOptions pass to every forked run.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def heap() -> str:
    """Half the host's memory in whole GiB, clamped to 2..8 GiB, as the
    repository's test command sizes SPARK_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def steal_s():
    """CPU time the hypervisor gave to other guests so far (steal in
    Linux /proc/stat), None where unknown."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def git_sha():
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--trace-file", help="keep the span JSON of a traced run here")
    ap.add_argument("--refresh-oracle", action="store_true",
                    help="re-evaluate the DuckDB oracle and rewrite its cache")
    a = ap.parse_args()
    sf_dir = DATA
    if not sf_dir.is_dir():
        sys.exit(f"run: input directory {sf_dir} is missing")

    started = time.time()
    classpath = build.build()
    build_s = time.time() - started
    n, xmx = cpus(), heap()
    load_start, steal_start = os.getloadavg()[0], steal_s()
    build.BUILD.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=build.BUILD))
    try:
        record, result = run(a, sf_dir, classpath, n, xmx, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end, steal_end = os.getloadavg()[0], steal_s()
    record.update({
        "git_sha": git_sha(), "source_stamp": (build.CLASSES / "STAMP").read_text(),
        "cpus": n, "heap": xmx, "load1_start": load_start, "load1_end": load_end,
        # a host busy beyond a previous run's own trailing load: kept, flagged
        "load_flagged": load_start > 1.5 * n,
        "steal_s": None if steal_start is None else steal_end - steal_start,
        "build_s": build_s, "wall_s": time.time() - started,
    })
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(a, sf_dir: Path, classpath: str, n: int, xmx: str, run_dir: Path):
    for d in ("tmp", "out"):
        (run_dir / d).mkdir()
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    stores = {p: run_dir / "stores" / p.split(".")[1] for p in (
        "graft.fixture.dir", "graft.rec.storeBase", "graft.ann.indexBase",
        "graft.dedup.indexBase")}
    cmd = [java, f"-Xmx{xmx}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += [f"-D{k}={v}" for k, v in stores.items()]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--data", str(sf_dir), "--cpus", str(n), "--out", str(run_dir / "result.json"),
            "--trace-out", str(run_dir / "trace.json")]
    env = dict(os.environ, TMPDIR=str(run_dir / "tmp"))
    log = run_dir / "jvm.log"
    launched = time.time()
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, cwd=run_dir, env=env, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        tail = [l for l in log.read_text(errors="replace").splitlines()
                if " INFO " not in l and " WARN " not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.exit(f"run: benchmark JVM failed ({code})")
    jvm_s = time.time() - launched
    jvm = json.loads((run_dir / "result.json").read_text())
    if a.trace == "1" and a.trace_file:
        shutil.copyfile(run_dir / "trace.json", a.trace_file)

    out_dir = Path(jvm["outputs"])
    oracle_sql = json.loads((out_dir / "oracle_sql.json").read_text())
    checked = time.time()
    import oracle
    if a.workload == "cf_batch":
        problems, source = oracle.check_cf(out_dir / "cf_job", sf_dir, oracle_sql,
                                           run_dir / "tmp", a.refresh_oracle)
        check, sources = {"cf_job": problems or None}, {"q_vector_pipeline": source}
    else:
        check, sources = oracle.check_panel(out_dir, sf_dir, oracle_sql, run_dir / "tmp",
                                            a.refresh_oracle)
    # A wrong output counts as a failed operation in every pass that ran
    # it; `correct` says every operation that did not fail was checked.
    runs = [(q, "cold") for q in jvm["cold"]] + [
        (q, f"warm{i + 1}") for q, times in jvm["warm"].items() for i in range(len(times))]
    failed = {(q, p) for q, p, _ in jvm["failed_runs"]}
    failed |= {(q, p) for q, p in runs if check.get(q)}
    unchecked = {q for q, _ in jvm["cold"].items() if q not in check} - {q for q, _ in failed}

    jvm_start = jvm["main_epoch_ms"] / 1e3 - launched
    values = dict(jvm["timings"], setup_s=jvm_start + jvm["ready_s"])
    if a.trace == "1":
        values = dict(jvm["layers"], **{
            "jvm.start_s": jvm_start, "spark.session_s": jvm["spark_session_s"],
            "jvm.peak_rss_mb": jvm["peak_rss_mb"]})
    spec = SPEC["per_layer" if a.trace == "1" else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
        "java_version": jvm["java_version"], "heap_max_mb": jvm["heap_max_mb"],
        "passes": jvm["passes"], "order": jvm.get("order"), "cold": jvm["cold"], "warm": jvm["warm"],
        "failed_runs": jvm["failed_runs"], "check": check, "oracle": sources,
        "timings": jvm["timings"], "setup_s": jvm_start + jvm["ready_s"],
        "jvm_s": jvm_s, "check_s": time.time() - checked,
    }
    result = {
        "correct": not unchecked,
        "attempted": jvm["attempted"],
        "failed": len(failed),
        "metrics": metrics,
    }
    return record, result


if __name__ == "__main__":
    sys.exit(main())
