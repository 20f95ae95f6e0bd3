#!/usr/bin/env python3
"""Benchmark launcher: builds the harness, runs one workload in one JVM,
checks its outputs and prints one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload sales_daily --seed 1 --seconds 30 --trace 0

`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics and writes the spans to
`.bench_build/results/<run>.trace.jsonl`. Every run also leaves a full
artifact (noise stamps, every op, every check) in `.bench_build/results/`.

Extra options, not used by the benchmark contract:
  --scale tiny          tiny inputs (the self-test)
  --corrupt-digest NAME pretend query NAME's oracle digest is wrong
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data" / "sf0.01"
# A run must end within 180 s (900 s when it builds first); leave room for
# the checks after the JVM.
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    files = sorted(p for d in (ROOT / "src" / "main", BENCH / "src")
                   for p in d.rglob("*") if p.is_file())
    files += [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness with sbt once per source state;
    returns the runtime classpath."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    fp = source_fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        f"-Dsbt.global.base={BUILD / 'sbt-global'}",
        "-Dsbt.offline=true", "-Xmx3g"]))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    lines = log.read_text().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}", 3)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, run_id, work):
    """Runs the harness; returns (exit code, peak RSS in MB, log path)."""
    log = BUILD / "results" / f"{run_id}.log"
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dderby.stream.error.file={work / 'derby.log'}",
              "-cp", cp, "perfbench.Harness"] + args)
    with open(log, "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(proc.pid, 0)
                fail(f"harness exceeded {JVM_TIMEOUT_S} s; see {log}", 5)
            time.sleep(0.05)
    return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0, log


def digest(rows, canon):
    return hashlib.sha256(repr(sorted(canon(rows))).encode()).hexdigest()


def check_queries(result, corrupt):
    """Digests each query's first-pass result the way
    scripts/verify_local.py canonicalises rows, and compares it with
    the digest of the query's DuckDB oracle over the same tables. A
    mismatch, a missing oracle or an unreadable result fails every op of
    that query."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import duckdb
    from verify_local import TABLES, canon
    res_dir = Path(result["extra"]["results_dir"])
    oracle = json.loads((res_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    checks = {}
    for name in {op["name"] for op in result["ops"] if op["ok"]}:
        try:
            glob = f"{res_dir / name}/*.parquet"
            cols = [d[0] for d in con.execute(f"SELECT * FROM '{glob}' LIMIT 0").description]
            order = ", ".join(f'"{c}"' for c in sorted(cols))
            got = con.execute(f"SELECT {order} FROM '{glob}'").fetchall()
            if name not in oracle:
                checks[name] = "no oracle"
                continue
            want = con.execute(f"SELECT {order} FROM ({oracle[name]})").fetchall()
        except Exception as e:  # noqa: BLE001 - any unreadable result is a failed check
            checks[name] = f"result unreadable: {e}"
            continue
        want_dg = "0" * 64 if name == corrupt else digest(want, canon)
        if digest(got, canon) != want_dg:
            checks[name] = f"{len(got)} rows differ from the oracle's {len(want)}"
    for op in result["ops"]:
        if op["ok"] and checks.get(op["name"]):
            op["ok"], op["error"] = False, f"output check: {checks[op['name']]}"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def summarise(result, trace, rss_mb):
    """Metrics over the clean cycles only, those whose every op passed
    its check, so a failed op never counts as a timing. A run with no
    clean cycle reports 0 for each cycle metric (and `correct` false)."""
    cycles = result["cycles"]
    bad = {op["cycle"] for op in result["ops"] if not op["ok"]}
    clean = [c for i, c in enumerate(cycles) if i not in bad]
    if trace:
        names = sorted({k for c in cycles for k in c["layers"]})
        metrics = {k: median([c["layers"][k] for c in clean]) for k in names}
        metrics.update(result["run_layers"])
        return metrics
    return {
        "setup_s": result["setup_s"],
        "cycle_s": median([c["wall_s"] for c in clean]),
        "task_cpu_s": median([c["task_cpu_s"] for c in clean]),
        "peak_rss_mb": rss_mb,
    }


def main():
    launched = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-digest")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    for need in (spec_path, ROOT / "src" / "main" / "scala" / "graft",
                 ROOT / "configs" / "demo", ROOT / "scripts" / "verify_local.py"):
        if not need.exists():
            fail(f"{need.relative_to(ROOT)} is missing: run from a full checkout of the repository")
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    metric_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in metric_spec}
    stamps = {"load1_launcher": os.getloadavg()[0], "nproc": os.cpu_count(),
              "commit": os.environ.get("PERFBENCH_COMMIT") or git_commit()}

    cp = build()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(launched)}-{os.getpid()}"
    work = BUILD / "work" / run_id
    (work / "tmp").mkdir(parents=True)
    (BUILD / "results").mkdir(exist_ok=True)
    out = BUILD / "results" / f"{run_id}.json"
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--launch-ms", str(int(time.time() * 1000)), "--repo", str(ROOT),
                    "--work", str(work), "--out", str(out), "--scale", args.scale]
        rc, rss_mb, log = run_jvm(cp, jvm_args, run_id, work)
        if rc != 0 or not out.exists():
            sys.stderr.write("".join(open(log).readlines()[-40:]))
            fail(f"harness exit code {rc}; see {log}", 4)
        result = json.loads(out.read_text())
        if args.workload == "operator_queries":
            check_queries(result, args.corrupt_digest)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = summarise(result, args.trace, rss_mb)
    if set(metrics) != set(units):
        fail(f"metric names differ from BENCHMARK.json: "
             f"{sorted(set(metrics) ^ set(units))}", 4)
    result["attempted"] = len(result["ops"])
    result["failed"] = sum(1 for op in result["ops"] if not op["ok"])
    result["stamps"].update(stamps, peak_rss_mb=rss_mb, heap_flag="-Xmx3g")
    result["metrics"] = metrics
    out.write_text(json.dumps(result, indent=1))
    for op in result["ops"]:
        if not op["ok"]:
            print(f"[perfbench] FAILED {op['name']}: {op['error']}", file=sys.stderr)
    print(f"[perfbench] stamps {json.dumps(result['stamps'])}", file=sys.stderr)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }))


if __name__ == "__main__":
    main()
