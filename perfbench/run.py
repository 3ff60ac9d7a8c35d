#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <transcripts|pages|corpus_queries>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source (sbt, offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. One JVM then runs the
workload on local[nproc] and this script checks its outputs (the DuckDB
oracle for the corpus queries), prints one self-describing record line
and, as the last line, the result object. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a separate
traced run. Exits non-zero when an output check fails. See
perfbench/README.md for the metrics.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("transcripts", "pages", "corpus_queries")
RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 840  # the first run may build for up to 900 s
HEAP = "2g"

QUERIES = ["q12_minhash_lsh", "q19_cosine_near_dup_lsh", "q41_ingest_dedup",
           "q38_extract_corpus_clean", "q33_checkpoint_roundtrip"]

END_TO_END = {"ops_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "extract.turns_per_s_1t": "1/s", "extract.facade_us": "us",
    "extract.precollapse_us": "us", "extract.parse_us": "us",
    "extract.detect_us": "us", "extract.cascade_us": "us",
    "extract.render_md_us": "us", "extract.render_text_us": "us",
    "extract.span_coverage": "ratio", "extract.alloc_kb_per_turn": "KB",
    "extract.input_kb_per_turn": "KB", "extract.elements_per_turn": "count",
    "extract.max_depth": "count", "extract.nodes_scored_per_turn": "count",
    **{f"extract.fallback_share.s{i}": "ratio" for i in range(1, 6)},
    "extract.boilerplate_ratio_mean": "ratio", "extract.error_rows": "count",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.utilization": "ratio", "spark.tasks": "count",
    "spark.task_skew": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_cache_mb": "MB", "spark.sched_delay_s": "s",
    "spark.shell_share": "ratio",
    "store.run_s": "s", "store.commit_s": "s", "store.commits": "count",
    "store.committed_mb": "MB", "store.staging_left": "count",
    "store.read_back_s": "s",
    **{f"q.{q}.{k}": u for q in QUERIES for k, u in [
        ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
        ("stages", "count"), ("task_s", "s"), ("gc_s", "s"),
        ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("plan_gap_s", "s")]},
    "trace.overhead_share": "ratio", "trace.query_coverage_min": "ratio",
    "run.failed_share": "ratio",
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))
                      or "resources" in d]
    return [f for f in files if os.path.isfile(f)]


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, log_path, env=None):
    """Runs `cmd` in its own process group with output to `log_path`;
    kills the whole group if it outlives `limit_s`. Returns (code,
    rusage) of the child, always after it has ended."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        deadline = time.monotonic() + limit_s
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru
            if time.monotonic() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                _, status, ru = os.wait4(p.pid, 0)
                return -9, ru
            time.sleep(0.05)


def build(sha):
    """Compiles program + harness unless the stamp matches; returns the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp) and open(stamp).read() == sha:
            return open(cp_file).read().strip()
        log("building program and harness (sbt, offline)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = " ".join(filter(None, [
            env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]))
        build_log = os.path.join(BUILD, "build.log")
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            HERE, BUILD_LIMIT_S, build_log, env)
        lines = open(build_log, errors="replace").read().splitlines()
        cp = lines[-1].strip() if lines else ""
        if code != 0 or not cp or cp.startswith("["):
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (exit {code}); log in {build_log}")
        with open(cp_file, "w") as fh:
            fh.write(cp)
        with open(stamp, "w") as fh:
            fh.write(sha)
        return cp


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def oracle_checks(oracle, tables_dir):
    """Replays each query's oracle SQL in DuckDB on the staged tables and
    compares it, value by value and as a hash, with the Spark result."""
    import duckdb
    import pyarrow.dataset as pads
    con = duckdb.connect()
    for f in sorted(os.listdir(tables_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(tables_dir, f)}/*.parquet')")
    checks = []
    for q, spec in sorted(oracle.items()):
        t0 = time.monotonic()
        try:
            want = con.execute(spec["sql"]).fetch_arrow_table()
            got = pads.dataset(spec["out"]).to_table()
        except Exception as e:  # a failing oracle or a missing result is a failed check
            checks.append({"name": f"oracle_{q}", "ok": False, "detail": repr(e)})
            continue
        oracle_s = time.monotonic() - t0
        cols = sorted(want.column_names)
        if sorted(got.column_names) != cols:
            checks.append({"name": f"oracle_{q}", "ok": False,
                           "detail": f"columns {sorted(got.column_names)} vs {cols}"})
            continue
        rows = [[[norm(r[c]) for c in cols] for r in t.to_pylist()] for t in (want, got)]
        hashes = [hashlib.sha256(json.dumps(r, default=str).encode()).hexdigest()[:16]
                  for r in rows]
        checks.append({"name": f"oracle_{q}", "ok": hashes[0] == hashes[1],
                       "detail": f"{len(rows[1])} rows, spark {hashes[1]} duckdb {hashes[0]}"
                                 f" ({oracle_s:.2f} s in DuckDB)"})
    con.close()
    return checks


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from the root of a full checkout")
    sha = source_sha()
    cp = build(sha)
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", *JVM_OPENS,
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--work", work, "--out", out]
    jvm_log = os.path.join(BUILD, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    # a run that built first gets the full limit for itself
    limit = max(60.0, RUN_LIMIT_S - (time.monotonic() - started))
    t_jvm = time.monotonic()
    code, ru = run_bounded(cmd, ROOT, limit, jvm_log)
    t_jvm = time.monotonic() - t_jvm
    if code != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(jvm_log, errors="replace").readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM failed (exit {code}); log in {jvm_log}", 3)

    os.remove(jvm_log)
    res = json.load(open(out))
    checks = res["checks"]
    if a.workload == "corpus_queries" and not a.trace:
        t_oracle = time.monotonic()
        checks += oracle_checks(res["info"].pop("oracle"), res["info"]["tables_dir"])
        res["info"]["oracle_check_s"] = time.monotonic() - t_oracle
    shutil.rmtree(work, ignore_errors=True)

    values = dict(res["metrics"])
    if not a.trace:
        values["peak_rss_mb"] = ru.ru_maxrss / 1024.0  # ru_maxrss is in KB on Linux
    units = PER_LAYER if a.trace else END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"run produced no value for: {', '.join(missing)}", 4)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    correct = all(c["ok"] for c in checks)
    attempted, failed = res["attempted"], res["failed"]

    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
    record = {
        "record": "graft-perfbench", "git_sha": git_sha(), "source_sha256": sha,
        "host": {"nproc": cores, "mem_total_mb": round(mem_mb), "machine": platform.machine(),
                 "jdk": res["info"].pop("jdk", None), "spark": res["info"].pop("spark_version", None)},
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "config": {"master": f"local[{cores}]", "heap": HEAP, "shuffle_partitions": cores,
                   "extract_partitions": 4 * cores, "aqe": True},
        "wall_s": round(time.monotonic() - started, 3), "jvm_s": round(t_jvm, 3),
        "failed_share": failed / attempted if attempted else None,
        "checks": checks, "info": res["info"], "metrics": metrics,
    }
    line = json.dumps(record, default=str)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", "records.jsonl"), "a") as fh:
        fh.write(line + "\n")
    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED {c['name']}: {c['detail']}")
    print(line)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
