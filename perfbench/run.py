#!/usr/bin/env python3
"""Benchmark of record for the moderation stream and its analytics suite.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark from source with sbt (offline, once per
source state, into .bench_build/), runs one workload in a fresh JVM, checks
its outputs, and prints a summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics (a layer the workload does not run
reads 0). Workloads, metrics and their meaning are described in
perfbench/README.md.
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

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
# Runnable by hand; left out of BENCHMARK.json because the time allowed for
# all automated runs does not fit them. Their layer metrics that
# BENCHMARK.json does not declare are printed in the summary.
EXTRA_WORKLOADS = ["stream_live_dim", "analytics_suite"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
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


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in [ROOT / "src" / "main", BENCH / "src" / "main"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles library + benchmark with sbt, offline, unless the
    classpath for the current sources is already there."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = BUILD / "build.log"
    t0 = time.time()
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    lines = log.read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; log in {log}")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def normalize(rel, cols):
    """Rows as sorted tuples of tagged values (exact compare; floats by
    repr after float64 conversion)."""
    out = []
    for d in rel.arrow().to_pylist():
        r = []
        for c in cols:
            v = d[c]
            if isinstance(v, float):
                r.append(("f", repr(v)))
            elif hasattr(v, "isoformat"):
                r.append(("t", v.isoformat()))
            elif isinstance(v, (list, tuple)):
                r.append(("l", repr(tuple(v))))
            else:
                r.append((type(v).__name__, repr(v)))
        out.append(tuple(r))
    out.sort()
    return out


def oracle_check(res, work):
    """Compares each analytics query's result with its DuckDB oracle SQL
    over the same tables; queries without oracle SQL must return rows.
    Returns the names of the queries that failed."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads = 1")
    tables = work / "tables"
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")
    out = Path(res["query_out_dir"])
    bad = []
    for name in res["rows_only"]:
        try:
            n = con.sql(f"SELECT count(*) FROM read_parquet('{out}/{name}/*.parquet')").fetchone()[0]
        except Exception as e:  # noqa: BLE001 - any read error is a failed query
            n = 0
            print(f"query {name}: cannot read result: {e}")
        if n < 1:
            bad.append(name)
            print(f"query {name}: rows-only check failed ({n} rows)")
    for name, sql in res["oracle"].items():
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
            cols = sorted(got.columns)
            got_rows = normalize(con.sql(f"SELECT {', '.join(cols)} FROM got"), cols)
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            exp_rows = normalize(con.sql(f"SELECT {', '.join(exp_cols)} FROM exp"), exp_cols)
        except Exception as e:  # noqa: BLE001
            bad.append(name)
            print(f"query {name}: oracle check error: {str(e)[:300]}")
            continue
        if cols != exp_cols or got_rows != exp_rows:
            bad.append(name)
            diff = next((f"spark {a} vs duckdb {b}" for a, b in zip(got_rows, exp_rows) if a != b),
                        f"{len(got_rows)} vs {len(exp_rows)} rows")
            print(f"query {name}: disagrees with its DuckDB oracle: "
                  f"columns {cols} vs {exp_cols}; {diff[:300]}")
    print(f"oracle check: {len(res['oracle']) - len([b for b in bad if b in res['oracle']])}"
          f"/{len(res['oracle'])} queries agree with DuckDB, "
          f"{len(res['rows_only']) - len([b for b in bad if b in res['rows_only']])}"
          f"/{len(res['rows_only'])} pass the rows-only check")
    return bad


def main():
    # a terminated run still removes its work directory (see `finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found; run from the repository root")
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("the library sources (build.sbt, src/main/scala/graft) are not here; "
             "run from the root of a full checkout")
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]] + EXTRA_WORKLOADS:
        fail(f"unknown workload {a.workload}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp = build()
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    try:
        cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work / 'tmp'}",
                "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", str(work), "--out", str(out)])
        t0 = time.time()
        try:
            rc = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr,
                           stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"workload {a.workload} did not finish within {JVM_TIMEOUT_S} s")
        if rc != 0 or not out.exists():
            fail(f"workload {a.workload} failed (JVM exit {rc})")
        print(f"perfbench: workload JVM ran {time.time() - t0:.1f} s", file=sys.stderr)
        res = json.loads(out.read_text())
        for line in res["summary"]:
            print(f"{a.workload}: {line}")
        failed = res["failed"]
        if a.workload == "analytics_suite":
            failed += len(oracle_check(res, work))
        attempted = res["attempted"]
        print(f"{a.workload}: error_rate={failed / attempted:.6f} ({failed} failed of {attempted} attempted)")

        declared = spec["per_layer"] if a.trace else spec["end_to_end"]
        produced = res["layer"] if a.trace else res["e2e"]
        unknown = sorted(set(produced) - {m["name"] for m in declared})
        if unknown and a.workload not in EXTRA_WORKLOADS:
            fail(f"undeclared metrics {unknown}")
        for k in unknown:
            print(f"{a.workload}: {k}={produced[k]['value']} {produced[k]['unit']}")
        metrics = {}
        for m in declared:
            if m["name"] in produced:
                metrics[m["name"]] = produced[m["name"]]
            elif a.trace:
                metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
            else:
                fail(f"end-to-end metric {m['name']} was not measured")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            WORK.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    main()
