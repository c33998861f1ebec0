#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness (engine sources plus
perfbench/src) with sbt when the compiled classes are missing or older
than a source file, runs one workload in a single JVM with a Spark
session of local[<cores>], and prints one JSON result object as the
last line of standard output. Everything the run writes lives in a
scratch directory under the repository root that is deleted on exit.

Extra flags: --corrupt (damage every output observed in the measured
window before its check; every operation must then count as failed),
--gen-only (generate the seeded inputs, print their SHA-256 and exit).
A traced run writes its spans, with self times, to standard error.
"""
import argparse
import datetime
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = CLASSES / "perfbench" / "Main.class"
WORKLOADS = ["citybike_load", "warehouse_queries", "corpus_curation", "event_fold"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for src in (ROOT / "src" / "main" / "scala", HERE / "src" / "main" / "scala"):
        for p in src.rglob("*.scala"):
            newest = max(newest, p.stat().st_mtime)
    for p in (HERE / "build.sbt", HERE / "project" / "build.properties"):
        newest = max(newest, p.stat().st_mtime)
    return newest


def build():
    if STAMP.exists() and STAMP.stat().st_mtime >= newest_source_mtime():
        return
    log("building the harness and the engine with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # resolve from the local cache only
    proc = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                          stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if proc.returncode != 0 or not STAMP.exists():
        sys.exit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    STAMP.touch()


def java_cmd(work, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        sys.exit("[perfbench] SPARK_HOME must name a Spark 4 installation")
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    for pkg in JVM_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dderby.system.home={work / 'derby'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}{os.pathsep}{Path(spark_home) / 'jars' / '*'}",
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--repo", str(ROOT),
    ]
    if args.corrupt:
        cmd.append("--corrupt")
    if args.gen_only:
        cmd.append("--gen-only")
    return cmd


def run_jvm(cmd, cwd):
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"[perfbench] harness exited with {proc.returncode}")
    return json.loads(lines[-1])


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    # a DATE and a midnight TIMESTAMP name the same calendar value
    if isinstance(a, datetime.date) != isinstance(b, datetime.date):
        return False
    if isinstance(a, datetime.date) and type(a) is not type(b):
        a, b = (x if type(x) is datetime.datetime else datetime.datetime.combine(x, datetime.time())
                for x in (a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))
    return a == b


def oracle_failures(work):
    """Recomputes every warehouse query with its DuckDB oracle over the
    generated inputs and returns the names whose reference result differs."""
    import duckdb
    ref = work / "ref"
    oracles = json.loads((ref / "oracle.json").read_text())
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    tables = work / "inputs" / "tables"
    for t in sorted(p.stem for p in tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / (t + '.parquet')}/*.parquet')")
    csvs = sorted(str(p) for p in (work / "inputs" / "rides").glob("*.csv"))
    con.execute(f"CREATE TABLE rides AS SELECT * FROM read_csv({csvs!r}, delim=';', header=true)")
    bad = []
    for name, sql in sorted(oracles.items()):
        files = sorted(str(p) for p in (ref / name).glob("*.parquet"))
        if not files:
            bad.append(name)
            continue
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
            want = con.execute(sql)
            wcols = [d[0] for d in want.description]
            wrows = want.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            log(f"oracle {name}: {e}")
            bad.append(name)
            continue
        if sorted(gcols) != sorted(wcols) or len(grows) != len(wrows):
            log(f"oracle {name}: shape {sorted(gcols)}x{len(grows)} vs {sorted(wcols)}x{len(wrows)}")
            bad.append(name)
            continue
        cols = sorted(gcols)
        gi = [gcols.index(c) for c in cols]
        wi = [wcols.index(c) for c in cols]
        key = lambda r: tuple((x is None, str(x)) for x in r)
        g = sorted((tuple(r[i] for i in gi) for r in grows), key=key)
        w = sorted((tuple(r[i] for i in wi) for r in wrows), key=key)
        if not all(close(x, y) for gr, wr in zip(g, w) for x, y in zip(gr, wr)):
            # value-sorted order can differ by float noise; compare in query order too
            go = [tuple(r[i] for i in gi) for r in grows]
            wo = [tuple(r[i] for i in wi) for r in wrows]
            if not all(close(x, y) for gr, wr in zip(go, wo) for x, y in zip(gr, wr)):
                log(f"oracle {name}: values differ")
                bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--gen-only", action="store_true")
    args = ap.parse_args()

    for need in (ROOT / "src" / "main" / "scala" / "graft",
                 ROOT / "src" / "test" / "resources" / "citybike_rides.csv.gz"):
        if not need.exists():
            sys.exit(f"[perfbench] {need.relative_to(ROOT)} is missing: run from a full checkout")
    build()

    work = ROOT / ".perfbench_work" / f"{os.getpid()}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    try:
        t0 = time.monotonic()
        result = run_jvm(java_cmd(work, args), work)
        log(f"harness finished after {time.monotonic() - t0:.1f} s")
        if args.workload == "warehouse_queries" and not args.gen_only:
            bad = oracle_failures(work)
            log(f"oracle comparison finished after {time.monotonic() - t0:.1f} s")
            if bad:
                counts = json.loads((work / "ref" / "counts.json").read_text())
                extra = sum(counts.get(n, 0) for n in bad)
                log(f"oracle mismatch in {len(bad)} queries: {', '.join(bad)}")
                result["failed"] = min(result["attempted"], result["failed"] + extra)
                result["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
