#!/usr/bin/env python3
"""End-to-end benchmark of graft: one workload, one seed, one timed window.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_churn --seed 1 --seconds 10 --trace 0

Builds the library and the harness from source on first use (sbt, into
perfbench/target and .bench_build/), then runs one JVM that drives the
public API (graftbench.Main). The checks that run outside the JVM are done
here: the pipeline_filter DuckDB oracle for ingest_curate, and the final
row and distinct-id count of the appended index, read with pyarrow.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_churn", "ingest_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def spark_home():
    """The Spark installation whose jars the build compiles against:
    $SPARK_HOME, else the one whose spark-submit is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("no Spark installation found: set SPARK_HOME")


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    t0 = time.time()
    log("building library + harness with sbt")
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit("sbt build failed")
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if not lines:
        raise SystemExit("sbt printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.0f} s")
    return cp


def check_index(info, checks):
    """Final appended index, read outside Spark: rows == distinct ids ==
    manifest count."""
    import pyarrow.dataset as ds
    t = ds.dataset(info["vectors"], format="parquet", partitioning="hive") \
        .to_table(columns=["id"])
    rows, ids = t.num_rows, len(set(t.column("id").to_pylist()))
    ok = rows == info["count"] and ids == info["count"]
    checks.append({"check": "index rows and ids read outside Spark",
                   "passed": int(ok), "failed": int(not ok),
                   **({} if ok else {"first_failure":
                       f"{rows} rows, {ids} ids, manifest {info['count']}"})})
    return ok


def check_oracle(info, checks):
    """Kept doc ids of CurationPipeline.run == the pipeline_filter oracle
    run by DuckDB over the same snapshot."""
    import duckdb
    con = duckdb.connect()
    src = os.path.join(info["documents"], "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
    with open(info["sql"]) as f:
        sql = f.read()
    want = sorted(r[0] for r in con.execute(
        f"SELECT doc_id FROM ({sql}) WHERE keep").fetchall())
    with open(info["kept"]) as f:
        got = sorted(int(x) for x in f.read().split())
    con.close()
    ok = got == want and len(want) > 0
    checks.append({"check": "kept ids equal the DuckDB pipeline_filter oracle",
                   "passed": int(ok), "failed": int(not ok),
                   **({} if ok else {"first_failure":
                       f"{len(got)} kept vs oracle {len(want)}"})})
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("graft sources not found: run from the root of a "
                         "graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java are required")

    cp = classpath()
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "run", run_id)
    tmp = os.path.join(BUILD, "run", "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", out])
    try:
        try:
            rc, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                                stdout=sys.stderr)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        checks = res["checks"]
        ok = res["correct"]
        if "index_check" in res:
            ok = check_index(res["index_check"], checks) and ok
        if "oracle" in res:
            ok = check_oracle(res["oracle"], checks) and ok
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for t in res["timings"]:
        p90 = f"  p90 {t['p90_ms']:.1f} ms" if "p90_ms" in t else ""
        print(f"timing {t['op']:<20} traced={str(t['traced']).lower():<5} "
              f"n={t['n']:<4} p50 {t['p50_ms']:.1f} ms{p90}")
    for o in res["ops"]:
        print(f"ops    {o['op']:<20} attempted={o['attempted']} failed={o['failed']}")
    for c in checks:
        extra = f"  first failure: {c['first_failure']}" if "first_failure" in c else ""
        print(f"check  {c['check']}: {c['passed']} passed, {c['failed']} failed{extra}")
    for what, n in res.get("known_fault", {}).items():
        if what != "of":
            print(f"fault  {what}: {n} of {res['known_fault']['of']}")
    if res.get("spans"):
        print(f"spans  {os.path.relpath(res['spans'], ROOT)}")
    print("wall   " + " ".join(f"{k}={v:.6g}" for k, v in res["wall"].items()))
    for name, m in res["metrics"].items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(ok), "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
