#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <catalog|curate|stream> --seed <n> \
        --seconds <s> --trace <0|1> [--cores <n>]

The first call builds the harness and the library from source with sbt
(perfbench/build.sbt compiles ../src/main/scala together with the harness)
and caches the classpath under perfbench/target; later calls reuse it while
the sources are unchanged. The workload runs in one JVM on local[cores]
(default 4). `catalog` results are then compared with their DuckDB twins.
The last line of standard output is the result object; everything else
goes to standard error.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
TARGET = HERE / "target"
CP_FILE = TARGET / "perfbench-classpath.json"
FIXTURE = HERE / "fixture" / "sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def clean_env():
    """The child environment without any SPARK_GRAFT_* setting: the
    benchmark's settings come only from its own arguments."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")}


def spark_jars():
    """The Spark jar directory the library build uses (its unmanagedBase)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return str(Path(home) / "jars")
    raise SystemExit("cannot find the Spark jars: no unmanagedBase in "
                     "build.sbt and no SPARK_HOME")


def fingerprint():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        st = p.stat()
        h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, out):
    """Run `cmd` in its own process group; kill the whole group if it
    outlives `timeout`, and wait for it either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    fp = fingerprint()
    if CP_FILE.exists():
        cached = json.loads(CP_FILE.read_text())
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    log("building the harness and the library with sbt")
    TARGET.mkdir(exist_ok=True)
    out_path = TARGET / "build-output.txt"
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                          f"-Dperfbench.sparkJars={spark_jars()}",
                          "compile", "export Runtime/fullClasspath"],
                         HERE, clean_env(), BUILD_TIMEOUT_S, out)
    lines = out_path.read_text().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cps = [ln for ln in lines if ln.count(".jar") > 10 and not ln.startswith("[")]
    if not cps:
        raise SystemExit("build printed no classpath")
    CP_FILE.write_text(json.dumps({"fingerprint": fp, "classpath": cps[-1]}))
    return cps[-1]


def canon(df):
    """Canonical column order and row order, as scripts/check.py builds them."""
    cols = sorted(df.columns)
    rows = [tuple(r) for r in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda row: tuple(
        (v is None, repr(round(v, 9)) if isinstance(v, float) else str(v))
        for v in row))
    return cols, rows


def rhash(rows):
    """The canonical row hash of scripts/check.py."""
    h = hashlib.sha256()
    for r in rows:
        for v in r:
            if isinstance(v, float):
                v = repr(round(v, 9))
            h.update(str(v).encode())
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def oracle_checks(out_dir):
    """Compare every catalog query's result with its DuckDB twin."""
    import duckdb
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURE}/{t}.parquet'")
    checks = []
    for name in sorted(oracle):
        try:
            spark_df = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            oracle_df = con.sql(oracle[name]).df()
            sc, sr = canon(spark_df)
            oc, orows = canon(oracle_df)
            ok = (sc == oc and len(sr) == len(orows)
                  and [str(spark_df[c].dtype) for c in sc]
                  == [str(oracle_df[c].dtype) for c in oc]
                  and rhash(sr) == rhash(orows))
            detail = f"rows {len(sr)}/{len(orows)}"
        except Exception as e:  # a missing or unreadable result fails
            ok, detail = False, str(e)[:200]
        checks.append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "curate", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--cores", type=int, default=4)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("no library sources next to perfbench/: run from a full checkout")
    cp = classpath()

    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = clean_env()
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, "-Xmx3g", "-XX:+UseG1GC", *opens,
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(a.cores), "--work", str(work),
           "--fixture", str(FIXTURE), "--out", str(work / "result.json")]
    t0 = time.time()
    try:
        rc = run_bounded(cmd, work, env, JVM_TIMEOUT_S, sys.stderr)
        if rc != 0:
            raise SystemExit(f"workload JVM failed (exit {rc})")
        res = json.loads((work / "result.json").read_text())
        oracle = oracle_checks(work / "catalog-out") if a.workload == "catalog" else []
        checks = res["checks"] + oracle
        for c in checks:
            if not c["ok"]:
                log(f"check failed: {c['name']}: {c['detail']}")
        traces = WORK / "traces"
        for t in work.glob("trace-*.json"):
            traces.mkdir(exist_ok=True)
            shutil.move(str(t), traces / t.name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = res["attempted"] + len(oracle)
    failed = res["failed"] + sum(1 for c in oracle if not c["ok"])
    metrics = res["metrics"]
    if not a.trace:
        metrics["success_rate"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
    for k, v in res["notes"].items():
        log(f"{k}: {v}")
    log(f"{a.workload} seed {a.seed}: {attempted} operations, {failed} failed, "
        f"{time.time() - t0:.1f} s")
    print(json.dumps({"correct": failed == 0 and all(c["ok"] for c in checks),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
