#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload <etl_ingest|etl_serve|corpus_curate>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the
benchmark from source with sbt (into target/ and .bench_build/); later
runs reuse the build while the sources are unchanged. The last line of
standard output is the result:

    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics and writes the spans to .bench_build/spans/. Any failure to
build or run exits non-zero without printing a result. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["etl_ingest", "etl_serve", "corpus_curate"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(f"ERROR: {msg}")
    sys.exit(1)


def source_stamp():
    """Hash of everything the build depends on, so an edited source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: the benchmark builds graft from the "
                "repository's sources and must run from a full checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved.get("stamp") == stamp and all(os.path.exists(p) for p in saved["classpath"]):
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the benchmark with sbt (first run only)")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S, text=True)
    except subprocess.TimeoutExpired:
        die(f"sbt build exceeded {BUILD_TIMEOUT_S} s")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die(f"sbt build failed (exit {out.returncode})")
    classpath = lines[-1].strip().split(os.pathsep)
    missing = [p for p in classpath if not os.path.exists(p)]
    if missing:
        die(f"sbt exported a classpath with missing entries: {missing[:3]}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"build done in {time.time() - t0:.0f} s")
    return classpath


def heap():
    """Half the machine's memory in GiB, clamped to [2, 3]: the inputs are
    small, and the machine may be shared."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(3, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def normalize(df):
    """Representation-sensitive, order-independent form of a result."""
    df = df.reindex(sorted(df.columns), axis=1)
    s = df.map(repr) if hasattr(df, "map") else df.applymap(repr)
    return s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)


def oracle_check(spec):
    """Run each analytic query's DuckDB oracle SQL over the same input
    tables and compare with the rows graft produced at set-up. Returns
    (checks attempted, list of mismatches)."""
    queries = spec.get("queries", [])
    if not queries:
        return 0, []
    try:
        import duckdb
        import pyarrow.parquet as pq
    except ImportError as e:
        return len(queries), [f"DuckDB oracle unavailable: {e}"]
    con = duckdb.connect()
    for t in sorted(os.listdir(spec["dir"])):
        if t.endswith(".parquet"):
            path = os.path.join(spec["dir"], t, "*.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t[:-len('.parquet')]} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for q in queries:
        try:
            want = normalize(con.execute(q["sql"]).df())
            got = normalize(pq.read_table(sorted(glob.glob(os.path.join(q["result"], "*.parquet")))).to_pandas())
            if list(want.columns) != list(got.columns) or not want.equals(got):
                bad.append(f"{q['name']}: graft result ({len(got)} rows) differs from the DuckDB oracle "
                           f"({len(want)} rows)")
        except Exception as e:  # a broken oracle is a failed check, never a skip
            bad.append(f"{q['name']}: oracle check raised {type(e).__name__}: {e}")
    return len(queries), bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")

    classpath = build()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--out", result_file]
    if a.trace == "1":
        spans_dir = os.path.join(BUILD, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        cmd += ["--spans", os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.json")]
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
        if rc != 0 or not os.path.exists(result_file):
            die(f"benchmark JVM exited {rc}")
        with open(result_file) as f:
            res = json.load(f)
        n_oracle, bad = oracle_check(res["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = res["errors"] + bad
    for e in errors:
        log(f"FAILED CHECK: {e}")
    attempted = res["attempted"] + n_oracle
    failed = res["failed"] + len(bad)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
