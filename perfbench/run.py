#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_light --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark with sbt (perfbench/build.sbt, which depends on the root build);
later runs reuse the build while the sources are unchanged. Each run starts
one JVM on local[4], which writes result.json; this wrapper checks the batch
result fingerprints against perfbench/refs.json and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end_to_end metrics of BENCHMARK.json, --trace 1 the
per_layer ones. The exit code is 0 only if every check passed. Everything the
run writes goes under .bench_build/ in the repository root.
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
REFS = os.path.join(HERE, "refs.json")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("batch_light", "batch_iterative", "stream_replay", "stream_live")
# the whole run, JVM included, must end well inside 180 s
JVM_TIMEOUT_S = 165

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged; return the classpath
    (jars). A fresh build also records a class-data-sharing archive of the
    classes a run loads, so each run's JVM and Spark start faster."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no graft sources next to perfbench/: run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    log("building (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspathAsJars"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [l.strip() for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        die("build failed")
    cp = cps[-1]
    log("recording the class-data-sharing archive")
    out = os.path.join(BUILD, "runs", "cds-train")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rc = run_jvm(cp, ["--train", "1", "--data", DATA,
                      "--out", os.path.join(out, "work")], out,
                 [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    if rc != 0 or not os.path.exists(CDS_ARCHIVE):
        # runs still work without the archive, only their start is slower
        log(f"no class-data-sharing archive (exit {rc}); see {out}/jvm.log")
    else:
        shutil.rmtree(out, ignore_errors=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ---------------------------------------------------------- fingerprints

def type_class(t):
    """The type class a result column is compared by: int, float, time,
    string, ... (DECIMAL/HUGEINT count as float, date == midnight timestamp),
    as tools/check.py does."""
    s = str(t).upper().split("(")[0]
    suffix = "[]" if s.endswith("[]") else ""
    s = s.rstrip("[]")
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT",
             "UINTEGER", "UBIGINT"):
        c = "int"
    elif s in ("FLOAT", "REAL", "DOUBLE", "DECIMAL", "HUGEINT", "UHUGEINT"):
        c = "float"
    elif s.startswith("TIMESTAMP") or s == "DATE":
        c = "time"
    else:
        c = s
    return c + suffix


def norm(v):
    import datetime as dt
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def fingerprint(rel):
    """Row count, sorted column names with type classes, and an
    order-insensitive hash of the rows (columns sorted by name, floats
    rounded to 6 decimals)."""
    cols, types = list(rel.columns), list(rel.types)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    n = 0
    for r in rel.fetchall():
        row = tuple(norm(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.sha256(repr(row).encode()).digest()[:8], "big")) % (1 << 64)
        n += 1
    return {"rows": n, "cols": [f"{cols[i]}:{type_class(types[i])}" for i in order],
            "hash": f"{total:016x}"}


def duckdb_with_tables():
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def check_batch(checks):
    """Compare each query's dumped result with its reference fingerprint;
    return the list of mismatches."""
    with open(REFS) as fh:
        refs = json.load(fh)
    con = duckdb_with_tables()
    bad = []
    for c in checks:
        name = c["query"]
        files = glob.glob(os.path.join(c["path"], "*.parquet"))
        if not files:
            bad.append(f"{name}: no result")
            continue
        got = fingerprint(con.sql(f"SELECT * FROM read_parquet({files!r})"))
        if name not in refs:
            bad.append(f"{name}: no reference")
        elif got != refs[name]:
            bad.append(f"{name}: fingerprint {got} != reference {refs[name]}")
    return bad


# ------------------------------------------------------------------ run

def run_jvm(cp, args, out, cds=None):
    if cds is None:
        cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # ParallelGC: G1's concurrent threads compete with the four task threads
    # for the four cores; under G1, batch pass times spread about twice as much
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + cds +
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(out, 'derby')}",
            "-cp", cp, "perfbench.Main"] + args)
    # SPARK_LOCAL_DIRS would override spark.local.dir; keep scratch in the run dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json not found at the repository root")
    with open(bench_json) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    cp = build()
    out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA,
            "--out", os.path.join(out, "work")]
    t0 = time.time()
    rc = run_jvm(cp, args, out)
    log(f"jvm exit {rc} after {time.time() - t0:.1f} s; log in {os.path.join(out, 'jvm.log')}")
    res_file = os.path.join(out, "work", "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(out, "jvm.log"), errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die("run failed", 1)
    with open(res_file) as fh:
        res = json.load(fh)

    failures = list(res["failures"])
    failed = res["failed"]
    if res["checks"]:
        bad = check_batch(res["checks"])
        failures += bad
        failed += len(bad)
    for f in failures:
        log(f"FAIL {f}")
    missing = [m for m in wanted if m not in res["metrics"]]
    if missing:
        die(f"metrics missing from the run: {missing}", 1)
    metrics = {m: res["metrics"][m] for m in wanted}
    for m, v in metrics.items():
        if v["value"] is None:
            die(f"metric {m} has no value", 1)

    # keep the artifacts of the last run per workload/trace, drop the bulk
    keep = os.path.join(BUILD, "last", f"{a.workload}-t{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ("result.json", "trace.json"):
        if os.path.exists(os.path.join(out, "work", f)):
            shutil.copy(os.path.join(out, "work", f), keep)
    shutil.copy(os.path.join(out, "jvm.log"), keep)
    shutil.rmtree(out, ignore_errors=True)

    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
