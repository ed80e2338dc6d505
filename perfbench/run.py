#!/usr/bin/env python3
"""graft benchmark: PDF size-stats job, vector-db ingestion and the
analytics-operator mix, measured from outside through graft's public
entry points.

    python3 perfbench/run.py --workload pdf_stats --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first run builds graft
and the harness from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. A run writes under
perfbench/work, which it empties first, and keeps the build and the
DuckDB answers for operator_mix under perfbench/target.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see README.md). The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. Wrong output makes the exit
code non-zero.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
# operator_mix input: the repo's test tables at scale factor 0.01
TABLES = os.path.join(HERE, "data", "sf0.01")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-build.json")
ORACLE_CACHE = os.path.join(HERE, "target", "oracle")
WORKLOADS = ("pdf_stats", "pdf_ingest", "operator_mix")
# all JVMs of one run, the build excluded, must end within this
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit():
    """The checkout's git commit, or "none" outside a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    except OSError:
        return "none"
    return out.stdout.strip() if out.returncode == 0 else "none"


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: cannot find Spark (set SPARK_HOME)")
    return home


def build(env, src_hash):
    """Compiles graft plus the harness; returns the runtime classpath."""
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp = json.load(f)
        if stamp.get("sources") == src_hash:
            return stamp["classpath"]
    log("building graft and the harness with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if "scala-2.13" + os.sep + "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        json.dump({"sources": src_hash, "classpath": cp[-1].strip()}, f)
    return cp[-1].strip()


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(env, classpath, args, deadline):
    """Runs one BenchMain JVM to its end; returns its result.json, if any."""
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.BenchMain"] + [str(a) for a in args] + [WORK, TABLES]
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    with open(os.path.join(WORK, "jvm.log"), "a") as out:
        p = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(WORK, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit(f"perfbench: benchmark JVM ({args[0]}) failed ({rc})")
    if not os.path.exists(result):
        return None
    with open(result) as f:
        return json.load(f)


def canon(df):
    """Column-sorted, row-sorted string cells; floats to 9 dp and 12
    significant digits, integer-valued floats exact, one zero."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            if v == 0.0:
                return "0.0"
            if v == int(v) and abs(v) < 2 ** 53:
                return repr(v)
            return repr(float(f"{round(v, 9):.12g}"))
        return str(v)

    out = df.map(cell) if hasattr(df, "map") else df.applymap(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def oracle_check(tables_dir, oracle_dir):
    """Compares each query's dumped first result with its DuckDB oracle.

    The tables are fixed, so each oracle answer is kept under
    target/oracle, keyed by the tables' bytes and the SQL text, and
    computed again only when either changes.
    """
    import duckdb
    import pandas as pd
    tables = ("documents", "embeddings", "lineitem", "orders", "customer")
    h = hashlib.sha256()
    for t in tables:
        with open(f"{tables_dir}/{t}.parquet", "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    con = None
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    bad = []
    for name, sql in sorted(sqls.items()):
        key = hashlib.sha256((h.hexdigest() + "\n" + sql).encode()).hexdigest()
        cached = os.path.join(ORACLE_CACHE, f"{name}-{key[:16]}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                d = json.load(f)
            exp = pd.DataFrame(d["rows"], columns=d["columns"], dtype=object)
        else:
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
            exp = canon(con.sql(sql).df())
            os.makedirs(ORACLE_CACHE, exist_ok=True)
            with open(cached + ".tmp", "w") as f:
                json.dump({"columns": list(exp.columns), "rows": exp.values.tolist()}, f)
            os.replace(cached + ".tmp", cached)
        act = canon(pd.read_parquet(os.path.join(oracle_dir, name)))
        if len(act) == 0:
            bad.append(f"{name}: empty result")
        elif list(exp.columns) != list(act.columns) or len(exp) != len(act) or not exp.equals(act):
            bad.append(f"{name}: differs from its DuckDB oracle ({len(act)} vs {len(exp)} rows)")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no graft sources (src/main/scala) in this checkout")

    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home()
    env.pop("SPARK_CONF_DIR", None)
    src_hash = source_hash()
    classpath = build(env, src_hash)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    args = [a.workload, a.seed, a.seconds, a.trace]
    if a.workload != "operator_mix":
        run_jvm(env, classpath, ["gen"] + args, deadline)
    res = run_jvm(env, classpath, ["run"] + args, deadline)

    attempted, failed, failures = res["attempted"], res["failed"], list(res["failures"])
    if a.workload == "operator_mix":
        bad = oracle_check(TABLES, os.path.join(WORK, "oracle"))
        if bad:
            # every iteration matched the dumped first result, so all are wrong
            failures += bad
            failed = attempted

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if res["metrics"].get(m["name"]) is None]
    if missing:
        sys.exit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in wanted}

    x = res["extra"]
    res.update(failed=failed, failures=failures)
    res["env"].update(commit=commit(), source_sha256=src_hash)
    with open(os.path.join(WORK, "result.json"), "w") as f:
        json.dump(res, f, indent=1)
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}")
    print("env " + " ".join(f"{k}={v}" for k, v in res["env"].items()))
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:.6g} {m['unit']}")
    if not a.trace:
        print(f"  {'run_s_tail':<44} {res['metrics']['run_s_tail']:.6g} s "
              f"(p{x['run_s_tail_percentile']:g} of {x['samples']} samples)")
        if a.workload != "operator_mix":
            print(f"  {'pages_per_s':<44} {x['pages_per_s']:.6g} pages/s")
            print(f"  {'file_mb_per_s':<44} {x['input_mb_per_s']:.6g} MB/s")
        else:
            print(f"  {'input_mb_per_s':<44} {x['input_mb_per_s']:.6g} MB/s")
        print(f"  {'cold_setup_s':<44} {x['cold_setup_s']:.6g} s")
        print(f"  {'live_heap_mb':<44} {x['live_heap_mb']:.6g} MB")
        print(f"  {'error_rate':<44} {failed / attempted:.6g} ({failed}/{attempted})")
        print(f"  {'setup_s each':<44} {', '.join(f'{v:.3f}' for v in x['setup_s_each'])} s")
    for why in failures[:5]:
        print(f"  WRONG: {why}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
