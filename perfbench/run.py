#!/usr/bin/env python3
"""graft benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: kg_batch, curate_suite (see perfbench/README.md). The runner
builds the benchmark program and graft from source (cached under
.bench_build/), generates the workload's inputs from the seed, runs the
program on a host-sized local Spark (cores from the CPU affinity mask, a
fixed heap from MemTotal), checks the outputs, prints every metric by name
with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end set, with
--trace 1 its per_layer set. A failed operation or check makes the exit code
non-zero.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
CURATE_SF = 0.005
DEADLINE_S = 170    # the benchmark JVM ends within this, counted from the build

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise RuntimeError(f"no Spark jars under {jars}")
    return jars


def build(jars):
    """Compile graft (src/main/scala) and the benchmark (perfbench/src) with
    the Scala compiler that ships with Spark; reuse the classes while no
    source changed."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise RuntimeError("graft sources not found under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes + ".tmp")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", classes + ".tmp", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compilation failed")
    os.rename(classes + ".tmp", classes)
    with open(stamp, "w") as f:
        f.write(key)
    print(f"# built {len(srcs)} sources in {time.time() - t0:.1f} s", flush=True)
    return classes


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(4, max(2, mem_kb // 3145728))  # MemTotal/3 clamped to 2-4 GB, fixed (-Xms = -Xmx)
    sha = "none"
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024, "heap": f"{heap_g}g", "git_sha": sha}


def cell_str(v):
    """The oracle gate's stringification: printed representations compared,
    so Decimal keeps its trailing zeros and floats use repr."""
    import datetime
    import decimal
    import math
    import pandas as pd
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    return str(v)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(cell_str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_checks(tables, out_dir):
    """Each oracled leaf's Spark output against its DuckDB oracle SQL."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    checks = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        g, e = canon(got.copy()), canon(con.sql(sql).df())
        if list(g.columns) != list(e.columns):
            checks[f"oracle.{name}"] = (False, f"columns {list(g.columns)} vs {list(e.columns)}")
        elif len(g) != len(e):
            checks[f"oracle.{name}"] = (False, f"rows {len(g)} vs {len(e)}")
        else:
            checks[f"oracle.{name}"] = (bool(g.equals(e)), f"{len(g)} rows")
    return checks


NAMED = {  # per-workload end-to-end metrics, printed by name next to the JSON set
    "kg_batch": ["setup_s", "triples_per_s", "cache_mb", "scaling_eff", "append_p50_s",
                 "compact_s", "store_read_s", "store_bytes_per_triple"],
    "curate_suite": ["setup_s", "suite_s"],
}


def run_jvm(cmd, work, env, log, deadline):
    """Run the benchmark JVM to completion (killed at `deadline`); its report."""
    report = os.path.join(work, "report.json")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd + ["--out", report], cwd=work, env=env, stdout=lf,
                             stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark program exceeded the {DEADLINE_S} s deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(report):
        sys.stderr.write(open(log).read()[-4000:])
        raise RuntimeError(f"benchmark program exited with {p.returncode}")
    with open(report) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NAMED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="add a throwing leaf to curate_suite (self-test)")
    a = ap.parse_args()
    # a terminated runner still stops the JVM it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(jars)
    deadline = time.time() + DEADLINE_S
    h = host()
    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    try:
        tables = ""
        if a.workload == "curate_suite":
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import gen_tables
            tables = os.path.join(work, "tables")
            gen_tables.write_tables(tables, a.seed, CURATE_SF)
        cmd = ["java", f"-Xms{h['heap']}", f"-Xmx{h['heap']}", "-Xss8m", "-XX:-UsePerfData"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.sql.warehouse.dir={work}/warehouse",
                f"-Dderby.system.home={work}",
                "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                        os.path.join(jars, "*")]),
                "perfbench.Main", "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(h["nproc"]), "--work", work,
                "--tables", tables, "--plant-failure", "1" if a.plant_failure else "0"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        log = os.path.join(work, "jvm.log")
        rep = run_jvm(cmd + ["--workload", a.workload], work, env, log, deadline)
        with open(log) as lf:
            progress = [l.strip() for l in lf if l.startswith("[perfbench] ")]
        checks = {k: (v["ok"], v["detail"]) for k, v in rep["checks"].items()}
        if a.workload == "curate_suite":
            checks.update(oracle_checks(tables, os.path.join(work, "oracle")))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = rep["e2e"]
    layers = rep["layers"]
    known = {m["name"] for m in spec["per_layer"]}
    unknown = sorted(set(layers) - known)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    attempted, failed = rep["attempted"], rep["failed"]
    if a.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:  # a metric whose every operation failed is null
        metrics = {m["name"]: {"value": e2e.get(m["name"], {}).get("value"), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = (failed == 0 and attempted > 0 and all(ok for ok, _ in checks.values())
               and all(m["value"] is not None for m in metrics.values()))

    info = dict(rep["info"], **h)
    print("# host " + " ".join(f"{k}={v}" for k, v in info.items()))
    for line in progress:
        print("# " + line)
    for k, (ok, detail) in checks.items():
        print(f"# check {k}: {'ok' if ok else 'FAILED'} {detail}")
    for msg in rep["failures"]:
        print(f"# failed {msg}")
    for name in NAMED[a.workload]:
        m = e2e.get(name)
        if m and m["value"] is not None:
            print(f"{a.workload} {name} {m['value']:.6g} {m['unit']} (n={m['n']})")
    print(f"{a.workload} error_rate {failed / max(attempted, 1):.6g} fraction "
          f"(n={attempted})")
    if a.trace:
        for m in spec["per_layer"]:
            if layers.get(m["name"]) is not None:
                print(f"{a.workload} {m['name']} {layers[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
