#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the engine (src/main) and the
harness (perfbench/scala) offline with the Scala compiler shipped in the
Spark jars, generates the workload's inputs from the seed, runs the
harness JVM on local[nproc] and checks every result: the filing loads
against the generator's truth (inside the JVM), the suite queries against
DuckDB running the engine's own oracle SQL. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 1
the metrics are the per-layer ones. The exit code is non-zero when any
result is wrong or an operation fails. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".perfbench_build")
RUNS = os.path.join(ROOT, ".perfbench_run")
DEADLINE_S = 170

# workload -> (table scale factors it reads, seconds one pass of its fixed
# work takes on four cores); passes per run = round(seconds / pass seconds),
# at least one
WORKLOADS = {
    "filings_etl": ([], 20.0),
    "queries_mixed": ([0.1, 0.01], 20.0),
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_cp():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt
    compiles against (its unmanagedBase)."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', read(os.path.join(ROOT, "build.sbt")))
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {jar_dir}")
    return ":".join(jars)


def sources(root):
    out = []
    for base, _, files in os.walk(root):
        out += [os.path.join(base, f) for f in files]
    return sorted(out)


def scalac(srcs, out_dir, cp):
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", out_dir, "-classpath", cp] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compiles src/main and the harness unless the sources are unchanged
    since the last build in this checkout. Returns the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(main_src, "scala")):
        raise SystemExit("src/main/scala not found: run from the root of a checkout")
    files = sources(main_src) + sources(os.path.join(HERE, "scala"))
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    cp = spark_cp()
    classes, harness = os.path.join(BUILD, "classes"), os.path.join(BUILD, "harness")
    if os.path.exists(stamp) and read(stamp) == digest.hexdigest():
        return f"{harness}:{classes}:{cp}"
    log("building engine and harness")
    shutil.rmtree(BUILD, ignore_errors=True)
    scalac([f for f in files if f.startswith(os.path.join(main_src, "scala")) and f.endswith(".scala")],
           classes, cp)
    resources = os.path.join(main_src, "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    scalac(sources(os.path.join(HERE, "scala")), harness, f"{classes}:{cp}")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return f"{harness}:{classes}:{cp}"


def read(path):
    with open(path) as fh:
        return fh.read()


def contention():
    """Host-noise readings recorded beside each run (not metrics): steal
    ticks from /proc/stat, the CPU pressure-stall total and the 1-minute
    load; -1 where the host does not expose one."""
    out = {"nproc": os.cpu_count(), "steal_ticks": -1, "psi_some_us": -1, "loadavg": -1.0}
    try:
        out["steal_ticks"] = int(read("/proc/stat").split("\n")[0].split()[8])
        some = [l for l in read("/proc/pressure/cpu").split("\n") if l.startswith("some")][0]
        out["psi_some_us"] = int(some.split("total=")[1])
        out["loadavg"] = float(read("/proc/loadavg").split()[0])
    except (OSError, IndexError, ValueError):
        pass
    return out


def run_jvm(cp, args, run_dir, timeout):
    env = dict(os.environ,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
               SPARK_GRAFT_CKPT_TMP=os.path.join(run_dir, "ckpt"))
    for d in ["local", "ckpt", "tmp"]:
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *JAVA_OPENS, "-cp", cp, "org.apache.spark.perfbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                            start_new_session=True)
    # a terminated benchmark takes the harness down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"harness killed after {timeout:.0f} s")
        return -9
    finally:
        # every process the harness started ends with it
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def oracle_failures(raw):
    """Suite queries whose result differs from the DuckDB oracle (or is
    empty where no oracle exists), with the reason."""
    import duckdb
    bad = {}
    for name in sorted({o["name"] for o in raw["ops"]}):
        con = duckdb.connect()
        for t in gen_tables.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(raw['tables'][name], t + '.parquet')}')")
        files = sorted(glob.glob(os.path.join(raw["results_dir"], name, "*.parquet")))
        if not files:
            bad[name] = "no result written"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        sql = raw["oracle"].get(name)
        if sql is None:
            if got.num_rows == 0:
                bad[name] = "no rows and no oracle"
            continue
        exp = con.execute(sql).fetch_arrow_table()
        cols = sorted(got.column_names)
        if cols != sorted(exp.column_names):
            bad[name] = f"columns {cols} != {sorted(exp.column_names)}"
        elif any(str(got.schema.field(c).type) != str(exp.schema.field(c).type) for c in cols):
            bad[name] = "column types differ from the oracle"
        else:
            canon = lambda tbl: [tuple("NaN" if isinstance(r[c], float) and r[c] != r[c] else r[c]
                                       for c in cols) for r in tbl.to_pylist()]
            if canon(got) != canon(exp):
                bad[name] = f"rows differ from the oracle ({got.num_rows} vs {exp.num_rows})"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    cp = build()
    scales, pass_s = WORKLOADS[a.workload]
    passes = max(1, round(a.seconds / pass_s))
    run_dir = os.path.join(RUNS, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data_root = os.path.join(run_dir, "data")
    for sf in scales:
        gen_tables.generate(os.path.join(data_root, f"sf{sf}"), sf, a.seed)
    raw_path = os.path.join(run_dir, "raw.json")
    before = contention()
    code = run_jvm(cp, [a.workload, str(a.seed), str(passes), str(a.trace), data_root,
                        run_dir, raw_path], run_dir,
                   DEADLINE_S - (time.time() - t_start))
    after = contention()
    if code != 0 or not os.path.exists(raw_path):
        log(f"harness exited with code {code}")
        sys.exit(1)
    raw = json.loads(read(raw_path))
    bad = oracle_failures(raw) if scales else {}
    for o in raw["ops"]:
        if o["name"] in bad and not o["error"]:
            o["error"] = bad[o["name"]]
    failed = [o for o in raw["ops"] if o["error"]]
    for o in failed:
        log(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}")
    e2e, tail_info = metrics.end_to_end(raw)
    print("# contention " + json.dumps({
        "nproc": before["nproc"],
        "steal_ticks": after["steal_ticks"] - before["steal_ticks"],
        "psi_some_us": after["psi_some_us"] - before["psi_some_us"],
        "loadavg": [before["loadavg"], after["loadavg"]]}))
    print("# run " + json.dumps({
        "workload": a.workload, "seed": a.seed, "passes": passes, **tail_info,
        "ops_failed_frac": len(failed) / len(raw["ops"]),
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "checks": raw["checks"]}))
    if a.trace:
        layer, per_op = metrics.per_layer(raw)
        for o in per_op:
            print("# op " + json.dumps({k: o[k] for k in
                  ["name", "wall_s", "cpu_s", "glue_s", "self", "jobs", "unattributed_jobs", "driver_only_s"]}))
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        out = {k: {"value": v, "unit": unit_of(k)} for k, v in e2e.items()}
    print(json.dumps({"correct": not failed, "attempted": len(raw["ops"]),
                      "failed": len(failed), "metrics": out}))
    shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(1 if failed else 0)


def unit_of(name):
    if name.endswith("mb_per_cpu_s"):
        return "MB/s"
    if name.endswith("bytes_written_per_row"):
        return "B/row"
    if name.endswith("_frac"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
