#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark's JVM
program (`perfbench/build.sbt`, once per source change), generates the workload's
inputs from the seed (`gen.py`), runs the workload in a closed loop with one
client against `local[nproc]` (`perfbench.Main`), checks every output
against the registry's DuckDB oracle SQL (`SparkEntry.oracleSql`) on the
same generated inputs, and prints one JSON object as the last line of
stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see README.md). The line before it is a JSON `detail`
object: sample counts, input row counts, the host (nproc, loadavg, CPU
steal) and the per-check verdicts.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Per workload: tables and scale factor of the inputs (1.0 is gen.ROWS, 6 M
# lineitem rows; the shipped sf0.1 test tables are 0.1).
WORKLOADS = {
    "cohort_etl": {"tables": ["customer", "orders", "lineitem"], "sf": 0.1},
    "curate_session": {"tables": ["documents"], "sf": 0.01},
}
# the same fixed-size heap, collector and young generation on every run:
# peak_rss_mb depends on them
HEAP = "2g"
RUN_LIMIT_S = 170   # a run (after any build) must finish inside this
BIG_COMPARE_ROWS = 200_000

# metric names and units: BENCHMARK.json at the repository root
with open(f"{ROOT}/BENCHMARK.json") as _fh:
    _BENCH = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(log_path):
    """Compile the engine and the JVM program unless the sources are unchanged
    since the last successful build in this checkout."""
    stamp_file = f"{HERE}/target/perfbench.stamp"
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    with open(log_path, "w") as log:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=880)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        fail(f"build failed (see {log_path})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# ---- host ----------------------------------------------------------------

def steal_ticks():
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) if len(f) > 8 else 0


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


# ---- the JVM -------------------------------------------------------------

def run_jvm(args, work, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    classes = f"{HERE}/target/scala-2.13/classes"
    cmd = (["java", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main"] +
           [x for k, v in args.items() for x in (f"--{k}", str(v))])
    # SPARK_LOCAL_DIRS overrides BenchSession's spark.local.dir (a tmpfs
    # directory outside the checkout): the benchmark reads and writes only
    # inside its checkout, so shuffle, spill and checkpoint blocks go under
    # the run's work directory instead
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=f"{work}/spark-local")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("interrupted")
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, stop)
        try:
            p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"the workload did not finish in time (see {work}/jvm.log)")
    if p.returncode != 0:
        fail(f"the benchmark JVM exited with {p.returncode} (see {work}/jvm.log)")


# ---- correctness ---------------------------------------------------------

def cell_eq(a, b):
    """Cell equality of the repository's oracle gate: floats within 1e-9
    relative, NaN == NaN, lists by value."""
    import pandas as pd
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    if hasattr(a, "__len__") and not isinstance(a, str) or \
            hasattr(b, "__len__") and not isinstance(b, str):
        return str(list(a)) == str(list(b))
    return a == b or str(a) == str(b)


def compare(con, sql, path):
    """Does the parquet output at `path` equal the oracle SQL's result?
    Returns (ok, reason). Exact multiset equality in DuckDB first; if that
    finds differences (or the types do not line up), the repository gate's
    tolerant cell comparison decides, for outputs small enough to load."""
    if sql is None:
        return False, "no oracle SQL"
    if path is None:
        return False, "no operation produced this output"
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {sql}")
    except Exception as e:  # noqa: BLE001
        return False, f"oracle error: {e}"
    files = glob.glob(f"{path}/*.parquet")
    n_want = con.execute("SELECT count(*) FROM want").fetchone()[0]
    if not files:
        return (n_want == 0), f"no output files, oracle has {n_want} rows"
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT * FROM read_parquet({files!r})")
    cw = sorted(r[0] for r in con.execute("DESCRIBE want").fetchall())
    cg = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
    if cw != cg:
        return False, f"columns want={cw} got={cg}"
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    if n_want != n_got:
        return False, f"rows want={n_want} got={n_got}"
    sel = ", ".join(f'"{c}"' for c in cw)
    try:
        d1 = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM want EXCEPT ALL "
                         f"SELECT {sel} FROM got)").fetchone()[0]
        d2 = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL "
                         f"SELECT {sel} FROM want)").fetchone()[0]
        if d1 == 0 and d2 == 0:
            return True, f"{n_want} rows, exact"
    except Exception:  # noqa: BLE001
        pass
    if n_want > BIG_COMPARE_ROWS:
        return False, f"{n_want} rows differ (too many for the tolerant compare)"

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        if len(df):
            df = df.sort_values(by=list(df.columns), na_position="last",
                                ignore_index=True, kind="mergesort")
        return df.reset_index(drop=True)
    try:
        w = norm(con.execute("SELECT * FROM want").df())
        g = norm(con.execute("SELECT * FROM got").df())
    except Exception as e:  # noqa: BLE001
        return False, f"could not load for the tolerant compare: {e}"
    for i in range(len(w)):
        for c in w.columns:
            if not cell_eq(w.at[i, c], g.at[i, c]):
                return False, f"row {i} col {c}: want={w.at[i, c]!r} got={g.at[i, c]!r}"
    return True, f"{n_want} rows, within tolerance"


def check(record, data_dir):
    """Verdict per output (DuckDB oracle on the generated inputs, against
    the first operation's files) and per operation: an operation fails if
    it threw, if it lacks an output, if an output's hash differs from the
    checked file's hash, or if the checked file failed its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(glob.glob(f"{data_dir}/*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    verdicts = {}
    for name, v in sorted(record["verify"].items()):
        ok, why = compare(con, v["sql"], v["path"])
        verdicts[name] = {"ok": ok, "why": why, "oracle": v["oracle"]}
    con.close()
    failed_ops = []
    for op in record["ops"]:
        bad = op["error"]
        for n, ref in sorted(record["verify"].items()):
            if bad:
                break
            h = op["hashes"].get(n)
            if h is None:
                bad = f"{n}: not produced"
            elif not verdicts[n]["ok"]:
                bad = f"{n}: the checked output failed its oracle"
            elif h != ref["hash"]:
                bad = f"{n}: hash {h} differs from the checked output's {ref['hash']}"
        if bad:
            failed_ops.append({"i": op["i"], "why": bad})
    return verdicts, failed_ops


# ---- metrics -------------------------------------------------------------

def end_to_end(record, gen_s):
    plain = [o for o in record["ops"] if not o["traced"] and o["error"] is None]
    if not plain:
        fail("no operation completed")
    batches = [o["t"] for o in plain]
    setup = (gen_s + record["jvm_boot_s"] + statistics.median(record["session_s"]) +
             record["warm_s"])
    metrics = {
        "setup_s": setup,
        "batch_s": statistics.median(batches),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    samples = {"setup_s": len(record["session_s"]), "batch_s": len(batches),
               "peak_rss_mb": 1}
    return metrics, samples


def per_layer(record):
    ops = [o for o in record["ops"] if o["error"] is None]
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    if not traced or not plain:
        fail("no traced and plain operation pair completed")
    m = {k: 0.0 for k in PER_LAYER}
    for k in PER_LAYER:
        vals = [o["layers"][k] for o in traced if k in o["layers"]]
        if vals:
            m[k] = statistics.median(vals)
    m.update(record["probe"])
    m["floor.query_ms"] = statistics.median(record["floor_ms"])
    m["trace.overhead_frac"] = (statistics.median(o["t"] for o in traced) /
                                statistics.median(o["t"] for o in plain)) - 1
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(f"{ROOT}/src/main/scala/graft"):
        fail(f"engine sources not found under {ROOT}/src (run from a full checkout)")
    wl = WORKLOADS[a.workload]
    work = f"{HERE}/.work/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    build(f"{work}/build.log")

    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    load0, steal0 = loadavg(), steal_ticks()
    data = f"{work}/data"
    counts = gen.generate(data, a.seed, wl["sf"], wl["tables"])
    gen_s = time.time() - t_start

    run_jvm({"workload": a.workload, "seconds": a.seconds,
             "trace": a.trace, "data": data, "work": work,
             "out": f"{work}/record.json"}, work, deadline)
    with open(f"{work}/record.json") as fh:
        record = json.load(fh)
    verdicts, failed_ops = check(record, data)
    steal_s = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")

    attempted = len(record["ops"])
    if a.trace:
        values, samples = per_layer(record), {}
        units = PER_LAYER
    else:
        values, samples = end_to_end(record, gen_s)
        units = END_TO_END
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "input_rows": counts, "scale_factor": wl["sf"],
        "samples": samples, "failed_frac": len(failed_ops) / attempted,
        "gen_s": gen_s, "jvm_boot_s": record["jvm_boot_s"],
        "op_s": [o["t"] for o in record["ops"]],
        "session_s": record["session_s"], "warm_s": record["warm_s"],
        "loop_s": record["loop_s"],
        "host": {"nproc": len(os.sched_getaffinity(0)), "cores_used": record["cores"],
                 "loadavg_start": load0, "loadavg_end": loadavg(),
                 "steal_s": steal_s, "java": record["java_version"],
                 "spark": record["spark_version"]},
        "checks": verdicts, "failed_ops": failed_ops[:20],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed_ops and all(v["ok"] for v in verdicts.values()),
        "attempted": attempted, "failed": len(failed_ops),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
