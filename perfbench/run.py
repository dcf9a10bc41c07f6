#!/usr/bin/env python3
"""graft benchmark: one workload per call, one result line.

    python3 perfbench/run.py --workload relational|llm_pipeline|tx_churn \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first call builds the library
and the harness with sbt (offline) and caches the classpath under
`.perfbench/`; later calls rebuild only when a source file changed. The
call then generates the seeded input tables (gendata.py), runs the
harness in its own JVM (graft.perfbench.Main), checks the outputs and
prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (set-up time, round
wall and CPU time, live heap); with --trace 1 the listeners are installed
and the metrics are the per-layer ones. See perfbench/README.md.
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

import gendata

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SF = 0.01
WORKLOADS = ("relational", "llm_pipeline", "tx_churn")
DEADLINE_S = 150
BUILD_DEADLINE_S = 800

END_TO_END = {"setup_s": "s", "round_s": "s", "round_cpu_s": "s", "live_heap_mb": "MB"}
PER_LAYER = {
    "compile.build_s": "s", "driver.main_cpu_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "plans.graft_rules_s": "s",
    "catalyst.queries": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B", "exec.input_bytes": "B", "exec.input_rows": "count",
    "driver.job_gap_s": "s", "ops.cache_peak_bytes": "B",
    "jvm.jit_s": "s", "jvm.gc_s": "s",
    "io.log_replays": "count", "io.snapshot_s": "s", "io.live_files": "count",
    "io.changes_s": "s", "io.append_s": "s", "io.upsert_s": "s",
    "io.delete_s": "s", "io.compact_s": "s",
    "tx.commit_p50_s": "s", "tx.read_p50_s": "s", "tx.travel_p50_s": "s",
    "tx.changes_p50_s": "s", "tx.stored_bytes_per_row": "B",
    "host.steal_s": "s", "jvm.process_cpu_s": "s",
}

# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
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


def source_stamp():
    """Digest of every file the build reads."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile library and harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(STATE, "classpath")
    stamp_file = os.path.join(STATE, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            code = run_group(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "export Runtime/fullClasspath"],
                BUILD_DEADLINE_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    # `export` prints the classpath as the last line of the log
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def inputs(seed):
    """The seeded tables, generated once per (scale, seed)."""
    d = os.path.join(STATE, "data", f"sf{SF}_seed{seed}")
    if not os.path.exists(os.path.join(d, "done")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gendata.generate(tmp, seed, SF)
        open(os.path.join(tmp, "done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def oracle_check(data, results, writes):
    """Compare each written result with its oracle SQL run in DuckDB
    over the same tables; return the list of disagreements."""
    import duckdb
    import pandas as pd

    con = duckdb.connect(config={"threads": 2, "autoinstall_known_extensions": False})
    for f in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime"):
                df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
            elif df[c].dtype == object:
                df[c] = df[c].astype(str)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    bad = []
    for name, sql in sorted(writes.items()):
        if not sql:
            bad.append(f"{name}: no oracle SQL")
            continue
        files = sorted(glob.glob(os.path.join(results, name, "*.parquet")))
        if not files:
            bad.append(f"{name}: no result files")
            continue
        s = norm(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        d = norm(con.execute(sql).df())
        if list(s.columns) != list(d.columns):
            bad.append(f"{name}: columns {list(s.columns)} vs {list(d.columns)}")
        elif len(s) != len(d):
            bad.append(f"{name}: {len(s)} rows vs {len(d)} from the oracle")
        else:
            for c in s.columns:
                a, b = s[c], d[c]
                if pd.api.types.is_integer_dtype(a) != pd.api.types.is_integer_dtype(b):
                    bad.append(f"{name}: column {c} dtype {a.dtype} vs {b.dtype}")
                    break
                if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                    x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
                    if any(not (p == q or (math.isnan(p) and math.isnan(q)))
                           for p, q in zip(x, y)):
                        bad.append(f"{name}: column {c} values differ")
                        break
                elif (a.astype(str) != b.astype(str)).any():
                    bad.append(f"{name}: column {c} values differ")
                    break
    return bad


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group (sbt's launcher script starts a JVM of its own) and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def harness(args, cp, data, run_dir):
    """Run the JVM harness; return its result object."""
    out = os.path.join(run_dir, "result.json")
    # C1 only: in a JVM this short-lived, C2 compilation costs more CPU
    # than the workload and varies from run to run (see README)
    # no hsperfdata file under /tmp: the run writes only inside the checkout
    cmd = (["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(len(os.sched_getaffinity(0))),
              "--data", data, "--work", run_dir, "--out", out])
    log = os.path.join(STATE, f"{args.workload}_seed{args.seed}.log")
    with open(log, "w") as lf:
        try:
            code = run_group(cmd, DEADLINE_S, stdout=lf, stderr=lf, cwd=run_dir)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {log}")
    if code != 0 or not os.path.exists(out):
        fail(f"harness exited {code}; see {log}")
    shutil.copy(out, os.path.join(STATE, f"{args.workload}_seed{args.seed}.result.json"))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    os.makedirs(STATE, exist_ok=True)

    cp = build()
    data = inputs(args.seed)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}_seed{args.seed}_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        r = harness(args, cp, data, run_dir)
        bad = list(r["mismatches"]) + oracle_check(
            data, os.path.join(run_dir, "results"), r["results"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for m in bad + r["failures"]:
        print(f"perfbench: {m}", file=sys.stderr)
    if args.trace:
        os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
        with open(os.path.join(STATE, "trace", f"{args.workload}_seed{args.seed}.json"), "w") as f:
            json.dump(r, f, indent=1)
        values = {k: r["layers"].get(k, 0.0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        values = {"setup_s": r["setup_s"],
                  "round_s": statistics.median(r["round_s"]),
                  "round_cpu_s": statistics.median(r["round_cpu_s"]),
                  "live_heap_mb": r["live_heap_mb"]}
        units = END_TO_END
    print(json.dumps({
        "correct": not bad, "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main()
