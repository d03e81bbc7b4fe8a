#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, three workloads.

    python3 perfbench/run.py --workload {audit,suite,token_pipeline} \
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/, and the
first run of `audit` and `token_pipeline` generates that workload's base table
there; the seed picks which slice of it a run reads.
Every run starts one benchmark JVM at local[<cores>] that drives its workload
as a closed loop with a single client, and checks every operation's result:
against closed forms for `audit` and `token_pipeline`, against the DuckDB
oracle (`SparkEntry.oracleSql`) for `suite`.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones; with --trace 1
they are the per-layer ones of a traced run (see perfbench/README.md).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = os.path.join(HERE, "data")
WORKLOADS = ("audit", "suite", "token_pipeline")
MAIN = "org.apache.spark.perfbench.Harness"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as the engine's build.sbt sets).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def run_proc(cmd, cwd, logfile, timeout, env=None):
    """Run a command in its own process group; kill the group on timeout.
    Returns the exit code (None on timeout) once every process has ended."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- build

def sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source tree; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources at src/main/scala/graft; "
                         "run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ)
    home = os.path.expanduser("~")
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={home}/.sbt/repositories -Dsbt.offline=true -Xmx2g")
    logfile = os.path.join(BUILD, "build.log")
    log("building engine + harness with sbt (first run in this checkout)")
    t0 = time.time()
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     "compile", "export Runtime/fullClasspath"], HERE, logfile, 840, env)
    if code != 0:
        sys.stderr.write(tail(logfile))
        raise SystemExit("perfbench: build failed")
    lines = [l.strip() for l in open(logfile) if l.strip() and not l.startswith("[")]
    # sbt can echo a wrapped tail of a long line: take the longest classpath
    classpath = max((l for l in lines if os.pathsep in l and ".jar" in l), key=len)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


# ---------------------------------------------------------------- JVM

def jvm(classpath, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, MAIN, *args]
    launched = time.time()
    code = run_proc(cmd, run_dir, os.path.join(run_dir, "jvm.log"), timeout)
    return code, launched


def cpu_ticks():
    """(steal, total) CPU time of the machine from /proc/stat, in ticks."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)
    except (OSError, ValueError):
        return 0, 0


def du_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total / 1e6


def inputs(classpath, workload, seed, run_dir, files, deadline):
    """Link the seed's slice of the workload's base table into the run
    directory; the base table is generated on first use in a checkout and
    again whenever the sources change. Returns (input dir, index of the
    first file, files, generation seconds)."""
    base = os.path.join(BUILD, "inputs", workload)
    meta = os.path.join(base, "_GEN.json")
    stamp_file = os.path.join(base, "_STAMP")
    stamp = sources_stamp()
    if not (os.path.exists(meta) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(base, ignore_errors=True)
        gen_dir = os.path.join(BUILD, "runs", f"gen-{workload}-{os.getpid()}")
        os.makedirs(gen_dir)
        args = ["--mode", "gen", "--workload", workload, "--cores", str(cores()), "--data", base]
        code, _ = jvm(classpath, args, gen_dir, max(10, deadline - time.time()))
        if code != 0 or not os.path.exists(meta):
            sys.stderr.write(tail(os.path.join(gen_dir, "jvm.log")))
            raise SystemExit(f"perfbench: generating the {workload} input failed")
        shutil.rmtree(gen_dir, ignore_errors=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    with open(meta) as f:
        gen = json.load(f)
    parts = sorted(glob.glob(os.path.join(base, "part-*.parquet")))
    if len(parts) != gen["base_files"]:
        raise SystemExit(f"perfbench: {base} holds {len(parts)} files, expected {gen['base_files']}")
    files = files or gen["files"]
    first = seed % (len(parts) - files + 1)
    data = os.path.join(run_dir, "input")
    os.makedirs(data)
    for p in parts[first:first + files]:
        os.link(p, os.path.join(data, os.path.basename(p)))
    return data, first, files, gen["gen_s"]


# ---------------------------------------------------------------- oracle

def oracle_check(run_dir, queries):
    """Compare each suite result with its DuckDB oracle, as
    tools/oracle_check.py does: columns by name, rows by all columns, exact
    values. Returns {query: error} for the mismatches."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df[sorted(df.columns)]
        if len(df):
            df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
        return df

    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    for p in glob.glob(os.path.join(SF_DIR, "*.parquet")):
        name = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    errors = {}
    for q in queries:
        try:
            if q not in sqls:
                raise AssertionError("no oracle SQL")
            want = canon(con.execute(sqls[q]).df())
            got = canon(con.execute(
                f"SELECT * FROM read_parquet('{run_dir}/results/{q}/*.parquet')").df())
            if list(got.columns) != list(want.columns):
                raise AssertionError(f"columns {list(got.columns)} vs {list(want.columns)}")
            if len(got) != len(want):
                raise AssertionError(f"rows {len(got)} vs {len(want)}")
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # a mismatch or an unreadable result
            errors[q] = f"oracle mismatch: {str(e).splitlines()[-1][:200] if str(e) else type(e).__name__}"
    con.close()
    return errors


# ---------------------------------------------------------------- metrics

def op_walls(res):
    """Walls of the measured operations; a failed one is +inf, never a time."""
    return [(o, o["wall_s"] if o["error"] is None else math.inf) for o in res["ops"] if o["pass"] >= 1]


def tail_percentile(walls):
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 20:
        return 50, statistics.median(walls)
    q = (n - 10) * 100 // n
    return q, sorted(walls)[math.ceil(q / 100 * n) - 1]


def end_to_end(res, setup_s):
    by_pass = {}
    for o, w in op_walls(res):
        by_pass.setdefault(o["pass"], []).append(w)
    pass_walls = [sum(ws) for _, ws in sorted(by_pass.items())]
    return {
        "setup_s": (setup_s, "s", 1),
        "pass_s": (statistics.median(pass_walls), "s", len(pass_walls)),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", 1),
    }


def unit_of(name):
    if name in ("spark.utilisation", "trace.overhead"):
        return "fraction"
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ms", "ms"), ("_ms_p50", "ms")):
        if name.endswith(suffix):
            return unit
    return "count"


def emit(correct, attempted, failed, metrics):
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": (v if math.isfinite(v) else None), "unit": u}
                    for k, (v, u) in metrics.items()}}))


# ---------------------------------------------------------------- main

def bench(workload, seed, seconds, trace, files=None, inject=""):
    classpath = build()
    deadline = time.time() + RUN_TIMEOUT_S
    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--mode", "run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores()), "--out", run_dir, "--sf", SF_DIR]
    args += ["--inject", inject] if inject else []
    gen_s = 0.0
    try:
        if workload != "suite":
            data, first, files, gen_s = inputs(classpath, workload, seed, run_dir, files, deadline)
            args += ["--data", data, "--first", str(first), "--files", str(files)]
        ticks0 = cpu_ticks()
        code, launched = jvm(classpath, args, run_dir, max(10, deadline - time.time()))
        ticks1 = cpu_ticks()
        result = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result):
            sys.stderr.write(tail(os.path.join(run_dir, "jvm.log")))
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {code})")
        with open(result) as f:
            res = json.load(f)
        if workload == "suite":
            first = [o for o in res["ops"] if o["pass"] == 1 and o["error"] is None]
            bad = oracle_check(run_dir, [o["name"] for o in first])
            for o in first:
                o["error"] = bad.get(o["name"])
        tmp_left_mb = du_mb(os.path.join(run_dir, "tmp"))
        if trace:
            with open(os.path.join(BUILD, f"last-{workload}-spans.json"), "w") as f:
                json.dump({"columns": ["id", "op", "parent", "name", "start_ns", "end_ns"],
                           "spans": res["spans"]}, f)
    finally:
        # keep the last run's JVM log for diagnosis; drop everything else
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"), os.path.join(BUILD, f"last-{workload}-jvm.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(res["ops"])
    errors = [o for o in res["ops"] if o["error"] is not None]
    for o in errors:
        log(f"FAILED pass {o['pass']} {o['name']}: {o['error']}")
    setup_s = (res["main_epoch_s"] - launched) + res["session_s"] + res["open_s"] + res["warmup_s"]
    print(f"workload={workload} seed={seed} cores={res['cores']} trace={trace} "
          f"mode={'warm' if workload == 'audit' else 'cold'} closed-loop clients=1 "
          f"input_rows={res['rows']}")
    print(f"failed_ratio = {len(errors)}/{attempted} = {len(errors) / attempted:.4f}")
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # large share slows every time metric of the run
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    print(f"host steal = {steal:.3f} of CPU time during the run")
    print("pass walls: " + " ".join(f"{'T' if p['traced'] else 'U'}{p['wall_s']:.3f}" for p in res["passes"]))
    if trace:
        layers = dict(res["layers"])
        layers["session.start_s"] = res["session_s"]
        layers["sources.gen_s"] = gen_s
        layers["isolation.tmp_left_mb"] = tmp_left_mb
        metrics = {k: (float(v), unit_of(k)) for k, v in sorted(layers.items())}
        for k, (v, u) in metrics.items():
            print(f"{k} = {v:.6g} {u}")
    else:
        e2e = end_to_end(res, setup_s)
        for k, (v, u, n) in e2e.items():
            print(f"{k} = {v:.6g} {u} (samples: {n})")
        if res["rows"]:
            print(f"rows_per_s = {res['rows'] / e2e['pass_s'][0]:.6g} rows/s "
                  f"(input rows {res['rows']} / pass_s)")
        print(f"setup parts: jvm_start_s={res['main_epoch_s'] - launched:.3f} "
              f"session_s={res['session_s']:.3f} open_s={res['open_s']:.3f} "
              f"warmup_s={res['warmup_s']:.3f} (sources.gen_s={gen_s:.3f}, not in setup_s)")
        walls = [w for _, w in op_walls(res)]
        q, tail_s = tail_percentile(walls)
        tail_txt = f", op p{q} = {tail_s:.6g} s" if q > 50 else ""
        print(f"op p50 = {statistics.median(walls):.6g} s{tail_txt} (samples: {len(walls)})")
        by_name = {}
        for o, w in op_walls(res):
            by_name.setdefault(o["name"], []).append(w)
        print("op medians: " + " ".join(f"{k}={statistics.median(v):.3f}" for k, v in by_name.items()))
        metrics = {k: (float(v), u) for k, (v, u, _) in e2e.items()}
    return not errors, attempted, len(errors), metrics


def selfcheck():
    """Smoke-size audit runs: a clean one must have no failures; one with an
    injected exception and an injected wrong count must report exactly those
    two operations as failed."""
    ok, attempted, failed, _ = bench("audit", 1, 1, 0, files=2)
    assert ok and failed == 0 and attempted >= 15, (ok, attempted, failed)
    ok, attempted, failed, metrics = bench("audit", 1, 1, 0, files=2, inject="fail,wrong")
    assert not ok and failed == 2, (ok, attempted, failed)
    # the failed pass is +inf; the median pass is still a measured time
    assert math.isfinite(metrics["pass_s"][0]), metrics
    print("selfcheck ok: clean run 0 failed; injected run counted 2 failed of", attempted)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        return selfcheck()
    if not a.workload:
        ap.error("--workload is required")
    correct, attempted, failed, metrics = bench(a.workload, a.seed, a.seconds, a.trace)
    emit(correct, attempted, failed, metrics)


if __name__ == "__main__":
    main()
