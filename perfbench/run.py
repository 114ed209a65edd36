#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client runs a workload's queries
through `SparkEntry.queries` at local[<cores>] and reports end-to-end or
per-layer metrics. See perfbench/NOTES.md for the workloads and metrics.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. The program is compiled from src/main into the build
dir ($CARGO_TARGET_DIR, else .bench_build) on first use; every other file
a run makes lives in a private work dir under it and is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

# Each workload: the registry keys of its queries, the generator scale of
# its input tables, and whether a traced run also times ScaleUp. The lists
# are trimmed so that a pass takes about 2 s at local[4]; NOTES.md says
# why each query is in.
WORKLOADS = {
    "analytics": {
        "scale": 0.02,
        "scaleup": True,
        "queries": [
            "q01_pricing_summary", "q17_protocol_identification",
            "q52_eav_pivot", "q58_topk_per_group", "q54_simhash_neardup"],
    },
    "imaging-ingest": {
        "scale": 0.001,
        "scaleup": False,
        "queries": [
            "q61_archive_ingest", "q63_nifti_ingest", "q79_dicom_summary",
            "q80_minc_ingest", "q119_edf_stream_ingest",
            "q148_batch_tarchive", "q305_tarshard_stream"],
    },
}

SETUP_REPS = 3
WARM_PASSES = 5
HEAP = "3g"
# a run, build excluded, must end within 180 s; the JVM gets what is left
DEADLINE_S = 170
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "queries.build_ms": "ms", "queries.build_jobs": "count",
    "queries.p50_ms": "ms",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.actions": "count",
    "plans.topk_drains": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_only_ms": "ms",
    "scheduler.core_busy_frac": "ratio",
    "operators.exec_ms": "ms", "operators.task_run_ms": "ms",
    "operators.task_cpu_ms": "ms",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "sources.reread_ratio": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_ms": "ms", "shuffle.spill_disk_mb": "MB",
    "jvm.cpu_s": "s", "jvm.gc_ms": "ms", "jvm.peak_exec_mem_mb": "MB",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.input_rows": "count",
    "tools.scaleup_s": "s",
    "trace.overhead_frac": "ratio", "trace.coverage_frac": "ratio",
}
JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """Spark's jar dir: $SPARK_HOME/jars, else the one beside the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def build(root, build_root, jars):
    """Compiles the program and harness once per source state; returns the
    build dir."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/harness", "perfbench/build.sh"):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(build_root, "build-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "done")):
        t0 = time.monotonic()
        res = subprocess.run(["bash", "perfbench/build.sh", out, jars], cwd=root,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True)
        if res.returncode != 0:
            fail("build failed:\n" + res.stdout[-4000:])
        print(f"perfbench: built in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    return out


def run_jvm(build_dir, jars, work, args, timeout):
    cp = ":".join([f"{build_dir}/harness", f"{build_dir}/classes", f"{jars}/*"])
    cmd = ["java", *JDK17_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(args["cpus"]))
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness did not finish within {timeout:.0f} s")
    with open(f"{work}/jvm.log") as f:
        log = f.read()
    if code != 0:
        fail(f"harness exited with {code}:\n" + log[-4000:])
    for line in log.splitlines():
        if line.startswith("[perfbench]"):
            print("perfbench: harness" + line[len("[perfbench]"):], file=sys.stderr)
    with open(args["out"]) as f:
        return json.load(f)


def canon(df):
    """Columns sorted by name, dtypes widened, rows sorted: the canonical
    form both sides of the oracle compare are brought to. The compare
    follows tools/check.py but is kept here, so that the benchmark's
    verdict does not change when the repository's tools do."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatch(got, exp):
    """None when the two results are equal exactly, else a reason."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows vs {len(e)}"
    for c in g.columns:
        a, b = g[c], e[c]
        if a.dtype != b.dtype:
            try:
                b = b.astype(a.dtype)
            except (TypeError, ValueError):
                return f"{c}: dtype {a.dtype} vs {b.dtype}"
        if pd.api.types.is_float_dtype(a):
            same = (a.isna() == b.isna()) & (a.fillna(0) == b.fillna(0))
            if not same.all():
                return f"{c}: values differ"
        elif not a.equals(b):
            av = a.fillna("\x00") if a.dtype == object else a
            bv = b.fillna("\x00") if b.dtype == object else b
            if not (np.asarray(av.values) == np.asarray(bv.values)).all():
                return f"{c}: values differ"
    return None


def check(result, work, queries):
    """Compares each query's untimed-pass output with its DuckDB twin over
    the same input tables; returns {query: reason} for every failure."""
    bad = dict(result["failures"])
    con = duckdb.connect()
    for t in gen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{work}/data/{t}.parquet'")
    for q in queries:
        if q in bad:
            continue
        sql = result["oracle"].get(q)
        if sql is None:
            bad[q] = "no oracle twin"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{work}/check/{q}/*.parquet'").df()
            why = mismatch(got, con.sql(sql).df())
        except duckdb.Error as e:
            why = f"oracle error: {e}"
        if why:
            bad[q] = why
    con.close()
    return bad


def metrics(result, trace):
    med = statistics.median
    if not trace:
        values = {
            "setup_s": result["jvm_start_s"] + med(result["setup_s"]),
            "pass_s": med(result["pass_s"]),
            "peak_rss_mb": result["peak_rss_mb"],
        }
        units = E2E_UNITS
    else:
        layers = result["layers"]
        values = {k: med(l.get(k, 0.0) for l in layers) for k in LAYER_UNITS}
        # from the untraced passes of the traced run
        values["queries.p50_ms"] = med(result["query_ms"])
        values["jvm.cpu_s"] = med(result["pass_cpu_s"])
        untraced, traced = med(result["pass_s"]), med(result["traced_pass_s"])
        values["tools.scaleup_s"] = med(result["scaleup_s"]) if result["scaleup_s"] else 0.0
        values["trace.overhead_frac"] = (traced - untraced) / untraced
        values["trace.coverage_frac"] = med(
            (l["queries.build_ms"] + l["operators.exec_ms"]) / 1000 / s
            for l, s in zip(layers, result["traced_pass_s"]))
        units = LAYER_UNITS
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    build_root = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    jars = spark_jars()
    build_dir = build(root, build_root, jars)
    built = time.monotonic()
    wl = WORKLOADS[a.workload]
    work = os.path.join(build_root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        gen.generate(f"{work}/data", wl["scale"], a.seed)
        result = run_jvm(build_dir, jars, work, {
            "data": f"{work}/data", "work": work,
            "queries": ",".join(wl["queries"]), "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace,
            "scaleup": int(a.trace == 1 and wl["scaleup"]),
            "setup-reps": SETUP_REPS, "warmup": wl["queries"][0],
            "warm-passes": WARM_PASSES,
            "cpus": len(os.sched_getaffinity(0)),
            "out": f"{work}/result.json",
        }, DEADLINE_S - (time.monotonic() - built))
        bad = check(result, work, wl["queries"])
        if a.trace:
            os.makedirs(f"{build_root}/traces", exist_ok=True)
            with open(f"{build_root}/traces/{a.workload}-seed{a.seed}.json", "w") as f:
                json.dump({"per_query": result["per_query"], "layers": result["layers"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.monotonic() - started:.1f} s", file=sys.stderr)
    print("perfbench: set-ups " + " ".join(f"{x:.2f}" for x in result["setup_s"]) +
          " s; timed passes " + " ".join(f"{x:.2f}" for x in result["pass_s"]) + " s",
          file=sys.stderr)
    attempted = result["attempted"]
    failed = result["failed_runs"] + len(bad.keys() - result["failures"].keys())
    for q, why in sorted(bad.items()):
        print(f"perfbench: {q} FAILED: {why[:300]}", file=sys.stderr)
    out = metrics(result, a.trace)
    for k, v in out.items():
        print(f"perfbench: {a.workload} {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    # reported, not gated: NOTES.md says why these are not in BENCHMARK.json
    print(f"perfbench: {a.workload} query_p50_ms = {statistics.median(result['query_ms']):.6g} ms",
          file=sys.stderr)
    print(f"perfbench: {a.workload} pass_cpu_s = {statistics.median(result['pass_cpu_s']):.6g} s",
          file=sys.stderr)
    print(f"perfbench: {a.workload} failed_frac = {failed / attempted:.6g} "
          f"({failed} of {attempted} query executions)", file=sys.stderr)
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
