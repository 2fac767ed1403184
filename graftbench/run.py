#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON result line.

    python3 graftbench/run.py --workload wiki_search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the benchmark's own build in this
directory depends on the checkout's build); later runs reuse the build
while no source changed. The workload runs in one JVM against a
`local[nproc]` Spark session; this script then checks the catalog slice's
results against DuckDB and prints the result as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (and a span file in .work/). The exit
code is 0 when every output check passed, 1 when one failed, 2 when the
benchmark could not run at all.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("wiki_search", "catalog_slice")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(limit, 1))
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export graftbench/Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        fail(f"build failed (rc={rc}); see {log}:\n" + "\n".join(lines[-20:]))
    cp = next((l.strip() for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if not cp:
        fail(f"no classpath in build output; see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)

    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, args, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main", *args]


def check_catalog(res):
    """Compare each slice query's written result with its oracle SQL in
    DuckDB the way the repository's oracle gate does: columns sorted by
    name, rows sorted, values equal. A query without an oracle must return
    at least one row."""
    import duckdb
    data, outs = res["catalog_data"], res["catalog_outputs"]
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")

    def canon(df):
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    failures = []
    failed = {f.split(" ")[0] for f in res.get("failures", [])}
    for q in res["slice"]:
        name = q["name"]
        if name in failed:
            continue
        got_path = os.path.join(outs, name, "*.parquet")
        try:
            got = con.sql(f"SELECT * FROM '{got_path}'").df()
            sql = res["oracle_sql"].get(name)
            if sql is None:
                if len(got) == 0:
                    failures.append(f"{name}: empty result")
                continue
            got, exp = canon(got), canon(con.sql(sql).df())
        except Exception as e:  # a query whose result cannot be read or compared fails its check
            failures.append(f"{name}: {type(e).__name__} {str(e)[:160]}")
            continue
        if list(got.columns) != list(exp.columns):
            failures.append(f"{name}: columns {list(got.columns)} != oracle {list(exp.columns)}")
        elif len(got) != len(exp):
            failures.append(f"{name}: {len(got)} rows != oracle {len(exp)}")
        elif not got.equals(exp):
            failures.append(f"{name}: values differ from oracle")
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found next to {os.path.basename(BENCH)}/: run from a checkout of the repository")
    if not os.path.isdir(os.path.join(BENCH, "data", "sf0.01")):
        fail("the sf0.01 fixture is missing")
    os.makedirs(WORK, exist_ok=True)
    t_build = time.time()
    cp = classpath()
    # a build may take up to BUILD_LIMIT_S; the run itself keeps to RUN_LIMIT_S
    start += time.time() - t_build

    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "GRAFT_"))}
    env["GRAFT_MEDIA_CACHE"] = os.path.join(WORK, "media")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", run_dir, "--bench", BENCH,
            "--cores", str(os.cpu_count() or 1)]
    if hasattr(os, "sched_getaffinity"):
        args[-1] = str(len(os.sched_getaffinity(0)))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as err:
        rc, out = run_bounded(java_cmd(cp, args, tmp), RUN_LIMIT_S - (time.time() - start), cwd=run_dir, env=env,
                              stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL, text=True)
    if rc is None:
        fail(f"{a.workload} did not finish in time; see {log}")
    line = next((l for l in reversed(out.splitlines()) if l.startswith("GRAFTBENCH_RESULT ")), None)
    if rc != 0 or line is None:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{a.workload} exited with {rc} and no result; see {log}:\n{tail}")
    res = json.loads(line[len("GRAFTBENCH_RESULT "):])
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(res, f, indent=1)

    failures = list(res["failures"])
    if a.workload == "catalog_slice":
        failures += check_catalog(res)
    correct = bool(res["correct"]) and not failures
    for f in failures[:20]:
        print(f"check failed: {f}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if a.trace:
        print(f"trace: {os.path.join(run_dir, 'trace-' + a.workload + '.json')}")
    result = {"correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
              "metrics": res["metrics"]}
    print(json.dumps(result), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
