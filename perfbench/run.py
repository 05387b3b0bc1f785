#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload for one seed.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the library and
the benchmark driver from source (sbt, into .bench_build/); later runs
reuse the build while the sources are unchanged. Each run stages a private
copy of the test tables under .bench_build/, starts one JVM with a
local[N] Spark session (N = the cores this process may use), runs the
workload, checks its outputs, and prints as its last line one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer metrics of a traced run
(spans go to .bench_build/traces/). See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("batch_mix", "ingest_churn")
# every workload prints the same metrics: end-to-end with --trace 0,
# per-layer with --trace 1
METRICS = {
    "end_to_end": ["setup_s", "work_wall_s", "op_p50_ms", "driver_heap_mb"],
    "per_layer": [f"{l}.self_share" for l in (
        "graft.queries", "catalyst", "spark", "core.Store", "core.PointRead")]
    + ["catalyst.plan_s", "spark.jobs", "spark.stages", "spark.tasks",
       "spark.task_run_s", "spark.task_cpu_s", "spark.idle_core_share",
       "spark.shuffle_bytes", "spark.input_bytes", "jvm.alloc_bytes",
       "jvm.gc_share"],
}
# the dataset each workload reads; --scale replaces it (the smoke test
# uses sf0.001)
DATA_SCALE = {"batch_mix": "sf0.01", "ingest_churn": "sf0.01"}
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
DATA_ROOT = os.environ.get("GRAFT_BENCH_DATA", os.path.join(HERE, "data"))
XMX = "3g"
# per-run limit on the JVM; the first run of a checkout also builds
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha1()
    for rel in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the library and the driver; return the JVM classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "sbt-target" in l and l.count(":") > 3
           and not l.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp


def stage_data(scale, dest):
    """Run-private copy (hard links when possible) of one scale's tables."""
    src = os.path.join(DATA_ROOT, scale)
    if not os.path.isdir(src):
        fail(f"test tables not found at {src}")
    os.makedirs(dest)
    for t in TABLES:
        s, d = os.path.join(src, f"{t}.parquet"), os.path.join(dest, f"{t}.parquet")
        try:
            os.link(s, d)
        except OSError:
            shutil.copyfile(s, d)
    return dest


def artifact_cache_dir(data_dir):
    """The program's per-dataset artifact cache (Artifacts.datasetCacheDir)."""
    key = hashlib.md5(os.path.abspath(data_dir).encode()).hexdigest()[:8]
    return f"/tmp/graft_cache_{os.path.basename(data_dir)}_{key}"


def cpus():
    return len(os.sched_getaffinity(0))


def git_head():
    """HEAD of the checkout and a dirty flag, when it is a git repository."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10)
        if head.returncode != 0:
            return None, None
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                               capture_output=True, text=True, timeout=30)
        return head.stdout.strip(), bool(dirty.stdout.strip())
    except (OSError, subprocess.SubprocessError):
        return None, None


def run_jvm(cp, args, work):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, f"-Xmx{XMX}", *opens, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        kept = os.path.join(BUILD, "failed-jvm.log")
        shutil.copyfile(log_path, kept)
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(l for l in f if "Exception" in l)[-3000:])
        fail(f"workload JVM failed ({rc}); log kept at {kept}")


def history_check(key, record):
    """Compare this run's counts with an earlier run of the same code,
    workload and seed; remember this run's record for later runs."""
    hist = os.path.join(BUILD, "history")
    os.makedirs(hist, exist_ok=True)
    path = os.path.join(hist, key + ".json")
    earlier = None
    if os.path.exists(path):
        with open(path) as f:
            earlier = json.load(f)
    merged = dict(earlier or {})
    merged.setdefault("counts", record["counts"])
    merged["rows_out"] = {**(record.get("rows_out") or {}),
                          **(merged.get("rows_out") or {})}
    merged[f"e2e_trace{record['trace']}"] = record["e2e"]
    with open(path, "w") as f:
        json.dump(merged, f)
    return earlier


def main():
    # turn SIGTERM into SystemExit, so cleanup and the JVM kill still run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", help="dataset scale for every workload, e.g. sf0.001")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to the benchmark; run from a full checkout")
    cp, stamp = build()

    setup_start_ms = int(time.time() * 1000)
    scale = a.scale or DATA_SCALE[a.workload]
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = stage_data(scale, os.path.join(work, "data", scale))
    cache = artifact_cache_dir(data)
    try:
        n = cpus()
        out = os.path.join(work, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--work", work, "--out", out,
                     "--cpus", str(n), "--setup-start-ms", str(setup_start_ms)],
                work)
        with open(out) as f:
            res = json.load(f)

        failed, attempted = res["failed"], res["attempted"]
        errors = list(res["errors"])
        checks = {"jvm": res["info"].get("checks", {})}
        rows_out = None
        if a.workload == "batch_mix":
            sys.path.insert(0, HERE)
            import oracle  # benchmark-local; loads DuckDB only where needed
            rep = oracle.check_batch(data, work, res["info"]["rows_written"])
            checks["oracle"] = rep["summary"]
            failed += len(rep["failed"])
            errors += rep["failed"]
            rows_out = rep["rows_out"]

        head, dirty = git_head()
        key = f"{a.workload}-{scale}-seed{a.seed}-s{a.seconds:g}-{stamp}"
        earlier = history_check(key, {"counts": res["counts"], "trace": a.trace,
                                      "e2e": res["e2e"],
                                      "rows_out": rows_out})
        self_check = {"counts": res["counts"],
                      "match_earlier_run": None if earlier is None
                      else earlier["counts"] == res["counts"]}
        if earlier and earlier.get("rows_out") and rows_out:
            unstable = [k for k, v in rows_out.items()
                        if earlier["rows_out"].get(k) not in (None, v)]
            if unstable:
                failed += len(unstable)
                errors += [f"{k}: row count changed between runs" for k in unstable]
        overhead = None
        other = (earlier or {}).get(f"e2e_trace{1 - a.trace}")
        if other:
            traced, plain = (res["e2e"], other) if a.trace else (other, res["e2e"])
            overhead = {k: traced[k][0] / plain[k][0] - 1 for k in plain
                        if k in traced and plain[k][1] in ("s", "ms") and plain[k][0] > 0}

        e2e = res["e2e"]
        chosen = res["layer"] if a.trace else e2e
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in chosen.items()}
        want = METRICS["per_layer" if a.trace else "end_to_end"]
        if set(metrics) != set(want):
            fail(f"metric set differs from METRICS: {sorted(set(metrics) ^ set(want))}")

        stamp_info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                      "trace": a.trace, "scale": scale, "cpus": n, "xmx": XMX,
                      "max_heap_mb": res["xmx_mb"],
                      "spark_version": res["spark_version"], "git_head": head,
                      "git_dirty": dirty, "source_stamp": stamp}
        detail = {"stamp": stamp_info, "e2e_raw": res["e2e_raw"],
                  "info": res["info"], "checks": checks,
                  "self_check": self_check, "tracing_overhead": overhead,
                  "self_time_s": res.get("self_time_s"), "errors": errors[:20]}
        if a.trace:
            tdir = os.path.join(BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            dest = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(os.path.join(work, "spans.json"), dest)
            detail["spans_file"] = os.path.relpath(dest, ROOT)
        with open(os.path.join(BUILD, f"last-{a.workload}.json"), "w") as f:
            json.dump({"detail": detail, "e2e": e2e, "layer": res["layer"]}, f, indent=1)
        print(json.dumps({"detail": detail}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(cache, ignore_errors=True)


if __name__ == "__main__":
    main()
