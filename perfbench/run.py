#!/usr/bin/env python3
"""Layered benchmark for the Spark curation engine.

Runs one workload (perfbench/workloads.json) in one JVM: set-up, an untimed
verify pass checked against the DuckDB oracle by tools/check.py, then
closed-loop timed passes with one client for about --seconds seconds.
Prints a header line, one line per metric, and as the last line a JSON
object {"correct", "attempted", "failed", "metrics"}.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 18 --trace 0

Run it from the root of a checkout. It builds the program (`sbt compile` at
the root) and the harness (`sbt compile` in perfbench/harness) when their
sources changed, generates the input tables once, and keeps every file it
writes under .bench_build/perfbench. `--trace 1` prints the per-layer
metrics instead of the end-to-end ones and writes spans. `--full` runs every
query of the workload's modules instead of its fixed timed set. See
perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
CPUS = len(os.sched_getaffinity(0))
HEAP = "4g"
# Scale factor of the generated input tables.
DATA_SF = 0.1
# The harness JVM of a timed run must end within this many seconds (the
# build, when one is needed, comes before and is not counted).
JVM_LIMIT_S = 150
WARM_STEPS = ["setup.Dedup.warmShared_s", "setup.Similarity.warmShared_s",
              "setup.Similarity.warmGraphShared_s"]
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def fingerprint(paths):
    """Digest of every source and build file under `paths` (target dirs skipped)."""
    h = hashlib.sha256()
    for p in paths:
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, subdirs, fs in os.walk(p)
            if not subdirs.sort() and "target" not in os.path.relpath(d, p).split(os.sep)
            for f in fs)
        for f in files:
            if f.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(home):
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
               os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
               os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]
    classes = [os.path.join(HARNESS, "target", "scala-2.13", "classes"),
               os.path.join(ROOT, "target", "scala-2.13", "classes")]
    digest = fingerprint(sources)
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and all(map(os.path.isdir, classes)):
        return classes, digest
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    for cwd in (ROOT, HARNESS):
        log(f"building {os.path.relpath(cwd, ROOT) or '.'}")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            fail(f"build failed in {cwd}")
    if not all(map(os.path.isdir, classes)):
        fail("build produced no classes")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def java_cmd(classpath, tmp, *args):
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o]
    return cmd + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
                  "perfbench.Harness", *args]


def declared(classpath):
    """(module, query) for every declared query, from the program itself."""
    r = subprocess.run(java_cmd(classpath, os.path.join(WORK, "tmp"), "list"),
                       capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        fail("could not list the declared queries:\n" + r.stderr[-2000:])
    return [tuple(l.split("\t")) for l in r.stdout.splitlines() if "\t" in l]


def tail(values):
    """Highest percentile with at least ten samples above it, or with a
    quarter of the samples above it when a run has fewer than 40:
    (value, percentile, samples beyond, sample count)."""
    xs = sorted(values)
    n = len(xs)
    beyond = min(10, n // 4)
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, beyond, n


def med(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(r, execs):
    s = r["setup"]
    steps = [s[k] for k in WARM_STEPS if k in s]
    cycles = [sum(c) for c in zip(*steps)]
    lat = [e["wall_s"] for e in execs if e["ok"]]
    t, pct, beyond, n = tail(lat)
    m = {
        "setup_s": (s["setup.session_s"][0] + s["setup.jit_warm_s"][0] + med(cycles), "s"),
        "sweep_s": (med([p["seconds"] for p in r["passes"] if not p["traced"]]), "s"),
        "query_p50_s": (med(lat), "s"),
        "query_tail_s": (t, "s"),
    }
    return m, {"query_tail_percentile": round(pct, 2), "query_tail_beyond": beyond,
               "query_samples": n}


def per_layer(r, execs, checks):
    traced = [p["index"] for p in r["passes"] if p["traced"]]
    rows = [e for e in execs if e["traced"]]

    def per_pass(f, sel=lambda e: True):
        return med([sum(f(e) for e in rows if e["pass"] == p and sel(e)) for p in traced])

    m = {}
    for k, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("job_busy_s", "s"), ("driver_self_s", "s"), ("executor_run_s", "s"),
                    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
                    ("input_mb", "MB"), ("output_mb", "MB")]:
        m[f"spark.{k}"] = (per_pass(lambda e: e[k]), unit)
    m["phase.build_s"] = (per_pass(lambda e: e["build_s"]), "s")
    m["phase.build_jobs"] = (per_pass(lambda e: e["build_jobs"]), "count")
    m["phase.exec_s"] = (per_pass(lambda e: e["exec_s"]), "s")
    m["phase.exec_jobs"] = (per_pass(lambda e: e["exec_jobs"]), "count")
    for mod in r["modules"]:
        sel = lambda e, mod=mod: e["module"] == mod
        m[f"{mod}.wall_s"] = (per_pass(lambda e: e["wall_s"], sel), "s")
        m[f"{mod}.jobs"] = (per_pass(lambda e: e["jobs"], sel), "count")
        m[f"{mod}.driver_self_s"] = (per_pass(lambda e: e["driver_self_s"], sel), "s")
    s = r["setup"]
    for k in ["setup.session_s", "setup.jit_warm_s"] + WARM_STEPS:
        m[k] = (med(s.get(k, [])), "s")
    m["stream.batches"] = (per_pass(lambda e: e["stream_batches"]), "count")
    m["stream.nodata_batches"] = (per_pass(lambda e: e["stream_nodata_batches"]), "count")
    m["stream.input_rows"] = (per_pass(lambda e: e["stream_input_rows"]), "count")
    m["stream.batch_p50_ms"] = (med([b for e in rows for b in e["stream_batch_ms"]]), "ms")
    m["stream.state_rows"] = (per_pass(lambda e: e["stream_state_rows"]), "count")
    m["io.wchar_mb"] = (per_pass(lambda e: e["wchar_mb"]), "MB")
    m["io.rchar_mb"] = (per_pass(lambda e: e["rchar_mb"]), "MB")
    tr = med([p["seconds"] for p in r["passes"] if p["traced"]])
    un = med([p["seconds"] for p in r["passes"] if not p["traced"]])
    m["trace.overhead_s"] = (tr - un, "s")
    attempted = len(execs)
    m["failed_frac"] = (sum(not e["ok"] for e in execs) / attempted, "fraction")
    m["oracle_mismatch"] = (sum(c[0] == "mismatch" for c in checks.values()), "count")
    m["warm_storage_mb"] = (r["warm_storage_mb"], "MB")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--full", action="store_true",
                    help="run every query of the workload's modules")
    a = ap.parse_args()
    t_start = time.time()
    # On SIGTERM, unwind through subprocess.run, which kills the running
    # child (sbt or the harness JVM) before it returns.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
              oracle.CHECKER):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from a checkout of the repository")
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(spec['workloads'])}")
    wl = spec["workloads"][a.workload]
    os.makedirs(WORK, exist_ok=True)

    home = spark_home()
    classes, digest = build(home)
    classpath = os.pathsep.join(classes + [os.path.join(home, "jars", "*")])
    data = gen_data.ensure(os.path.join(WORK, "data", f"sf{DATA_SF}-{gen_data.VERSION}"), DATA_SF)

    if a.full:
        names = [q for mod, q in declared(classpath) if mod in wl["modules"]]
    else:
        names = wl["queries"]
    out = os.path.join(WORK, "runs", f"{a.workload}{'-full' if a.full else ''}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    qfile = os.path.join(out, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names) + "\n")
    # Every temporary file of the run goes under one dir, removed after it.
    tmp = os.path.join(out, "tmp")
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local)
    cmd = java_cmd(classpath, tmp, f"data={data}", f"out={out}", f"queries={qfile}",
                   f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={CPUS}",
                   f"local_dir={local}")
    limit = None if a.full else JVM_LIMIT_S
    log(f"harness starts after {time.time() - t_start:.1f} s")
    with open(os.path.join(out, "jvm.log"), "w") as jlog:
        try:
            rc = subprocess.run(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=limit).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_LIMIT_S} s; see {out}/jvm.log")
        finally:
            log(f"harness exited after {time.time() - t_start:.1f} s")
            shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness exited with code {rc}")

    log(f"harness done after {time.time() - t_start:.1f} s")
    r = json.load(open(os.path.join(out, "result.json")))
    execs = r["execs"]
    checks = oracle.check(data, os.path.join(out, "verify"), names)
    log(f"oracle done after {time.time() - t_start:.1f} s")
    mismatches = {n: c for n, c in checks.items() if c[0] == "mismatch"}
    for n, c in sorted(mismatches.items()):
        log(f"oracle mismatch {n}: {c[2]}")
    failed = sum(not e["ok"] for e in execs)

    header = dict(r["header"])
    header.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "data_dir": os.path.relpath(data, ROOT), "source_digest": digest,
        "git_commit": git_commit(), "queries": len(names), "passes": len(r["passes"]),
        "oracle_checked": sum(c[0] == "ok" for c in checks.values()),
        "rows_only_checked": sum(c[0] == "rows-only" for c in checks.values()),
        "oracle_mismatch": len(mismatches), "failed_frac": failed / max(1, len(execs)),
        "warm_storage_mb": r["warm_storage_mb"],
        "output_digest": hashlib.sha256(json.dumps(
            sorted((n, c[3]) for n, c in checks.items())).encode()).hexdigest()[:16],
        "load_1m": [[p["load_before"], p["load_after"]] for p in r["passes"]],
        "run_dir": os.path.relpath(out, ROOT)})
    if a.trace:
        metrics = per_layer(r, execs, checks)
        header["spans"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
    else:
        metrics, extra = end_to_end(r, [e for e in execs if not e["traced"]])
        header.update(extra)
    print(json.dumps({"header": header}))
    for k, (v, unit) in metrics.items():
        print(f"{k:40s} {v:14.6f} {unit}")
    print(json.dumps({
        "correct": not mismatches and not r["verify_failed"],
        "attempted": len(execs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}}))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import oracle  # noqa: E402

if __name__ == "__main__":
    main()
