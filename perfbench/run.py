#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark harness with sbt (perfbench/build.sbt depends on the root
build.sbt); later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, starts one JVM on
local[nproc], times the workload, checks the outputs outside every timed
region and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics named in
BENCHMARK.json, with --trace 1 the per-layer ones. Every end-to-end
number the run measured (also the workload-specific ones that are not in
BENCHMARK.json) is printed above that line, and the full artifact
(environment, per-operation times, plan fingerprints, checks, spans) is
written to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["relational", "curation", "stops_publish", "stream_twins"]
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 700        # a building run may take 900 s
JVM_HEAP = "3g"
CHECK_ORACLE = os.path.join(ROOT, "scripts", "check_oracle.py")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    needed = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
              os.path.join(ROOT, "BENCHMARK.json"), CHECK_ORACLE]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        die("not the root of a checkout of the repository, missing: " + ", ".join(missing))
    stamp_dir = os.path.join(HERE, ".build")
    cp_file = os.path.join(stamp_dir, f"classpath-{source_stamp()}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(stamp_dir, exist_ok=True)
    log = os.path.join(stamp_dir, "sbt.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=lf,
                               text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out, see {log}")
        lf.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        die(f"build failed (exit {r.returncode}), see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def keep_log(log):
    """Copy a failed run's JVM log out of the work directory, which is removed."""
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    kept = os.path.join(HERE, "out", "failed-run.log")
    shutil.copy(log, kept)
    return kept


def oracle_checks(data, results, limit):
    """Each query result the JVM wrote (graft.Verify's layout) against its
    DuckDB oracle, through the repository's own comparator."""
    names = sorted(json.load(open(os.path.join(results, "oracle_sql.json"))))
    try:
        r = subprocess.run([sys.executable, CHECK_ORACLE, data, results],
                           capture_output=True, text=True, timeout=limit)
    except subprocess.TimeoutExpired:
        return [(n, False, "oracle check timed out") for n in names]
    fails = dict(ln[5:].split(" ", 1) for ln in r.stdout.splitlines() if ln.startswith("FAIL "))
    if r.returncode not in (0, 1) or (r.returncode == 1 and not fails):
        return [(n, False, f"check_oracle.py exited {r.returncode}: {r.stderr[-300:]}") for n in names]
    return [(n, n not in fails, fails.get(n, "matches DuckDB")) for n in names]


def run_jvm(cp, args, work, limit):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"the run exceeded {limit:.0f} s, see {keep_log(log)}")
    if code != 0:
        die(f"the JVM exited with {code}, see {keep_log(log)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    run_start = time.time() * 1000
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    try:
        if a.workload in ("relational", "curation"):
            sys.path.insert(0, HERE)
            import tables
            tables.generate(data, a.seed)
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--data", data, "--out", out,
                     "--start-ms", f"{run_start:.0f}"],
                work, RUN_LIMIT_S - (time.time() * 1000 - run_start) / 1000)
        result = json.load(open(os.path.join(out, "result.json")))
        checks = [(c["name"], c["ok"], c["detail"]) for c in result["checks"]]
        if a.workload in ("relational", "curation"):
            checks += oracle_checks(data, os.path.join(out, "results"),
                                    RUN_LIMIT_S - (time.time() * 1000 - run_start) / 1000)
        failed_checks = [c for c in checks if not c[1]]
        attempted = result["attempted"] + len(checks) - len(result["checks"])
        failed = result["failed"] + len(failed_checks) - sum(1 for c in result["checks"] if not c["ok"])
        result["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
        result["attempted"], result["failed"] = attempted, failed
        result["end_to_end"]["fail_share"]["value"] = failed / attempted
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        stem = os.path.join(HERE, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(result, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(out, "trace_spans.jsonl"), stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in checks:
        if not ok:
            print(f"check failed: {name}: {detail}")
    print(f"checks: {len(checks) - len(failed_checks)}/{len(checks)} passed; "
          f"operations attempted {attempted}, failed {failed}")
    for k, m in result["end_to_end"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    if a.trace:
        for k, v in result["per_layer"].items():
            print(f"{k} = {v:.6g}")
        metrics = {m["name"]: {"value": result["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": result["end_to_end"][m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
