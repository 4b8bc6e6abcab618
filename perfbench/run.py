#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <batch|batch_skew|lifecycle|sweep> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft together with the benchmark program (perfbench/build.sbt) on
first use in a checkout, then runs graft.perfbench.PerfBench in one JVM on
local[<cores>], cores being the processors the JVM may use. Inputs are
generated from --seed. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). A traced run also writes its spans and
metrics to perfbench/.out/trace-<workload>-seed<seed>.json. The exit code
is 0 only when every output check passed.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
# the per_layer metric prefixes each workload must report; a traced run
# reports the others as 0
PIPELINE_LAYERS = ("kernel.", "signatures.", "blocking.", "pairs.", "components.", "pipeline.",
                   "quality.", "trace.")
WRITE_LAYERS = ("tableio.", "incremental.", "streamingest.")
OWNED = {"batch": PIPELINE_LAYERS + WRITE_LAYERS, "batch_skew": PIPELINE_LAYERS,
         "lifecycle": ("kernel.", "quality.", "trace.") + WRITE_LAYERS,
         "sweep": ("sweep.", "trace.")}
WORKLOADS = tuple(OWNED)
RUN_LIMIT_S = 170
JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + the benchmark once per source state; returns the classpath."""
    if not all(os.path.exists(p) for p in SOURCES):
        die("graft sources not found next to the benchmark; run from a graft checkout")
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == digest:
                with open(cp_file) as cp:
                    return cp.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(os.path.join(BUILD, "build.log")) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        die(f"build failed (sbt exit {rc})")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file) as cp:
        return cp.read()


def run_program(classpath, args, work, result_file, deadline):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.PerfBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result_file]
    log_path = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"program exceeded its time limit; log: {log_path}")
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"program failed (exit {rc}); log: {log_path}")
    with open(result_file) as fh:
        return json.load(fh), log_path


def oracle_checks(res):
    """Each oracle-backed sweep query's row count must equal its oracle SQL's
    count in DuckDB over the same generated tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = res["tables"]
    for name in sorted(os.listdir(tables)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{tables}/{name}/*.parquet')")
    checks = []
    for q, o in sorted(res.get("oracle", {}).items()):
        try:
            want = con.execute(f"SELECT count(*) FROM ({o['sql']})").fetchone()[0]
            checks.append({"name": f"{q} oracle count", "ok": want == o["count"],
                           "detail": f"spark={o['count']} duckdb={want}"})
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"name": f"{q} oracle count", "ok": False, "detail": str(e)[:200]})
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    classpath = build()
    os.makedirs(OUT, exist_ok=True)
    result_file = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    # the first run in a checkout also builds; the program's own limit
    # starts after the build
    work = os.path.join(WORK, args.workload)
    res, log_path = run_program(classpath, args, work, result_file, time.time() + RUN_LIMIT_S)

    checks = list(res.get("checks", []))
    attempted, failed = res["attempted"], res["failed"]
    if "oracle" in res:
        extra = oracle_checks(res)
        for c in extra:
            print(f"[perfbench] check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}",
                  file=sys.stderr)
        checks += extra
        attempted += len(extra)
        failed += sum(not c["ok"] for c in extra)
    shutil.rmtree(work, ignore_errors=True)
    metrics = dict(res["metrics"])
    if args.trace:
        # a layer this workload does not exercise reads 0; one it owns must
        # have been reported
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for m in wanted:
            if not m.startswith(OWNED[args.workload]):
                metrics.setdefault(m, {"value": 0, "unit": units[m]})
    missing = [m for m in wanted if m not in metrics or metrics[m]["value"] is None]
    if missing:
        checks.append({"name": "every declared metric reported", "ok": False,
                       "detail": ", ".join(missing)})
        attempted += 1
        failed += 1
    correct = attempted >= 1 and all(c["ok"] for c in checks)
    out = {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
           "metrics": {m: metrics[m] for m in wanted if m not in missing}}
    if args.trace:
        artifact = dict(out)
        artifact.update({"workload": args.workload, "seed": args.seed, "checks": checks,
                         "error_rate": failed / max(attempted, 1),
                         "generations": res.get("generations"), "spans": res.get("spans", []),
                         "all_metrics": res["metrics"]})
        path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(artifact, fh, indent=1)
        print(f"[perfbench] trace artifact: {path}", file=sys.stderr)
    print(f"[perfbench] {args.workload} seed={args.seed} done in {time.time() - start:.1f} s; "
          f"error_rate={failed / max(attempted, 1):.4f}; log: {log_path}", file=sys.stderr)
    print(json.dumps(out))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
