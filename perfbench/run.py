#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload extract-commit --seed 1 --seconds 8 --trace 0

Builds the engine and the benchmark from source with sbt (once per source
state; later runs reuse the build), launches one JVM for the workload, checks
the outputs (analytics: every query against its DuckDB oracle), and prints as
its last line one JSON object: correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer ones. Everything it writes goes under .bench_build/."""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

WORKLOADS = ("extract-commit", "analytics")
JVM_TIMEOUT_S = 168


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(root, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """sbt build of the engine plus benchmark; writes classpath/JVM flags."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(out, "build.stamp")
    launch = os.path.join(root, "perfbench", "target", "launch")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and \
            os.path.exists(os.path.join(launch, "classpath.txt")):
        return launch, stamp
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(out, "sbt"),
           "-Dsbt.ivy.home=" + os.path.join(out, "ivy"), "writeLaunch"]
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), stdout=fh,
                           stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        fail("build failed (see %s)" % log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return launch, stamp


def mem_total_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def heap_mb(mem_kb):
    """A quarter of the host's memory, between 2 and 4 GiB."""
    return max(2048, min(4096, mem_kb // 4096))


def run_jvm(root, out, launch, args, work, raw_path, xmx):
    with open(os.path.join(launch, "classpath.txt")) as fh:
        cp = ":".join(l.strip() for l in fh if l.strip())
    with open(os.path.join(launch, "jvm_options.txt")) as fh:
        opts = [l.strip() for l in fh if l.strip()]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + opts + ["-Xmx%dm" % xmx, "-Djava.io.tmpdir=" + tmp,
                             "-cp", cp, "perfbench.Main",
                             "--workload", args.workload, "--seed", str(args.seed),
                             "--seconds", str(args.seconds), "--trace", str(args.trace),
                             "--work", work, "--out", raw_path]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    log = os.path.join(out, "jvm-%s-%s-%s.log" % (args.workload, args.seed, args.trace))
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=root, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S, env=env)
    if r.returncode != 0 or not os.path.exists(raw_path):
        fail("benchmark JVM failed with code %d (see %s)" % (r.returncode, log))


def oracle_check(raw):
    """Every query's check-pass output against SparkEntry.oracleSql under
    DuckDB, compared as scripts/oracle_check.py does. Returns the failures."""
    import duckdb
    tables, outdir = raw["check_tables"], raw["check_outputs"]
    con = duckdb.connect()
    con.execute("SET threads=%d" % raw["host"]["nproc"])
    for t in ["documents", "embeddings", "events", "orders", "customer", "lineitem", "nation"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet/*.parquet'" % (t, tables, t))
    with open(os.path.join(outdir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    def norm(rows):
        return sorted(tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows)

    fails = {}
    for name, sql in sorted(oracle.items()):
        if name in raw["errors"]:
            fails[name] = "spark error: " + raw["errors"][name]
            continue
        files = glob.glob(os.path.join(outdir, name, "*.parquet"))
        try:
            spark_rows = con.sql("SELECT * FROM read_parquet(%r)" % files).fetchall() if files else []
            if norm(spark_rows) != norm(con.sql(sql).fetchall()):
                fails[name] = "mismatch"
        except Exception as e:  # a broken oracle run is a failed check too
            fails[name] = "error: " + str(e)[:200]
    for name in raw["errors"]:
        fails.setdefault(name, "spark error: " + raw["errors"][name])
    return fails


def git_commit(root):
    """The checked-out commit, when the tree is a git checkout."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail("run from the repository root (missing %s)" % need)
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    launch, stamp = build(root, out)

    work = os.path.join(out, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    raw_path = os.path.join(out, "raw-%s-%d-%d.json" % (args.workload, args.seed, args.trace))
    if os.path.exists(raw_path):
        os.remove(raw_path)
    mem_kb = mem_total_kb()
    xmx = heap_mb(mem_kb)
    t0 = time.time()
    try:
        run_jvm(root, out, launch, args, work, raw_path, xmx)
        with open(raw_path) as fh:
            raw = json.load(fh)
        attempted, failed = raw["attempted"], raw["failed"]
        check = {}
        if args.workload == "analytics":
            check = oracle_check(raw)
            failed = len(check)
        kernel = raw.get("trace", {}).get("kernel")
        if kernel and kernel["chain_mismatches"]:
            # the traced phase chain disagreed with Extraction.extractDoc
            check["kernel_chain"] = kernel["chain_mismatches"]
            failed += kernel["chain_mismatches"]
        raw["failed"] = failed
        metrics = benchlib.per_layer(raw) if args.trace else benchlib.end_to_end(raw)
        detail = benchlib.detail(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    provenance = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "mem_total_kb": mem_kb, "xmx_mb": xmx,
        "source_sha256": stamp, "git_commit": git_commit(root),
        "wall_s": round(time.time() - t0, 3), "check_failures": check,
        "parts": [{k: v for k, v in p.items() if k != "stages"} for p in raw["parts"]],
    }
    provenance.update(raw["host"])
    # every per-run value the metrics were reduced from
    provenance.update({k: v for k, v in raw.items()
                       if k not in ("trace", "detail", "parts", "host", "errors", "workload", "seed",
                                    "seconds", "traced", "check_tables", "check_outputs")})
    print("provenance " + json.dumps(provenance, sort_keys=True))
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
