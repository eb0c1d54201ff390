#!/usr/bin/env python3
"""QAQC fleet + corpus benchmark for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload fleet_short --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source into `.bench_build/`
(once per source state), runs one workload in a single JVM, checks every
output, and prints a human-readable report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics. The full report
(disclosure, tail percentile, self times, tracing overhead) and, for
traced runs, the span file land in `.bench_build/reports/`.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("fleet_short", "fleet_year", "corpus_10x")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark with sbt, once per source state;
    returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    print("perfbench: building (sbt) ...", file=sys.stderr, flush=True)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspathAsJars"],
            cwd=BENCH, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S,
            stdin=subprocess.DEVNULL)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    # class-data sharing: one untimed, zero-second fleet_short run dumps the
    # classes it loads; measured runs then map them instead of loading them
    # one by one. A failed dump only costs those runs their start-up time.
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    print("perfbench: dumping the class-data-sharing archive ...", file=sys.stderr, flush=True)
    java(cp, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
         ["--workload", "fleet_short", "--seed", "0", "--seconds", "0", "--trace", "0"],
         os.path.join(BUILD, "work", "cds"), os.path.join(BUILD, "work", "cds-result.json"))
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java(cp, jvm_flags, main_args, work, result):
    """Run perfbench.Main in a JVM of its own; returns its exit code (None
    when it overran its time limit)."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-Xlog:cds=off", *jvm_flags,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", *main_args, "--work", work, "--result", result]
    if os.path.exists(result):
        os.remove(result)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        return subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, env=env,
                              stdout=sys.stderr, timeout=JVM_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        return None


def run_jvm(cp, args, work, result):
    flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    rc = java(cp, flags, ["--workload", args.workload, "--seed", str(args.seed),
                          "--seconds", str(args.seconds), "--trace", str(args.trace)],
              work, result)
    if rc is None:
        fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with code {rc}")
    with open(result) as fh:
        return json.load(fh)


def oracle_check(report):
    """Compare the corpus jobs' checked outputs with their DuckDB oracles
    through the repository's checker; returns the names that failed."""
    notes = report["correctness"]
    names = notes["oracle_names"]
    checker = os.path.join(ROOT, "scripts", "check.py")
    if not os.path.exists(checker):
        fail("scripts/check.py not found")
    spill = os.path.join(BUILD, "duckdb")
    os.makedirs(spill, exist_ok=True)
    env = {"GRAFT_CHECK_ONLY": ",".join(names), "GRAFT_DUCKDB_TEMP": spill,
           "GRAFT_DUCKDB_MEMORY": "2GB",
           "GRAFT_DUCKDB_THREADS": str(os.cpu_count() or 1)}
    saved_env = {k: os.environ.get(k) for k in env}
    saved_argv = sys.argv
    os.environ.update(env)
    sys.argv = [checker, notes["oracle_layout"], notes["oracle_outputs"]]
    out = io.StringIO()
    sys.dont_write_bytecode = True  # leave no __pycache__ beside the checker
    try:
        spec = importlib.util.spec_from_file_location("graft_check", checker)
        check = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(check)
        # the generated corpus layout holds only the two tables these jobs read
        check.TABLES = ["documents", "embeddings"]
        with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
            try:
                check.main()
            except SystemExit:
                pass
    finally:
        sys.argv = saved_argv
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    passed = {ln.split()[1] for ln in out.getvalue().splitlines() if ln.startswith("PASS ")}
    return [n for n in names if n not in passed], out.getvalue()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    os.environ.setdefault("SPARK_HOME", spark_jars())
    cp = build()
    work = os.path.join(BUILD, "work", args.workload)
    result_file = os.path.join(BUILD, "work", f"{args.workload}-result.json")
    report = run_jvm(cp, args, work, result_file)
    result = report["result"]
    failed_checks = list(result["final_check_failures"])
    failed_ops = result["failed"]
    bad_jobs = set()
    if args.workload == "corpus_10x":
        bad, log = oracle_check(report)
        report["oracle_check"] = log
        job_of = {"q28_minhash_invariants": "q28_minhash_pairs",
                  "q92_contam_invariants": "q92_cross_contam"}
        bad_jobs = {job_of.get(n, n) for n in bad}
        failed_checks += [f"{n}: DuckDB oracle check failed" for n in bad]
        # a job whose output fails its oracle fails every time it ran
        failed_ops += sum(1 for o in report["ops"]
                          if o["name"] in bad_jobs and not o["failures"])
    attempted = result["attempted"]
    metrics = result["metrics"]
    if args.trace == 0:
        metrics["ok_frac"]["value"] = 1.0 - failed_ops / max(1, attempted)
    correct = failed_ops == 0 and not failed_checks
    final = {"correct": correct, "attempted": attempted, "failed": failed_ops,
             "metrics": metrics}

    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report["final"] = final
    with open(os.path.join(reports, stem + ".json"), "w") as fh:
        json.dump(report, fh, indent=1)
    spans = os.path.join(work, "spans.jsonl")
    if args.trace and os.path.exists(spans):
        shutil.copy(spans, os.path.join(reports, stem + "-spans.jsonl"))

    summarize(args, report, final, failed_checks)
    print(json.dumps(final))


def summarize(args, report, final, failed_checks):
    d = report["disclosure"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"(closed loop, 1 client thread, local[{d['nproc']}])")
    print(f"nproc {d['nproc']}  host load start {d['host_load_start']} "
          f"end {d['host_load_end']}  jvm heap max {d['jvm_max_heap_mb']:.0f} MB")
    print("spark conf: " + ", ".join(f"{k}={v}" for k, v in sorted(d["spark_conf"].items())
                                     if k.startswith("spark.sql") or k == "spark.master"))
    print("inputs: " + json.dumps(d["inputs"]) +
          f"  (generated in {d['input_generation_s']:.1f} s, untimed)")
    if args.trace == 0:
        t = report["tail"]
        print(f"op_tail_s is p{t['percentile']} of {t['samples']} operations")
    else:
        walls = report["pass_walls_untraced_traced_s"]
        print("tracing overhead per pass (traced - untraced wall, s): " +
              ", ".join(f"{t - u:+.3f} ({u:.2f} -> {t:.2f})" for u, t in walls))
        print("self time per layer (s):")
        for name, v in sorted(report["layers"].items()):
            print(f"  {name:18s} calls {v['calls']:4.0f}  total {v['total_s']:8.3f}  "
                  f"self {v['self_s']:8.3f}  spark jobs {v['spark_jobs_s']:8.3f}")
    for name, m in final["metrics"].items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for f in failed_checks:
        print(f"FAILED CHECK: {f}")
    print(f"correct {final['correct']}  attempted {final['attempted']}  failed {final['failed']}")


if __name__ == "__main__":
    main()
