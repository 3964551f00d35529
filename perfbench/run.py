#!/usr/bin/env python3
"""The repo benchmark: one command that builds the engine from this
checkout, generates a workload's inputs from a seed, runs the workload in
the engine's own local[4] session, checks every output and prints the
metrics. See perfbench/README.md.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 18 --trace 0

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
Lines before it are JSON records of the inputs, checks and extra figures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170  # the whole run, build excepted, ends within this
BUILD_LIMIT_S = 850
HEAP = "3g"

# Each workload: the jobs of one pass, in order (the seed drives the data
# only), the fixture scale, the untimed warm-up passes (until the pass time
# stops falling at 4 cores) and the nominal seconds of one warm pass at 4
# cores, which turns --seconds into a fixed pass count. Why each exists is
# in README.md.
WORKLOADS = {
    "mr_text": {
        "jobs": ["mr_wc_compat", "mr_indexer_compat", "mr_wc", "mr_indexer"],
        "sf": 0.001, "warmups": 2, "pass_s": 3.5,
        "corpus": {"n_files": 32, "total_bytes": 3_000_000},
    },
    "corpus_dedup": {
        "jobs": ["graph_canonical", "dedup_ngram_verify"],
        "sf": 0.02, "warmups": 1, "pass_s": 9.0,
    },
}


def log(record):
    print(json.dumps(record), flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_mtime():
    """Newest modification time of the sources the build compiles."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    times = [os.path.getmtime(r) for r in roots if os.path.isfile(r)]
    for r in roots:
        for d, _, fs in os.walk(r):
            times.extend(os.path.getmtime(os.path.join(d, f)) for f in fs)
    return max(times, default=0.0)


def build():
    """Compile the engine and the benchmark when no build is newer than
    the sources; the classpath file marks a finished build."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        return
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("engine sources not found next to perfbench/ (no build.sbt or src/main/scala)")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {WORK}/build.log", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(lines[-1].strip())
    os.replace(CLASSPATH + ".tmp", CLASSPATH)


def make_inputs(workload, seed, run_dir):
    """Generate the workload's inputs; returns (data dir, corpus dir, files)."""
    w = WORKLOADS[workload]
    data = os.path.join(run_dir, "data")
    gen.tables(data, seed, w["sf"])
    if "corpus" not in w:
        return data, "", None
    files_dir = os.path.join(run_dir, "corpus")
    names = gen.corpus(files_dir, os.path.join(data, "documents.parquet"), seed,
                       w["corpus"]["n_files"], w["corpus"]["total_bytes"])
    texts = []
    for n in names:
        with open(os.path.join(files_dir, n), encoding="utf-8", newline="") as f:
            texts.append((n, f.read()))
    return data, files_dir, texts


def java_cmd(run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    return (["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             "-Dspark.ui.enabled=false",
             "-cp", cp, "perfbench.Main"])


def run_jvm(args, run_dir, deadline):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = java_cmd(run_dir) + [str(a) for a in args] + ["--deadline", f"{deadline - 10:.3f}"]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"benchmark JVM failed ({rc})", 4)


def check_outputs(workload, report, execs, data, texts):
    """Index of each wrong execution -> cause."""
    wrong = {}
    if workload == "mr_text":
        expected = check.fold(texts)
        log({"record": "inputs", "workload": workload, **expected["stats"]})
        for i, e in enumerate(execs):
            if not e["error"]:
                cause = check.check_mr(e["job"], e["out"], expected)
                if cause:
                    wrong[i] = cause
        return wrong
    oracle = check.Oracle(data, report["oracle_sql"])
    for i, e in enumerate(execs):
        if not e["error"]:
            cause = oracle.check(e["job"], e["out"])
            if cause:
                wrong[i] = cause
    return wrong


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    build()
    deadline = time.time() + RUN_LIMIT_S
    w = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_gen = time.time()
        data, corpus, texts = make_inputs(a.workload, a.seed, run_dir)
        t_jvm = time.time()
        jobs = w["jobs"]
        report_path = os.path.join(run_dir, "report.json")
        run_jvm(["--data", data, "--corpus", corpus, "--out", os.path.join(run_dir, "out"),
                 "--warmups", w["warmups"], "--passes", max(1, round(a.seconds / w["pass_s"])),
                 "--trace", a.trace,
                 "--jobs", ",".join(jobs), "--report", report_path],
                run_dir, deadline)
        with open(report_path) as f:
            report = json.load(f)

        t_check = time.time()
        execs = [e for e in report["execs"] if not e["traced"]]
        wrong = check_outputs(a.workload, report, report["execs"], data, texts)
        attempted, failed, causes = metrics.failures(report["execs"], wrong)
        for c in causes:
            log({"record": "failed_job", **c})
        n = len(execs)
        log({"record": "run", "workload": a.workload, "seed": a.seed, "jobs": jobs,
             "passes": len(report["passes"]), "executions": n,
             "pass_s": [(p["end_us"] - p["start_us"]) / 1e6 for p in report["passes"]],
             "pass_cpu_s": [p["cpu_s"] for p in report["passes"]],
             "highest_valid_percentile": metrics.highest_percentile(n),
             "failed_frac": failed / attempted, "warmup_s": report["warmup_s"],
             "setup_samples_s": report["setup_s"], "warm_errors": report["warm_errors"],
             "job_median_s": metrics.job_medians(execs),
             "gen_s": t_jvm - t_gen, "jvm_s": t_check - t_jvm,
             "check_s": time.time() - t_check, "wall_s": time.time() - t_start})
        correct = failed == 0
        if a.trace:
            layers = metrics.layers(report)
            lo, hi = metrics.COVERAGE_BAND
            reconciled = lo <= layers["trace.coverage"] <= hi
            traced = [e for e in report["execs"] if e["traced"]]
            # the spans, stages and scans behind the figures, kept for analysis
            trace_file = os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json")
            shutil.copy(report_path, trace_file)
            log({"record": "layers", **layers,
                 **{f"job.{j}.s": v for j, v in metrics.job_medians(traced).items()},
                 "reconciled": reconciled, "coverage_band": [lo, hi],
                 "storage_after": report["storage_after"],
                 "trace_file": os.path.relpath(trace_file, ROOT)})
            correct = correct and reconciled
            values = declared("per_layer", layers)
        else:
            values = declared("end_to_end", metrics.end_to_end(report, execs))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def declared(kind, values):
    """The metrics BENCHMARK.json declares under ``kind``, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: (values[m["name"]], m["unit"]) for m in spec}


if __name__ == "__main__":
    main()
