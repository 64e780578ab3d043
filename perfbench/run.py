#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--full]

Run from the root of a checkout. The script builds graft from
src/main with the Scala compiler that ships in Spark's jars, builds the
harness in perfbench/harness, writes the fixtures (perfbench/fixtures.py)
and computes the DuckDB oracle answers, all cached in the build directory
($CARGO_TARGET_DIR, default .bench_build). It then runs the workload's
queries in one closed loop against a local[nproc] session and checks
every output: each timed execution's row count against the oracle, each
result's content (written by an untimed check pass) against the oracle,
and each generated pipeline against a plain-Scala answer.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see perfbench/README.md). --full times a workload's whole membership
instead of its timed set, for checking every query's output.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402

# the same default as build.sbt's test settings
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HEAP = "4g"
JVM_TIMEOUT_S = 165
FULL_TIMEOUT_S = 1800
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources(root, ext):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return out


def scalac(srcs, classpath, out):
    """Compile into `out` unless its stamp matches; returns `out`."""
    stamp = digest(srcs, classpath)
    if os.path.exists(os.path.join(out, ".stamp")) and \
            open(os.path.join(out, ".stamp")).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + sorted(srcs)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")
    open(os.path.join(tmp, ".stamp"), "w").write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build(root, bdir):
    graft_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft_src, "graft")):
        fail("no graft sources under src/main/scala; run from the root of a graft checkout")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark's jars not found at {SPARK_JARS}; set SPARK_HOME")
    jars = f"{SPARK_JARS}/*"
    graft = scalac(sources(graft_src, ".scala"), jars, os.path.join(bdir, "graft-classes"))
    harness = scalac(sources(os.path.join(HERE, "harness"), ".scala"),
                     f"{jars}:{graft}:" + open(os.path.join(graft, ".stamp")).read(),
                     os.path.join(bdir, "harness-classes"))
    resources = os.path.join(root, "src", "main", "resources")
    return f"{jars}:{graft}:{harness}:{resources}"


def jvm(classpath, work, args, timeout):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dlog4j.configurationFile={HERE}/log4j2.properties"]
           + ADD_OPENS + ["-cp", classpath, "perfbench.Harness"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"harness exceeded {timeout} s")
    if p.returncode != 0:
        fail(f"harness exited {p.returncode}:\n{out[-20000:]}")
    return out


def module_of(name, rules):
    return next(m for prefix, m in rules if name.startswith(prefix))


def tail_percentile(xs):
    """The highest whole percentile with at least ten samples above it,
    its value and the sample count."""
    s, n = sorted(xs), len(xs)
    p = max(0, math.floor(100 * (n - 10) / n))
    return p, s[max(0, math.ceil(p / 100 * n) - 1)], n


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    bench = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in bench["workloads"]:
        fail(f"unknown workload {a.workload}")
    spec = bench["workloads"][a.workload]
    bdir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)

    t_prep = time.time()
    classpath = build(root, bdir)
    fixtures = oracle.fixtures(bdir)
    catalog = oracle.catalog(bdir, lambda out: jvm(
        classpath, os.path.join(bdir, "catalog-work"), ["mode=catalog", f"out={out}"], 300))
    names = [q for g in spec["groups"].values() for q in g] if a.full else spec["timed"]
    unknown = [n for n in names if not n.startswith(("mr_gen_", "stream_gen_"))
               and n not in catalog["queries"]]
    if unknown:
        fail(f"queries not in SparkEntry.queries: {unknown}")
    nproc = len(os.sched_getaffinity(0))
    answers = oracle.answers(bdir, fixtures, catalog["oracle"],
                             [n for n in names if n in catalog["oracle"]], nproc)
    prep_s = time.time() - t_prep

    work = os.path.join(bdir, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan = os.path.join(work, "plan.tsv")
        with open(plan, "w") as f:
            for n in names:
                f.write(f"{n}\t{module_of(n, bench['modules'])}\n")
        report_path = os.path.join(work, "report.json")
        traces = os.path.join(bdir, "traces")
        os.makedirs(traces, exist_ok=True)
        spans_path = os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")
        results = os.path.join(work, "results")
        jvm(classpath, work, [
            "mode=run", f"workload={a.workload}", f"fixtures={fixtures}", f"work={work}",
            f"plan={plan}", f"results={results}", f"out={report_path}", f"spans={spans_path}",
            f"nproc={nproc}", f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}"],
            FULL_TIMEOUT_S if a.full else JVM_TIMEOUT_S)
        rep = json.load(open(report_path))
        verdicts = oracle.check(results, answers, rep["check"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # every timed execution: no error, the checked content, the oracle's row count
    failed, bad = 0, {}
    for e in rep["execs"]:
        v = verdicts[e["name"]]
        why = e["error"] or (None if e["check"] else "pipeline check") or v["problem"]
        if not why and v["rows"] is not None and e["rows"] != v["rows"]:
            why = f"rows {e['rows']} != {v['rows']}"
        if why:
            failed += 1
            bad.setdefault(e["name"], why)
    for n, why in sorted(bad.items()):
        print(f"perfbench: FAILED {n}: {why}", file=sys.stderr)
    check_s = {c["name"]: c["check_s"] for c in rep["check"]}
    for n in names:
        ts = [e["build_s"] + e["action_s"] for e in rep["execs"] if e["name"] == n]
        print(f"perfbench: {n}\t{median(ts):.3f} s\tcheck pass {check_s[n]:.3f} s\t"
              f"{bad.get(n, 'ok')}", file=sys.stderr)

    untraced = [p for p in rep["passes"] if not p["traced"]]
    times = [e["build_s"] + e["action_s"] for e in rep["execs"] if not e["traced"]]
    # the tail comes from exactly the passes every run makes, so its
    # sample count and percentile do not depend on speed
    first = {p["pass"] for p in untraced[:rep["min_passes"]]}
    pct, tail, n_samples = tail_percentile(
        [e["build_s"] + e["action_s"] for e in rep["execs"] if e["pass"] in first])
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": rep["nproc"],
              "heap_max_mb": round(rep["heap_max_mb"]), "queries": len(names),
              "passes": len(rep["passes"]),
              "check_pass_s": round(rep["check_pass_s"], 3),
              "measure_s": round(rep["measure_s"], 3), "query_tail_pct": pct, "query_samples": n_samples,
              "failed_frac": failed / max(1, len(rep["execs"])), "prep_s": round(prep_s, 3),
              "pass_wall_s": [round(p["wall_s"], 3) for p in rep["passes"]]}
    if a.trace == 0:
        metrics = {
            "setup_s": (rep["setup_s"], "s"),
            "wall_s": (median([p["wall_s"] for p in untraced]), "s"),
            "query_p50_s": (median(times), "s"),
            "query_tail_s": (tail, "s"),
            "heap_peak_mb": (rep["heap_peak_mb"], "MB"),
        }
    else:
        metrics = layer_metrics(rep, list(dict.fromkeys(m for _, m in bench["modules"])))
    out = {"correct": failed == 0, "attempted": len(rep["execs"]), "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    with open(os.path.join(bdir, "results", f"{a.workload}.jsonl"), "a") as f:
        f.write(json.dumps({**detail, **out}) + "\n")
    print(json.dumps(detail))
    print(json.dumps(out))


def layer_metrics(rep, modules):
    """Per-layer metrics: per traced pass sums, then the median over traced passes."""
    traced = sorted({r["pass"] for r in rep["layers"]})
    by_pass = {p: [r for r in rep["layers"] if r["pass"] == p] for p in traced}
    fields = {"build_s": "s", "action_s": "s", "driver_only_s": "s", "between_jobs_s": "s",
              "in_job_s": "s", "jobs": "count", "sql_execs": "count", "stages": "count",
              "tasks": "count", "task_failures": "count", "stage_retries": "count",
              "unattributed_jobs": "count", "exec_run_s": "s", "exec_cpu_s": "s", "gc_s": "s",
              "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "shuffle_fetch_wait_s": "s",
              "spill_mb": "MB", "input_rows": "count", "output_mb": "MB"}
    m = {k: (median([sum(r[k] for r in rows) for rows in by_pass.values()]), u)
         for k, u in fields.items()}
    nproc = rep["nproc"]
    m["tasks_per_job"] = (m["tasks"][0] / max(1.0, m["jobs"][0]), "ratio")
    m["core_busy_frac"] = (m["exec_run_s"][0] / max(1e-9, m["in_job_s"][0] * nproc), "ratio")
    # the three-way split must sum to each query's wall; report the worst residual
    m["split_residual_frac"] = (max(
        (abs(r["split_residual_s"]) / r["wall_s"] for r in rep["layers"] if r["wall_s"] > 0),
        default=0.0), "ratio")
    tp = [p for p in rep["passes"] if p["traced"]]
    for k in ("mr_records_in", "mr_error_records"):
        m[k] = (median([p.get(k, 0) for p in tp]), "count")
    m["mr_run_s"] = (median([p.get("mr_run_s", 0.0) for p in tp]), "s")
    m["run_on_key_p50_s"] = (median([x for p in tp for x in p.get("run_on_key_s", [])]), "s")
    batches = [x for p in tp for x in p.get("stream_batch_s", [])]
    m["stream_batches"] = (len(batches) / max(1, len(tp)), "count")
    m["stream_batch_p50_s"] = (median(batches), "s")
    for mod in modules:
        rows = {p: [r for r in by_pass[p] if r["module"] == mod] for p in traced}
        for k, u in (("wall_s", "s"), ("jobs", "count"), ("between_jobs_s", "s"),
                     ("exec_cpu_s", "s")):
            m[f"{mod}.{k}"] = (median([sum(r[k] for r in rs) for rs in rows.values()]), u)
    m["stored_mb"] = (max(rep["stored_mb"]), "MB")
    walls = {p["pass"]: p["wall_s"] for p in rep["passes"]}
    tw = median([w for p, w in walls.items() if p in traced])
    uw = median([w for p, w in walls.items() if p not in traced])
    m["trace_overhead_frac"] = (tw / uw - 1 if uw > 0 else 0.0, "ratio")
    return m


if __name__ == "__main__":
    main()
