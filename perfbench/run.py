#!/usr/bin/env python3
"""Benchmark of the weekly DAG and the query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repo root. The first run builds the program and the harness
from source (sbt, offline); inputs are generated from the seed and cached
under `.perfbench/`, outside every timed region. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. See
perfbench/README.md for the workloads and every metric.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(HARNESS, "target", "classpath.txt")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark's own directory clean

import checks  # noqa: E402
import tables  # noqa: E402

CPUS = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
JVM_TIMEOUT = 170

# scrape_weekly: a 50k-link store the scraper built in weeks 0 and 1 from the
# base seed (once per build); the measured run scrapes week 2, whose 5k new
# listings come from --seed (and 5k earlier ones disappear)
SCRAPE = {"active": 50000, "churn": 5000, "week": 2, "base": 42}
# train_weekly: one fixed store of properties in the declared shape, so the
# clean row count and the model winner can be checked against recorded values
TRAIN_PROPERTIES = 3000
TRAIN_DATA_SEED = 42
# queries: the registry queries and the scale of their tables
QUERY_SF = 0.02
QUERY_DATA_SEED = 42
QUERIES = ("q60_immo_pipeline", "q137_pagerank", "q190_spearman", "q246_prefix_jaccard",
           "q289_contam_index_add")
QUERY_WORKLOAD = f"queries_sf{QUERY_SF}"

JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def _build_inputs():
    pats = ["src/main/**/*", "build.sbt", "project/*.sbt", "project/*.properties",
            "perfbench/harness/src/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/*.properties"]
    files = sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                   if os.path.isfile(f))
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("program sources (src/main/scala) not found next to perfbench/")
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = _build_inputs()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    log("building program and harness (sbt, offline)")
    # cached stores were written by the old program's scraper and parser
    shutil.rmtree(os.path.join(STATE, "cache"), ignore_errors=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in os.environ:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=840)
    if res.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(res.stdout[-4000:])
        raise BenchError("sbt build failed")
    os.makedirs(STATE, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ---- processes -----------------------------------------------------------------

def jvm(mode, wd, trace=False, **kv):
    """Run one harness process to completion and return its JSON report."""
    os.makedirs(wd, exist_ok=True)
    tmp = os.path.join(wd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    report = os.path.join(wd, f"{mode}.report.json")
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.eventLog.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    if trace:
        cmd += ["-Dspark.extraListeners=graft.jobs.perfbench.TraceListener",
                "-Dspark.sql.queryExecutionListeners=graft.jobs.perfbench.TraceQueryListener"]
    cmd += ["-cp", cp, "graft.jobs.perfbench.Main", mode, f"report={report}",
            f"trace={1 if trace else 0}"]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_MASTER", None)  # JobSession would prefer it to local[CPUS]
    cmd += [f"t0={time.time_ns()}"] + [f"{k}={v}" for k, v in kv.items()]
    started = time.monotonic()
    with open(os.path.join(wd, f"{mode}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=wd, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"{mode} timed out after {JVM_TIMEOUT}s")
    log(f"{mode} process: {time.monotonic() - started:.1f}s")
    if rc != 0 or not os.path.exists(report):
        with open(os.path.join(wd, f"{mode}.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise BenchError(f"{mode} exited with {rc}")
    with open(report) as f:
        return json.load(f)


# ---- workloads ------------------------------------------------------------------

def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def median(xs):
    return statistics.median(xs)


class Run:
    """What one benchmark run measured and checked."""

    def __init__(self):
        self.setups = []       # launch -> session ready and inputs staged, per process
        self.checks = {}       # "<execution>/<check>" -> (ok, detail)
        self.ops = 0
        self.metrics = {}

    def check(self, execution, name, ok, detail):
        """Record one check of one execution; every execution counts."""
        key = f"{execution}/{name}"
        assert key not in self.checks, f"check {key} recorded twice"
        self.checks[key] = (ok, detail)

    def take_checks(self, execution, report):
        for name, c in report.get("checks", {}).items():
            self.check(execution, name, c["ok"], c["detail"])


def cached(kind, key, make):
    """A seed-keyed input directory, built once by `make(dir)`. The building
    process stages no inputs, so its set-up time is not a sample."""
    d = os.path.join(STATE, "cache", kind, key)
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        make(d)
        shutil.rmtree(os.path.join(d, "build"), ignore_errors=True)
        open(os.path.join(d, "_READY"), "w").close()
    return d


def parquet_rows(path):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=[]).num_rows


def run_scrape(args, run_dir):
    run = Run()
    key = "-".join(str(SCRAPE[k]) for k in ("base", "active", "churn", "week"))
    store = os.path.join(cached("scrape", key, lambda d: jvm(
        "scrape-store", os.path.join(d, "build"), seed=SCRAPE["base"],
        dir=os.path.join(d, "store"), **SCRAPE)), "store")

    def week(name, trace):
        wd = os.path.join(run_dir, name)
        rep = jvm("scrape", wd, trace=trace, seed=args.seed, store=store, work=wd, **SCRAPE)
        run.setups.append(rep["setup_s"])
        run.ops += 2  # PreflightJob.run, ScrapeJob.run
        run.take_checks(name, rep)
        return rep

    reps = []
    deadline = time.monotonic() + args.seconds
    while not reps or time.monotonic() < deadline:
        reps.append(week(f"it{len(reps)}", False))
    handoff = reps[0]["handoff_export"]
    log("known defect probe, export over the store the scrape wrote: "
        + ("ok" if reps[0]["handoff_export_ok"] else f"FAILS: {handoff}"))
    s = {m: median([r[m] for r in reps]) for m in
         ("wall_s", "cpu_s", "peak_heap_mb", "preflight_s", "task.scrape_s", "task.store_mb")}
    run.metrics = {"setup_s": median(run.setups), "wall_s": s["wall_s"], "cpu_s": s["cpu_s"],
                   "peak_heap_mb": s["peak_heap_mb"],
                   "step_geomean_s": geomean([s["preflight_s"], s["task.scrape_s"]])}
    if args.trace:
        t = week("traced", True)
        scopes = t["scopes"]
        spans = ("jobs.preflight", "ingest.sitemap", "ingest.link_diff", "ingest.fetch_parse",
                 "jobs.append_dedup", "jobs.overwrite_atomic")
        run.metrics.update(span_metrics(t, spans))
        run.metrics.update(spark_metrics(scopes, ("scrape",)))
        run.metrics.update({
            "jobs.session_build_s": t["span.jobs.session_build"],
            "jobs.bytes_written_mb": s["task.store_mb"],
            "jobs.write_amp": s["task.store_mb"] / t["new_rows_mb"],
            "ingest.pending": t["ingest.pending"],
            "ingest.parsed_ok_ratio": t["ingest.parsed_ok_ratio"],
            "task.scrape_s": s["task.scrape_s"], "task.store_mb": s["task.store_mb"],
            "known_defect.handoff_export_ok": reps[0]["handoff_export_ok"],
            "trace.coverage.scrape": sum(t.get(f"span.{k}", 0.0) for k in spans)
            / scopes["scrape"]["wall_s"],
            "trace.overhead_s": t["wall_s"] - s["wall_s"]})
    return run


def train_tasks(run, run_dir, name, store, tasks, trace):
    wd = os.path.join(run_dir, name)
    reps = {}
    for task in tasks:
        reps[task] = jvm(task, wd, trace=trace, store=store, work=wd)
        run.setups.append(reps[task]["setup_s"])
        run.ops += 1
    return wd, reps


def run_train(args, run_dir):
    run = Run()
    store = os.path.join(cached("train", f"seed{TRAIN_DATA_SEED}-{TRAIN_PROPERTIES}",
                                lambda d: jvm("train-store", os.path.join(d, "build"),
                                              seed=TRAIN_DATA_SEED, n=TRAIN_PROPERTIES,
                                              dir=os.path.join(d, "store"))), "store")
    if args.trace:
        return traced_train(run, run_dir, store)
    its = []
    deadline = time.monotonic() + args.seconds
    while not its or time.monotonic() < deadline:
        name = f"it{len(its)}"
        wd, reps = train_tasks(run, run_dir, name, store, ("export", "preprocess"), False)
        checks.clean(run, name, wd, EXPECTED_TRAIN)
        its.append(reps)
    log("train tasks: " + ", ".join(f"{t} {r['wall_s']:.2f}s" for t, r in its[0].items()))

    def med(f):
        return median([f(reps) for reps in its])
    task_s = {t: med(lambda r: r[t]["wall_s"]) for t in ("export", "preprocess")}
    run.metrics = {"setup_s": median(run.setups),
                   "wall_s": med(lambda r: sum(x["wall_s"] for x in r.values())),
                   "cpu_s": med(lambda r: sum(x["cpu_s"] for x in r.values())),
                   "peak_heap_mb": med(lambda r: max(x["peak_heap_mb"] for x in r.values())),
                   "step_geomean_s": geomean(list(task_s.values()))}
    return run


def traced_train(run, run_dir, store):
    """One traced iteration of all three tasks. The model task runs only
    here: its CV grid is ~80 s of per-job floor on 4 cores, more than a
    whole untraced run may take. A traced run does no untraced iteration,
    which would take it past the 180 s a run may last on a slow host, so
    the task times are the traced ones and the tracing overhead is the
    sampler's own stack-read time (README)."""
    wd, t = train_tasks(run, run_dir, "traced", store, ("export", "preprocess", "model"), True)
    checks.clean(run, "traced", wd, EXPECTED_TRAIN)
    reproducible, detail = checks.leaderboard(run, "traced", wd, EXPECTED_TRAIN)
    if not reproducible:
        log(f"model selection differs from the recorded run on the same store: {detail}")
    scopes = {k: v for rep in t.values() for k, v in rep["scopes"].items()}
    span_names = {
        "export": ("io.export_write",),
        "preprocess": ("io.export_read", "preprocessing.clean", "preprocessing.prune",
                       "preprocessing.geocode", "preprocessing.enrich",
                       "preprocessing.encode", "preprocessing.write_parquet",
                       "preprocessing.write_csv"),
        "model": ("ml.feature_select", "ml.select_best", "ml.save")}
    for task, names in span_names.items():
        run.metrics.update(span_metrics(t[task], names))
        run.metrics[f"trace.coverage.{task}"] = (
            sum(t[task].get(f"span.{k}", 0.0) for k in names) / scopes[task]["wall_s"])
        run.metrics[f"task.{task}_s"] = t[task]["wall_s"]
    run.metrics.update(spark_metrics(scopes, ("export", "preprocess", "model")))
    run.metrics.update({
        "jobs.session_build_s": median([r["span.jobs.session_build"] for r in t.values()]),
        "io.csv_mb": t["export"]["io.csv_mb"],
        "preprocessing.rows_kept_ratio": (parquet_rows(os.path.join(wd, "clean", "clean.parquet"))
                                          / parquet_rows(store)),
        "ml.fits": scopes["model"]["fits"],
        "ml.winner_reproducible": int(reproducible),
        "trace.overhead_s": sum(r.get("span.trace.sampler", 0.0) for r in t.values())})
    return run


def query_data():
    """The query tables: one fixed dataset, so their expected results can be
    recorded once against the DuckDB oracle (see checks.py)."""
    data = os.path.join(STATE, "cache", "queries", f"sf{QUERY_SF}-seed{QUERY_DATA_SEED}")
    if not os.path.exists(os.path.join(data, "_READY")):
        shutil.rmtree(data, ignore_errors=True)
        tables.generate(data, QUERY_DATA_SEED, QUERY_SF)
        open(os.path.join(data, "_READY"), "w").close()
    return data


def run_queries(args, run_dir):
    run = Run()
    data = query_data()

    def one_pass(name, trace):
        wd = os.path.join(run_dir, name)
        rep = jvm("queries", wd, trace=trace, data=data, results=os.path.join(wd, "results"),
                  queries=",".join(QUERIES))
        run.setups.append(rep["setup_s"])
        run.ops += len(QUERIES)
        checks.queries(run, name, os.path.join(wd, "results"), QUERIES, EXPECTED_QUERIES)
        return rep

    rep = one_pass("pass", False)
    log("queries: " + ", ".join(f"{q} {rep['query_s'][q]:.2f}s" for q in QUERIES))
    qs = rep["query_s"]
    run.metrics = {"setup_s": median(run.setups), "wall_s": sum(qs.values()),
                   "cpu_s": rep["cpu_s"], "peak_heap_mb": rep["peak_heap_mb"],
                   "step_geomean_s": geomean(list(qs.values()))}
    if args.trace:
        t = one_pass("traced", True)
        scopes = t["scopes"]
        names = tuple(f"q.{q}" for q in QUERIES)
        run.metrics.update(spark_metrics(scopes, names, per_task=False))
        for q in QUERIES:
            run.metrics[f"q.{q}.s"] = qs[q]
            run.metrics[f"q.{q}.jobs"] = scopes[f"q.{q}"]["jobs"]
        run.metrics[f"spark.queries.jobs"] = sum(scopes[n]["jobs"] for n in names)
        run.metrics[f"spark.queries.driver_gap_s"] = sum(
            scopes[n]["wall_s"] - scopes[n]["job_covered_s"] for n in names)
        run.metrics["jobs.session_build_s"] = t["span.jobs.session_build"]
        run.metrics["trace.coverage.queries"] = sum(scopes[n]["wall_s"] for n in names) / t["wall_s"]
        run.metrics["trace.overhead_s"] = t["wall_s"] - rep["wall_s"]
    return run


EXPECTED_DIR = os.path.join(HERE, "expected")
EXPECTED_QUERIES = os.path.join(EXPECTED_DIR, f"{QUERY_WORKLOAD}.json")
EXPECTED_TRAIN = os.path.join(EXPECTED_DIR, "train_weekly.json")
WORKLOAD_RUNNERS = {"scrape_weekly": run_scrape, "train_weekly": run_train,
                    QUERY_WORKLOAD: run_queries}


# ---- per-layer metrics ----------------------------------------------------------

SPARK_SUMS = ("jobs", "stages", "tasks", "planning_s", "job_covered_s", "shuffle_write_mb",
              "shuffle_read_mb", "spill_mb", "executor_run_s", "executor_cpu_s", "gc_s")


def span_metrics(rep, names):
    """`<layer>.<step>_s` from the span sums of one traced process."""
    return {f"{n}_s": rep.get(f"span.{n}", 0.0) for n in names}


def spark_metrics(scopes, names, per_task=True):
    """spark.* totals over the given scopes, plus jobs and driver gap per task."""
    out = {f"spark.{k}": sum(scopes[n][k] for n in names) for k in SPARK_SUMS}
    out["spark.driver_gap_s"] = sum(scopes[n]["wall_s"] - scopes[n]["job_covered_s"]
                                    for n in names)
    out["spark.peak_exec_mem_mb"] = max(scopes[n]["peak_exec_mem_mb"] for n in names)
    if per_task:
        for n in names:
            out[f"spark.{n}.jobs"] = scopes[n]["jobs"]
            out[f"spark.{n}.driver_gap_s"] = scopes[n]["wall_s"] - scopes[n]["job_covered_s"]
    return out


def machine_ref_s():
    """A fixed pure-Python CPU kernel (median of three), to show machine drift
    between sets of runs. Nothing in the repo touches it; never normalise by it."""
    def kernel():
        t0 = time.perf_counter()
        acc = 0
        for i in range(1500000):
            acc = (acc * 31 + i) % 1000003
        return time.perf_counter() - t0
    return median([kernel() for _ in range(3)])


# ---- entry ----------------------------------------------------------------------

def bench(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    run_dir = os.path.join(STATE, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        run = WORKLOAD_RUNNERS[args.workload](args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        run.metrics["machine.ref_s"] = machine_ref_s()
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    # a layer the workload does not run reports 0
    metrics = {m["name"]: {"value": run.metrics.get(m["name"], 0.0) if args.trace
                           else run.metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    failed = sorted(name for name, (ok, _) in run.checks.items() if not ok)
    for name in failed:
        log(f"check {name} FAILED: {run.checks[name][1]}")
    log(f"{len(run.checks) - len(failed)}/{len(run.checks)} output checks passed")
    return {"correct": not failed, "attempted": run.ops + len(run.checks),
            "failed": len(failed), "metrics": metrics}


def record_queries():
    """Re-record expected/<queries workload>.json: one pass, each result
    compared with its DuckDB oracle, written only if all match."""
    build()
    run_dir = os.path.join(STATE, "runs", "record")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = query_data()
    jvm("queries", run_dir, data=data, results=os.path.join(run_dir, "results"),
        queries=",".join(QUERIES))
    oracle = os.path.join(run_dir, "oracle.json")
    jvm("oracle-sql", run_dir, out=oracle, queries=",".join(QUERIES))
    os.makedirs(os.path.dirname(EXPECTED_QUERIES), exist_ok=True)
    checks.record(data, os.path.join(run_dir, "results"), oracle, QUERIES, EXPECTED_QUERIES)
    shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOAD_RUNNERS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-queries", action="store_true",
                    help="re-record the query expectations against the DuckDB oracle")
    args = ap.parse_args()
    if args.record_queries:
        record_queries()
        return 0
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    try:
        result = bench(args)
    except (BenchError, subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        log(f"error: {type(e).__name__}: {e}")
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
