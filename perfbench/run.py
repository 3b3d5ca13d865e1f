"""The layered benchmark: one command per workload run.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 12 --trace 0

Run it from the repository root.  It builds inputs from ``--seed``, sets up
once (JVM and session start, then the warm-up job, which loads and
compiles the rulebase; making and caching the input is excluded), runs
the workload's untimed warm jobs, then runs one timed job after another
until ``--seconds`` have passed, checking every output.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a separate traced run
(spans, Spark's event log, the UDF profiler and an in-process matcher
replay).  The result line is printed whether or not the checks passed; a
human-readable report goes to stderr, and the full record -- host stamp
included -- to ``.perfbench/results/``.  The exit code is 0 only if every
check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

from workloads import CURATION_JOBS

END_TO_END = (
    ("docs_per_s", "docs/s"),
    ("job_s", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)

CURATION = tuple(job for job, _ in CURATION_JOBS)
# layers with spans in the traced half; get_spark's spans fall in set-up,
# which session.start_s covers
LAYERS = ("rulebase", "compiler", "pipeline", "checkpoint", "functions", "action")

PER_LAYER = (
    ("session.start_s", "s"),
    ("rulebase.load_s", "s"), ("rulebase.rules", "count"),
    ("compiler.compile_s", "s"), ("compiler.cohorts", "count"),
    ("compiler.ship_bytes", "bytes"), ("compiler.unpickle_s", "s"),
    ("matcher.rows_per_s", "rows/s"), ("matcher.parsed_ratio", "ratio"),
    ("walker.calls_per_krow", "calls/krow"), ("walker.time_share", "ratio"),
    ("parse.executor_run_s", "s"), ("parse.cpu_s", "s"), ("parse.gc_s", "s"),
    ("parse.python_s", "s"), ("parse.arrow_to_python_bytes", "bytes"),
    ("parse.arrow_from_python_bytes", "bytes"), ("parse.task_max_over_median", "ratio"),
    ("enrich.executor_run_s", "s"), ("aggregate.shuffle_write_bytes", "bytes"),
    ("checkpoint.write_s", "s"), ("checkpoint.lineage_s", "s"),
    ("checkpoint.files_written", "count"), ("checkpoint.bytes_written", "bytes"),
    ("plan.build_s", "s"), ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"),
    *[(f"{job}.{m}", u) for job in CURATION
      for m, u in (("build_s", "s"), ("exec_s", "s"), ("shuffle_bytes", "bytes"),
                   ("gc_s", "s"))],
    ("jvm.gc_s", "s"), ("jvm.peak_heap_mb", "MB"),
    *[(f"selftime.{layer}_s", "s") for layer in LAYERS],
    ("trace.untraced_docs_per_s", "docs/s"), ("trace.traced_docs_per_s", "docs/s"),
    ("trace.overhead_docs_per_s", "docs/s"),
)

REQUIRED = ("liblognorm_spark/__init__.py", "__spark_entry__.py", "tools/check_oracles.py")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input sizes; 'smoke' only proves every path runs")
    return ap.parse_args(argv)


def configure_env(root: str, work: str, heap: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the checkout, and size
    the driver heap for this host.  Must run before pyspark starts a JVM."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = heap
    os.environ.pop("SPARK_GRAFT_ARROW_BATCH", None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark invocation: set-up, timed jobs, checks, metrics."""

    def __init__(self, args, root: str, work: str):
        import host
        from workloads import SIZES, WORKLOADS

        self.args, self.root, self.work = args, root, work
        cls = WORKLOADS[args.workload]
        # Spark task slots: one busy thread per core
        self.slots = max(1, host.cores() // cls.threads_per_task)
        self.wl = cls(args.seed, SIZES[args.size], work, self.slots)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.session_s = 0.0
        self.keep_prefix = os.path.join(work, "result")  # where traces are kept
        self.rss = None  # host.RssSampler, set by main()
        self.job_rss: list[int] = []

    # -- set-up

    def setup(self) -> float:
        """JVM and session start and the warm-up job, which loads and
        compiles the rulebase through the library's own stage functions.
        Making and caching the input in between is not set-up."""
        from liblognorm_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(app=f"perfbench-{self.wl.name}", cpus=self.slots)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setJobDescription("input")
        t1 = time.perf_counter()
        self.wl.prepare(self.spark)
        input_s = time.perf_counter() - t1
        self.spark.sparkContext.setJobDescription("warm-up")
        ok = self.wl.warm_up(self.spark)
        total = time.perf_counter() - t0 - input_s
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append("warm-up job output check failed")
        return total

    # -- timed jobs

    def measure(self, seconds: float, label: str, action, jobs: int = 1) -> list:
        """Jobs one after another until ``seconds`` have passed and at
        least ``jobs`` ran, or the workload's ``max_jobs`` did; stops at
        the first failure."""
        sc = self.spark.sparkContext
        results = []
        t_end = time.perf_counter() + seconds
        last = self.wl.max_jobs or float("inf")
        k = 0
        while len(results) < jobs or (time.perf_counter() < t_end and len(results) < last):
            sc.setJobDescription(f"{label}#{k}")
            self.attempted += 1
            self.rss.window()
            try:
                r = self.wl.job(self.spark, k, action)
                self.job_rss.append(self.rss.window())
            except Exception:  # one failed job fails the run; report it
                self.failed += 1
                self.failures.append(f"{label}#{k}: {traceback.format_exc(limit=3)}")
                break
            results.append(r)
            k += 1
            if not r.ok:
                self.failed += 1
                self.failures.append(f"{label}#{k - 1}: {r.detail}")
                break
        sc.setJobDescription(None)
        return results

    def check(self) -> None:
        self.spark.sparkContext.setJobDescription("check")
        for job, ok, detail in self.wl.check(self.spark):
            self.attempted += 1
            print(f"check {job}: {'ok' if ok else 'FAILED'} ({detail})", file=sys.stderr)
            if not ok:
                self.failed += 1
                self.failures.append(f"check {job}: {detail}")

    # -- traced run

    def traced(self, tracer, results_a) -> dict:
        """Phase B of a traced run: spans and the UDF profiler on, then the
        plan probe, the matcher replay and the event log.  Returns the
        per-layer metrics."""
        import tracing as tr

        spark = self.spark
        mf = spark._jvm.java.lang.management.ManagementFactory

        def gc_ms():
            return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

        uses_matcher = self.wl.rulebase_text() is not None
        for pool in mf.getMemoryPoolMXBeans():
            pool.resetPeakUsage()
        if uses_matcher:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        gc0 = gc_ms()
        since = len(tracer.spans)
        tracer.enabled = True

        def action(name, fn, *args):
            return tracer.call(f"action.{name}", "action", fn, *args)

        results_b = self.measure(self.args.seconds / 2, "traced", action)
        tracer.enabled = False
        n_jobs = max(len(results_b), 1)
        m = {k: 0.0 for k, _ in PER_LAYER}
        m["jvm.gc_s"] = (gc_ms() - gc0) / 1e3 / n_jobs
        heap_peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                        if p.getType().name() == "HEAP")
        if uses_matcher:
            m["parse.python_s"] = tr.python_udf_seconds(
                spark, os.path.join(self.work, "profile")) / n_jobs
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        for layer, s in tracer.self_times(since).items():
            m[f"selftime.{layer}_s"] = s / n_jobs
        m["session.start_s"] = self.session_s
        for layer, key in (("rulebase", "rulebase.load_s"), ("compiler", "compiler.compile_s")):
            m[key] = _median([s.end - s.start for s in tracer.spans if s.layer == layer])

        docs_a = _median([r.docs / r.wall_s for r in results_a])
        docs_b = _median([r.docs / r.wall_s for r in results_b])
        m["trace.untraced_docs_per_s"] = docs_a
        m["trace.traced_docs_per_s"] = docs_b
        m["trace.overhead_docs_per_s"] = docs_b - docs_a

        last_out = results_b[-1].phases.get("out") if results_b else None
        if last_out and os.path.isdir(last_out):
            files = [os.path.join(d, f) for d, _, fs in os.walk(last_out) for f in fs
                     if f.endswith(".parquet")]
            m["checkpoint.files_written"] = len(files)
            m["checkpoint.bytes_written"] = sum(os.path.getsize(f) for f in files)

        m.update(self._plan_metrics(tracer))
        if uses_matcher:
            m.update(tr.matcher_replay(self.wl.rulebase_text(), self.wl.replay_texts(20_000)))

        # the event log is complete once the context stops
        spark.stop()
        self.spark = None
        path = tr.latest_event_log(os.path.join(self.work, "eventlog"))
        shutil.copy(path, self.keep_prefix + ".eventlog")
        log = tr.read_event_log(path)
        m["jvm.peak_heap_mb"] = max(log["peak_heap"], heap_peak) / 2**20
        per_job = [event_log_metrics(log, f"traced#{k}", r) for k, r in enumerate(results_b)]
        for key in per_job[0] if per_job else ():
            if key in m:
                m[key] = _median([d[key] for d in per_job])
        return m

    def _plan_metrics(self, tracer) -> dict:
        """Build the workload's DataFrames once more, outside the timed
        jobs: Python-side build time (without rulebase load and compile)
        and the planning phases of each, summed."""
        import tracing as tr
        from liblognorm_spark.functions.dedup import unpersist_dedup_caches

        out = {"plan.build_s": 0.0}
        for build in self.wl.plan_builders(self.spark):
            first = len(tracer.spans)
            tracer.enabled = True
            df = tracer.call("plan.build", "plan", build)
            tracer.enabled = False
            span = tracer.spans[first]
            nested = sum(s.end - s.start for s in tracer.spans[first + 1:]
                         if s.layer in ("rulebase", "compiler"))
            out["plan.build_s"] += span.end - span.start - nested
            for k, v in tr.planning_phases(df).items():
                out[k] = out.get(k, 0.0) + v
            unpersist_dedup_caches()
        return out


def event_log_metrics(log: dict, desc: str, result) -> dict:
    """One traced job's stage metrics, from the event log."""
    import tracing as tr

    d = tr.stage_metrics(log, desc)
    if "out" in result.phases:  # run_resumable: sink write vs lineage collect
        d["checkpoint.write_s"] = tr.sql_wall(log, desc, True)
        d["checkpoint.lineage_s"] = tr.sql_wall(log, desc, False)
    for job, (build, run, _, _) in result.phases.get("jobs", {}).items():
        j = tr.stage_metrics(log, f"{desc}:{job}")
        d[f"{job}.build_s"] = build
        d[f"{job}.exec_s"] = run
        d[f"{job}.shuffle_bytes"] = j["aggregate.shuffle_write_bytes"]
        d[f"{job}.gc_s"] = j["stages.gc_s"]
    return d


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    # this file's directory is sys.path[0], so its sibling modules import
    # directly; the engine is imported from the checkout root
    sys.path.insert(1, root)
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    heap = host.driver_memory(host.mem_total_mb())
    configure_env(root, run_dir, heap, bool(args.trace))
    stamp = host.stamp(root)
    stamp["driver_memory"] = heap

    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    run = None
    record: dict = {}
    try:
        with host.RssSampler() as rss:
            run = Run(args, root, run_dir)
            run.keep_prefix = os.path.join(results, name)
            run.rss = rss
            metrics = execute(run, args, stamp)
        if not args.trace:
            metrics["peak_rss_mb"] = _median(run.job_rss) / 2**20
        stamp["load_end"] = list(os.getloadavg())
        correct = run.failed == 0
        units = dict(PER_LAYER if args.trace else END_TO_END)
        out = {
            "correct": correct,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "size": args.size, "host": stamp,
                  "failures": run.failures, **out}
        report(record)
    finally:
        if run is not None:
            if run.spark is not None:
                run.spark.stop()
            run.wl.close()
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    return emit(record)


def emit(record: dict) -> int:
    """Print the result line, also when a check failed, and return the
    exit code."""
    for f in record["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if record["correct"] else 1


def stop_jvm(timeout: float = 60) -> None:
    """End the JVM pyspark launched and wait for it: the gateway exits when
    its stdin closes, and its Python workers go with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout)
    SparkContext._gateway = SparkContext._jvm = None


def execute(run: Run, args, stamp: dict) -> dict:
    import tracing as tr

    tracer = tr.Tracer()
    if args.trace:
        tr.install_spans(tracer)
        tracer.enabled = True
    try:
        # one set-up per run, and the median over runs: a second one,
        # restarting the Spark context, would add 6-10 s (a fifth) to a run
        # of a pipeline workload
        setup_s = run.setup()
        stamp["java"] = run.spark._jvm.System.getProperty("java.version")
        stamp["spark_slots"] = run.slots
        tracer.enabled = False

        def action(_name, fn, *a):
            return fn(*a)

        # untimed jobs first: job times keep falling over the first few
        # (JIT, the Python workers' caches).  A traced run warms up at
        # least once, so that its untraced and traced halves compare warm
        # jobs with warm jobs.
        run.measure(0, "warm", action, jobs=max(run.wl.warm_jobs, args.trace))
        run.job_rss.clear()

        if args.trace:
            results_a = run.measure(args.seconds / 2, "untraced", action)
            run.check()
            metrics = run.traced(tracer, results_a)
            tracer.dump(run.keep_prefix + ".spans.json")
            return metrics
        results = run.measure(args.seconds, "timed", action)
        stamp["jobs_s"] = [r.wall_s for r in results]
        stamp["jobs_rss_mb"] = [b / 2**20 for b in run.job_rss]
        run.check()
        job_s = _median([r.wall_s for r in results if r.ok])
        return {
            "docs_per_s": results[0].docs / job_s if job_s else 0.0,
            "job_s": job_s,
            "setup_s": setup_s,
        }
    finally:
        tracer.restore()


def report(record: dict) -> None:
    """Human-readable lines on stderr; stdout keeps only the result line."""
    h = record["host"]
    print(f"host: {h['cores']} cores, MemTotal {h['mem_total_mb']} MB, load "
          f"{h['load_start'][0]:.2f} -> {h.get('load_end', [0])[0]:.2f}, java {h.get('java')}, "
          f"pyspark {h['pyspark']}, git {h['git_rev']}, source {h['source_sha256']}, "
          f"driver heap {h['driver_memory']}", file=sys.stderr)
    frac = record["failed"] / record["attempted"] if record["attempted"] else 0.0
    print(f"{record['workload']} seed={record['seed']} trace={record['trace']}: "
          f"attempted={record['attempted']} failed={record['failed']} "
          f"failed_frac={frac:.4g}", file=sys.stderr)
    for k, v in record["metrics"].items():
        shown = "curation_s" if k == "job_s" and record["workload"] == "corpus_curation" else k
        print(f"  {shown:40s} {v['value']:16.6g} {v['unit']}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
