"""Tracing from outside the library: spans around public calls, Spark's
own event log and UDF profiler, and an in-process matcher replay.

Nothing here edits library code.  Spans come from wrapping module
attributes in this process for the length of a traced run; the wrappers
are driver-side only (none of them is captured by a Python UDF that
Spark pickles to its workers).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import pickle
import re
import statistics
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans


class Tracer:
    """Spans are kept in memory and written out when the run ends."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.enabled = False

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        idx = len(self.spans)
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None))
        self._stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper until
        :meth:`restore`."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        target = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(target)
        def wrapper(*args, **kwargs):
            return self.call(name, layer, target, *args, **kwargs)

        setattr(owner, attr, staticmethod(wrapper) if isinstance(owner, type) else wrapper)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per layer: span time minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans[since:]:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans[since:], start=since):
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def install_spans(tracer: Tracer) -> None:
    """Spans around each layer's public functions."""
    from liblognorm_spark import session
    from liblognorm_spark.compiler import compiler
    from liblognorm_spark.functions import clustering, dedup, search, similarity
    from liblognorm_spark.pipeline import checkpoint
    from liblognorm_spark.pipeline import pipeline as PL
    from liblognorm_spark.rulebase.loader import Rulebase

    tracer.wrap(session, "get_spark", "session")
    tracer.wrap(Rulebase, "from_string", "rulebase")
    # pipeline.py imported compile_rulebase by name, so wrap both bindings
    tracer.wrap(compiler, "compile_rulebase", "compiler")
    tracer.wrap(PL, "compile_rulebase", "compiler")
    for fn in ("run_pipeline", "parse_stage", "enrich_stage", "route_stage",
               "aggregate_stage"):
        tracer.wrap(PL, fn, "pipeline")
    tracer.wrap(checkpoint, "run_resumable", "checkpoint")
    for mod, fn in ((dedup, "exact_dedup"), (dedup, "minhash_lsh_pairs"),
                    (dedup, "duplicate_spans"), (search, "bm25_topk"),
                    (clustering, "semdedup"),
                    (similarity, "lsh_topk_batch_adaptive")):
        tracer.wrap(mod, fn, "functions")


# ------------------------------------------------------------ event log


def read_event_log(path: str) -> dict:
    """Per-stage task metrics and job/SQL metadata from one application's
    uncompressed, non-rolling event log."""
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    peak_heap = 0
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "sql": int(props["spark.sql.execution.id"])
                    if props.get("spark.sql.execution.id") else None,
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                st = stages.setdefault(e["Stage ID"], {
                    "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                    "to_python": 0, "from_python": 0, "durations": []})
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                st["durations"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == "data sent to Python workers":
                        st["to_python"] += int(acc.get("Update", 0))
                    elif acc.get("Name") == "data returned from Python workers":
                        st["from_python"] += int(acc.get("Update", 0))
                heap = (e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
                peak_heap = max(peak_heap, heap)
            elif ev.endswith("SQLExecutionStart"):
                plan = e.get("physicalPlanDescription", "")
                sql[e["executionId"]] = {"writes": "InsertIntoHadoopFsRelation" in plan,
                                         "start": e["time"], "end": e["time"]}
            elif ev.endswith("SQLExecutionEnd"):
                if e["executionId"] in sql:
                    sql[e["executionId"]]["end"] = e["time"]
    for sid, st in stages.items():
        job = jobs.get(stage_job.get(sid), {})
        st["desc"] = job.get("desc")
        st["sql"] = job.get("sql")
    return {"stages": stages, "sql": sql, "peak_heap": peak_heap}


def latest_event_log(log_dir: str) -> str | None:
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime) if files else None


def _of_job(desc: str | None, job: str) -> bool:
    """Whether a Spark job description belongs to benchmark job ``job``
    (the curation jobs of a pass are labelled '<pass>:<job>')."""
    return desc == job or (desc or "").startswith(job + ":")


def stage_metrics(log: dict, job: str) -> dict:
    """Split one benchmark job's stages into the Python parse stage(s)
    (those that fed Arrow batches to Python workers) and the rest."""
    mine = [s for s in log["stages"].values() if _of_job(s["desc"], job)]
    parse = [s for s in mine if s["to_python"]]
    rest = [s for s in mine if not s["to_python"]]
    durs = [d for s in parse for d in s["durations"]]
    med = statistics.median(durs) if durs else 0
    return {
        "parse.executor_run_s": sum(s["run_ms"] for s in parse) / 1e3,
        "parse.cpu_s": sum(s["cpu_ns"] for s in parse) / 1e9,
        "parse.gc_s": sum(s["gc_ms"] for s in parse) / 1e3,
        "parse.arrow_to_python_bytes": sum(s["to_python"] for s in parse),
        "parse.arrow_from_python_bytes": sum(s["from_python"] for s in parse),
        "parse.task_max_over_median": max(durs) / med if med else 0.0,
        "enrich.executor_run_s": sum(s["run_ms"] for s in rest) / 1e3,
        "aggregate.shuffle_write_bytes": sum(s["shuffle_write"] for s in mine),
        "stages.gc_s": sum(s["gc_ms"] for s in mine) / 1e3,
    }


def sql_wall(log: dict, job: str, writes: bool) -> float:
    """Wall seconds of one benchmark job's SQL executions that do (or do
    not) write files."""
    ids = {s["sql"] for s in log["stages"].values()
           if _of_job(s["desc"], job) and s["sql"] is not None}
    return sum((log["sql"][i]["end"] - log["sql"][i]["start"]) / 1e3
               for i in ids if i in log["sql"] and log["sql"][i]["writes"] == writes)


# ------------------------------------------------------------ planning


def planning_phases(df) -> dict:
    """Analysis/optimization/planning seconds from the DataFrame's
    QueryPlanningTracker (planning is forced if no action ran yet)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"plan.{ph}_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


# ------------------------------------------------------------ UDF profiler


def python_udf_seconds(spark, dump_dir: str) -> float:
    """Total Python time the ``perf`` UDF profiler recorded, then clear it."""
    import pstats

    spark.profile.dump(dump_dir, type="perf")
    total = 0.0
    for p in glob.glob(os.path.join(dump_dir, "udf_*_perf.pstats")):
        total += pstats.Stats(p).total_tt
        os.remove(p)
    spark.profile.clear(type="perf")
    return total


# ------------------------------------------------------------ matcher replay


def matcher_replay(rb_text: str, texts: list, batch: int = 65536) -> dict:
    """The workload's own rows through ``match_batch`` in this process, on
    one core: the single-threaded baseline, the parsed share, walker calls
    and their share of match time, and what shipping the compiled
    rulebase to a task costs."""
    import cloudpickle
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime import matcher, walker

    crb = compile_rulebase(Rulebase.from_string(rb_text))
    blob = cloudpickle.dumps(crb)
    re.purge()  # a fresh worker has no compiled patterns cached
    t0 = time.perf_counter()
    pickle.loads(blob)
    unpickle_s = time.perf_counter() - t0

    # a Spark task unpickles its own copy of the rulebase, so each timed
    # pass starts from a fresh copy too: the per-rulebase memos (dispatch,
    # fallback) hold only what that pass itself has seen
    series = [pd.Series(texts[i:i + batch], dtype=object) for i in range(0, len(texts), batch)]
    for s in series:
        matcher.match_batch(crb, s)
    times = []
    for _ in range(2):
        fresh = pickle.loads(blob)
        t0 = time.perf_counter()
        outs = [matcher.match_batch(fresh, s) for s in series]
        times.append(time.perf_counter() - t0)
    parsed = sum(int(o["unparsed_data"].isna().sum()) for o in outs)

    # walker entries from the matcher: count only the outermost call
    state = {"depth": 0, "calls": 0, "time": 0.0}
    patched = []

    def counting(owner, attr):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            if state["depth"]:
                return orig(*a, **k)
            state["depth"] += 1
            state["calls"] += 1
            t = time.perf_counter()
            try:
                return orig(*a, **k)
            finally:
                state["time"] += time.perf_counter() - t
                state["depth"] -= 1

        setattr(owner, attr, wrapper)
        patched.append((owner, attr, orig))

    counting(walker, "walk_flat")
    counting(walker, "walk_seq")
    counting(matcher, "normalize_message")
    fresh = pickle.loads(blob)
    try:
        t0 = time.perf_counter()
        for s in series:
            matcher.match_batch(fresh, s)
        traced_s = time.perf_counter() - t0
    finally:
        for owner, attr, orig in reversed(patched):
            setattr(owner, attr, orig)

    n = len(texts)
    return {
        "rulebase.rules": len(crb.rules),
        "compiler.cohorts": len(crb.cohorts),
        "compiler.ship_bytes": len(blob),
        "compiler.unpickle_s": unpickle_s,
        "matcher.rows_per_s": n / statistics.median(times),
        "matcher.parsed_ratio": parsed / n,
        "walker.calls_per_krow": state["calls"] * 1000.0 / n,
        "walker.time_share": state["time"] / traced_s if traced_s else 0.0,
    }
