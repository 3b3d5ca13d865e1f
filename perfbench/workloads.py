"""The three closed-loop workloads: inputs made from the seed, set-up, the
timed job and the output check.

Every workload is driven from one process, one Spark job at a time (a
closed loop: the next job starts only after the previous one returned).

* ``crawl_pipeline`` -- ``run_pipeline`` (parse -> enrich -> route ->
  aggregate) over generated pages in the ``pages_df_n`` shape: 8 message
  kinds, host ``h0`` holds 50% of rows, the routing rulebase plus its
  fallback rule.  The input is cached in memory and the aggregate is
  collected.  The matcher's fold/cohort fast path and the Arrow feed/drain
  do most of the work that grows with the input (about half a job at
  this size; the rest is fixed Spark job overhead); compile, walker and
  sink writes are near zero.
* ``nearmiss_sinks`` -- a rulebase in the ``tools/bench_rulebase_scale.py``
  shape whose tags are drawn from 8 sink names; 20% of rows are
  near-misses (right prefix, invalid IPv4), each distinct so the fallback
  memo cannot absorb them.  Rows go through ``checkpoint.run_resumable``,
  which writes partitioned parquet sinks and the manifest lineage.
  Compile, per-task rulebase shipping, many-cohort dispatch, walker
  fallback and the write/commit path dominate here.
* ``corpus_curation`` -- the training-data jobs in sequence over a
  generated tier in the ``tools/gen_llm_fixtures.py`` shape, each result
  collected (all are small) so the timed pass is also the checked one.
  JVM-only (shuffle, aggregation, codegen); it never calls the Python
  matcher.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field

# input sizes per --size; "full" is what the benchmark measures, "smoke"
# only proves that every path runs end to end
SIZES = {
    "full": {
        "crawl_rows": 300_000,
        "near_rules": 256, "near_rows": 20_000,
        "corpus_docs": 300, "corpus_vecs": 600,
    },
    "smoke": {
        "crawl_rows": 4_000,
        "near_rules": 32, "near_rows": 2_000,
        "corpus_docs": 200, "corpus_vecs": 400,
    },
}


@dataclass
class JobResult:
    """One timed operation: how many input documents it covered, whether
    its output checked out, its wall time, and workload details the traced
    run reads (the sink directory, or per curation job its timings)."""

    docs: int
    ok: bool
    wall_s: float
    detail: str = ""
    phases: dict = field(default_factory=dict)


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


class Workload:
    """What every workload provides; the defaults suit those that need no
    extra step."""

    name = ""
    # untimed jobs between set-up and the timed jobs
    warm_jobs = 1
    # busy threads per Spark task: a task of the pipeline workloads keeps
    # a JVM thread and a Python worker busy, so they run nproc / 2 task
    # slots; more would oversubscribe the cores and time the scheduler
    threads_per_task = 2
    # stop timing after this many jobs even if --seconds have not passed
    max_jobs: int | None = None

    def rulebase_text(self) -> str | None:
        return None

    def prepare(self, spark) -> None:
        """Make the timed jobs' input and cache it; not part of set-up."""

    def warm_up(self, spark) -> bool:
        """The first job, which ends set-up; returns whether its output
        checked out."""
        return self.job(spark, -1, lambda _name, fn, *a: fn(*a)).ok

    def check(self, spark) -> list[tuple[str, bool, str]]:
        """Checks run once after the timed jobs: (name, ok, detail)."""
        return []

    def replay_texts(self, limit: int) -> list:
        return []

    def close(self) -> None:
        pass


# ------------------------------------------------------------ crawl_pipeline


class CrawlPipeline(Workload):
    """``run_pipeline`` over memory-cached generated pages."""

    name = "crawl_pipeline"

    def __init__(self, seed: int, size: dict, work: str, slots: int):
        self.seed, self.size, self.work, self.slots = seed, size, work, slots
        # the seed picks which doc_id range is generated; the kind of a
        # row is doc_id % 8, so every seed yields the same mix with
        # different texts, ips, users and hosts
        self.offset = (seed % 100_000) * 1_000_003
        self.pages = None

    def rulebase_text(self) -> str:
        from liblognorm_spark.pipeline.fixture_rulebase import routing_rulebase

        return routing_rulebase()

    def _pages(self, spark, first: int, n: int):
        """The ``pages_df_n`` synthesis over doc_ids [first, first + n)."""
        from pyspark.sql import functions as F

        from liblognorm_spark.pipeline.pages import PAGES_SELECT

        base = spark.range(first, first + n).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("text"),
            F.element_at(
                F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "ja", "zh")]),
                (F.col("id") % 6 + 1).cast("int"),
            ).alias("lang"),
        )
        base.createOrReplaceTempView("documents")
        return spark.sql(PAGES_SELECT).withColumn(
            "warc_ts", F.timestamp_seconds(F.col("warc_epoch")))

    @staticmethod
    def expected(first: int, n: int) -> dict:
        """Closed-form sink counts: kind = doc_id % 8 decides the sink."""
        sinks = ("ssh", "ftp", "ident", "fw", "kv", "json", "net", "fallback")
        out = {}
        for kind, sink in enumerate(sinks):
            lo = first + ((kind - first) % 8)
            out[sink] = 0 if lo >= first + n else (first + n - 1 - lo) // 8 + 1
        return {k: v for k, v in out.items() if v}

    def prepare(self, spark) -> None:
        from pyspark import StorageLevel

        n = self.size["crawl_rows"]
        # repartition to 4 tasks per slot before caching, like bench.py:
        # the generator's own split count under-parallelizes the match stage
        self.pages = (self._pages(spark, self.offset, n)
                      .repartition(self.slots * 4)
                      .persist(StorageLevel.MEMORY_ONLY))
        self.pages.count()

    def job(self, spark, k: int, action) -> JobResult:
        from liblognorm_spark.pipeline import pipeline as PL

        n = self.size["crawl_rows"]
        t0 = time.perf_counter()
        df = PL.run_pipeline(spark, self.pages)
        rows = action("collect", df.collect)
        wall = time.perf_counter() - t0
        got = {r["sink"]: r["n"] for r in rows}
        want = self.expected(self.offset, n)
        return JobResult(n, got == want, wall, "" if got == want else f"{got} != {want}")

    def plan_builders(self, spark) -> list:
        """Zero-argument builders of the job's DataFrames, for planning."""
        from liblognorm_spark.pipeline import pipeline as PL

        return [lambda: PL.run_pipeline(spark, self.pages)]

    def replay_texts(self, limit: int) -> list:
        return [r["text"] for r in self.pages.select("text").limit(limit).collect()]


# ------------------------------------------------------------ nearmiss_sinks

SINK_NAMES = ("auth", "cron", "daemon", "kern", "mail", "news", "syslog", "user")
_WORDS = ("login", "logout", "sudo", "reload", "rotate", "connect")


def nearmiss_rulebase(n_rules: int, rng: random.Random) -> str:
    """``bench_rulebase_scale`` rules (distinct program-name literals), each
    tagged with one of 8 sink names."""
    lines = ["version=2"]
    for i in range(n_rules):
        tag = SINK_NAMES[rng.randrange(len(SINK_NAMES))]
        lines.append(
            f"rule={tag}:prog{i}[%pid:number%]: action %act:word% from %ip:ipv4%")
    return "\n".join(lines) + "\n"


def nearmiss_rows(n_rows: int, n_rules: int, rng: random.Random):
    """Every 5th row is a near-miss: a rule's literal prefix with an
    invalid, row-unique IPv4 (last octet 256 + j // 256), so the walker
    fallback runs and no memo can absorb it.  Returns (rows, planted)."""
    rows, planted = [], 0
    for j in range(n_rows):
        i = rng.randrange(n_rules)
        word = _WORDS[rng.randrange(len(_WORDS))]
        if j % 5 == 0:
            ip = f"10.{rng.randrange(256)}.{j % 256}.{256 + j // 256}"
            planted += 1
        else:
            ip = f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"
        text = f"prog{i}[{1000 + rng.randrange(9000)}]: action {word} from {ip}"
        rows.append((j, f"https://h{j % 97}.example.com/p/{j}",
                     ("en", "de", "fr", "es", "ja", "zh")[j % 6], text))
    return rows, planted


class NearmissSinks(Workload):
    """``checkpoint.run_resumable`` with a many-rule rulebase and planted
    near-misses."""

    name = "nearmiss_sinks"
    n_chunks = 2

    def __init__(self, seed: int, size: dict, work: str, slots: int):
        self.seed, self.size, self.work, self.slots = seed, size, work, slots
        rng = random.Random(seed)
        self.rb_text = nearmiss_rulebase(size["near_rules"], rng)
        self.rows, self.planted = nearmiss_rows(size["near_rows"], size["near_rules"], rng)
        self.out_root = os.path.join(work, "nearmiss_out")
        self.pages = None
        self.last_out = None

    def rulebase_text(self) -> str:
        return self.rb_text

    def _df(self, spark, rows, parts: int):
        return spark.createDataFrame(
            rows, "doc_id long, url string, lang string, text string").repartition(parts)

    def _check(self, man, n_rows: int, planted: int) -> tuple[bool, str]:
        lineage = [r for rows in man.state.get("lineage", {}).values() for r in rows]
        total = sum(r["n_rows"] for r in lineage)
        unparsed = sum(r["n_unparsed"] for r in lineage)
        done = sorted(man.completed) == list(range(self.n_chunks))
        ok = done and total == n_rows and unparsed == planted
        return ok, "" if ok else (
            f"chunks={sorted(man.completed)} rows={total}/{n_rows} "
            f"unparsed={unparsed}/{planted}")

    def _run(self, spark, df, tag: str):
        # run_resumable runs its own Spark actions (the sink write and the
        # lineage collect), so the whole call is the timed operation
        from liblognorm_spark.pipeline import checkpoint

        out = os.path.join(self.out_root, tag)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        man = checkpoint.run_resumable(spark, df, out, self.n_chunks, self.rb_text)
        return man, out, time.perf_counter() - t0

    def prepare(self, spark) -> None:
        # one partition per slot: every task writes one file per
        # (chunk, sink) it holds, so on 2 slots this is 2 x 2 x 9 = 36
        # sink files a job
        self.pages = self._df(spark, self.rows, self.slots).persist()
        self.pages.count()

    def job(self, spark, k: int, action) -> JobResult:
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        man, out, wall = self._run(spark, self.pages, f"job{k}")
        self.last_out = out
        ok, detail = self._check(man, len(self.rows), self.planted)
        return JobResult(len(self.rows), ok, wall, detail, {"out": out})

    def plan_builders(self, spark) -> list:
        # the DataFrame run_resumable writes, built the same way
        from liblognorm_spark.pipeline import pipeline as PL

        return [lambda: PL.route_stage(PL.enrich_stage(
            spark, PL.parse_stage(spark, self.pages, self.rb_text)))]

    def replay_texts(self, limit: int) -> list:
        return [r[3] for r in self.rows[:limit]]

    def close(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)


# ------------------------------------------------------------ corpus_curation

# each curation job is a queries() entry with a DuckDB oracle_sql() twin
CURATION_JOBS = (
    ("exact_dedup", "dedup_exact"),
    ("minhash_lsh_pairs", "minhash_pairs"),
    ("duplicate_spans", "duplicate_spans"),
    ("bm25_topk", "bm25"),
    ("semdedup", "semdedup"),
    ("lsh_topk_batch_adaptive", "ann_batch_adaptive"),
)


def _vocab_word(rank: int, plant: list) -> str:
    # the first ranks are the bm25 query's own terms, so the search job
    # scores real matches instead of an all-zero corpus
    return plant[rank] if rank < len(plant) else "w" + hashlib.md5(
        str(rank).encode()).hexdigest()[:6]


def write_corpus(out: str, n_docs: int, n_vecs: int, seed: int) -> None:
    """A tier in the ``tools/gen_llm_fixtures.py`` shape: documents of 120
    Zipf-ish vocabulary words where every 37th doc repeats its
    predecessor's first 30 words and every 53rd doc copies the text of
    doc d-2 verbatim; 64-float embeddings in [-1, 1) where every 41st
    vector is a nudged copy of its predecessor."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    rng = np.random.default_rng(seed)
    plant = list(E.BM25_TERMS)
    vocab = [_vocab_word(r, plant) for r in range(50_000)]
    ranks = np.minimum(rng.zipf(1.3, size=(n_docs, 120)) - 1, len(vocab) - 1)
    ranks[:, 1::2] = rng.integers(0, len(vocab), size=(n_docs, 60))
    texts = []
    for d in range(n_docs):
        words = [vocab[r] for r in ranks[d]]
        if d % 53 == 0 and d >= 2:
            words = texts[d - 2].split(" ")
        elif d % 37 == 0 and d > 0:
            words[:30] = texts[d - 1].split(" ")[:30]
        texts.append(" ".join(words))
    langs = ("en", "de", "fr", "es", "ja", "zh")
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([langs[d % 6] for d in range(n_docs)]),
    })
    vecs = rng.uniform(-1.0, 1.0, size=(n_vecs, 64)).astype(np.float32)
    for v in range(41, n_vecs, 41):
        vecs[v] = vecs[v - 1] + (np.arange(64) % 7).astype(np.float32) * 1e-4
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    os.makedirs(out, exist_ok=True)
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))


class CorpusCuration(Workload):
    """The six curation jobs in sequence, each result collected."""

    name = "corpus_curation"
    # a pass is long and mostly fixed Spark job overhead, so exactly one
    # pass is timed, right after set-up
    warm_jobs = 0
    max_jobs = 1
    # JVM-only: a task is one busy thread
    threads_per_task = 1

    def __init__(self, seed: int, size: dict, work: str, slots: int):
        self.seed, self.size, self.work, self.slots = seed, size, work, slots
        self.tier = os.path.join(work, "corpus", f"seed{seed}")
        write_corpus(self.tier, size["corpus_docs"], size["corpus_vecs"], seed)
        self.last_pass: dict = {}

    def _pass(self, spark, action) -> dict:
        """One pass of the job sequence; returns per job (build_s, exec_s,
        rows, columns).  Each job's Spark jobs carry '<description>:<job>'.
        The result is collected: every job's output is small, and the
        rows are what the oracle check compares."""
        import __spark_entry__ as E
        from liblognorm_spark.functions.dedup import unpersist_dedup_caches

        sc = spark.sparkContext
        label = sc.getLocalProperty("spark.job.description") or "curation"
        qs = E.queries()
        out = {}
        for job, qname in CURATION_JOBS:
            sc.setJobDescription(f"{label}:{job}")
            df, build = _timed(qs[qname], spark, self.tier)
            rows, run = _timed(action, job, df.collect)
            unpersist_dedup_caches()
            out[job] = (build, run, [tuple(r) for r in rows], df.columns)
        sc.setJobDescription(label)
        return out

    def warm_up(self, spark) -> bool:
        """The first job of the sequence; the timed pass pays the JIT and
        codegen of the other five, since a pass is too long to repeat."""
        import __spark_entry__ as E
        from liblognorm_spark.functions.dedup import unpersist_dedup_caches

        E.queries()["dedup_exact"](spark, self.tier).collect()
        unpersist_dedup_caches()
        return True

    def job(self, spark, k: int, action) -> JobResult:
        t0 = time.perf_counter()
        per_job = self._pass(spark, action)
        wall = time.perf_counter() - t0
        self.last_pass = per_job
        return JobResult(self.size["corpus_docs"], True, wall, "", {"jobs": per_job})

    def check(self, spark) -> list[tuple[str, bool, str]]:
        """The last pass's rows per job against its DuckDB ``oracle_sql()``
        twin, compared with ``tools/check_oracles.py``'s value hash."""
        import duckdb

        import __spark_entry__ as E
        from tools.check_oracles import value_hash

        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.tier, f"{t}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            out = []
            for job, qname in CURATION_JOBS:
                _, _, srows, scols = self.last_pass[job]
                res = con.execute(oracles[qname])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                sh = value_hash(srows, [c.lower() for c in scols])
                oh = value_hash(orows, [c.lower() for c in ocols])
                ok = len(srows) == len(orows) and sh == oh
                out.append((job, ok, f"{len(srows)} rows" if ok else
                            f"spark {len(srows)} rows {sh} != duckdb {len(orows)} rows {oh}"))
            return out
        finally:
            con.close()

    def plan_builders(self, spark) -> list:
        import __spark_entry__ as E

        qs = E.queries()
        return [functools.partial(qs[q], spark, self.tier) for _, q in CURATION_JOBS]

    def close(self) -> None:
        shutil.rmtree(os.path.join(self.work, "corpus"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (CrawlPipeline, NearmissSinks, CorpusCuration)}
