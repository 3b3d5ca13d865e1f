"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline (JVM-side expressions —
no Python in the hot path); the LSH-bucketed variants are the scale
path: at 100 TB the bucket filter or join prunes candidates to
O(rows/2^nplanes) per bucket.  build_ann_index() persists the bucketing
as a partition column so queries prune at SCAN time (partition pruning,
no per-query bucket computation over the corpus).

Every ANN entry point is a thin wrapper over four shared parts:

* ``_bucketed`` — the one corpus bucketing: each row once per plane
  table, keyed (tbl, bkt);
* a probe plan ``{tbl: sorted buckets}`` — fixed-radius
  (``_fixed_probe_plan``) or histogram-budgeted (``adaptive_probe_plan``);
* ``_scan_candidates`` — a LITERAL query: one OR-filter over the
  computed buckets, or over an index's (tbl, bkt) partition columns;
* ``_batch_topk`` — a query FRAME: broadcast (tbl, bkt) equi-join,
  dedup per (query, doc), scoring, per-query top-k window.

All arithmetic is double-precision with explicit element casts and
sequential (fold-left) summation, so the DuckDB oracles — which use
list_reduce over ::DOUBLE[] — produce bit-identical values.  Expressions
are built as SQL strings (one py4j call each instead of one per literal).
"""

from __future__ import annotations

import hashlib
import math
from functools import reduce
from operator import or_

from pyspark.sql import functions as F

#: lsh_topk_batch_adaptive collects the query frame for driver-side probe
#: planning; this bounds that collect (~50k queries x 64 doubles ≈ 26 MB)
MAX_ADAPTIVE_BATCH_QUERIES = 50_000


def _sql_f(v: float) -> str:
    """A Python float as a Spark SQL DOUBLE literal (repr round-trips the
    exact double; D keeps the parser off DECIMAL).  NaN and ±inf have no
    literal form and would score every row as NULL or NaN, so they are
    rejected here, where every vector literal passes."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"non-finite vector value {f!r}: query and centroid "
                         "vectors must be finite")
    return f"{f!r}D"


#: above this many unrolled terms per EXPRESSION TREE, fall back to the
#: interpreted HOF fold: whole-stage codegen compilation cost grows
#: super-linearly with generated-source size (measured: a k=64 x dim=64
#: unrolled centroid array costs ~40 s of janino per plan, while the k=8
#: oracle shape compiles in milliseconds and runs 10-50x faster than the
#: fold).  Values are identical on both paths, so this is purely a
#: compile-vs-execute trade.
UNROLL_MAX_TERMS = 2048


def _dot_fold_sql(vec_sql: str, values) -> str:
    """Fold form of the literal dot (interpreted HOF; used above
    UNROLL_MAX_TERMS where unrolled codegen compilation dominates)."""
    arr = "array(" + ", ".join(_sql_f(v) for v in values) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot_const_sql(vec_sql: str, values) -> str:
    """Dot of a vector column against literal coefficients, as an
    UNROLLED left-associative sum: (v[0]*c0) + (v[1]*c1) + ...

    Bit-identical to _dot_fold_sql — a left-assoc `+` chain adds in
    exactly the fold's order, and 0.0 + x == x for every x the
    downstream integer scaling can distinguish — but, unlike the
    aggregate/zip_with HigherOrderFunction (which Spark always
    interprets), plain Add/Multiply/GetArrayItem chains run inside
    whole-stage CODEGEN.  Measured on the 200k-vector tier this is the
    difference between minutes and seconds for every cosine-shaped
    operator.  Requires len(vec) == len(values): the fold null-padded a
    longer vector to NULL, the unrolled chain only reads the first
    len(values) elements — every caller already pins dim."""
    return "(" + " + ".join(
        f"(cast({vec_sql}[{i}] as double) * {_sql_f(v)})"
        for i, v in enumerate(values)
    ) + ")"


def _norm_const_sql(vec_sql: str, dim: int) -> str:
    """Euclidean norm of a vector column, unrolled like _dot_const_sql
    (squares are never -0.0, so even the signed-zero corner agrees with
    a fold).  Same pinned-dim contract: a vector SHORTER than dim
    (including an empty array) reads out-of-range elements as NULL and
    the norm becomes NULL, where a fold would return the partial sum (and
    0.0 for empty) — callers must filter/validate vector length upstream,
    as every operator here documents."""
    sq = " + ".join(
        f"(cast({vec_sql}[{i}] as double) * cast({vec_sql}[{i}] as double))"
        for i in range(dim)
    )
    return f"sqrt({sq})"


def _dot_pair_sql(a_sql: str, b_sql: str, dim: int) -> str:
    """Unrolled dot of two vector COLUMNS (codegen; bit-identical to a
    left fold for dim-length vectors)."""
    return "(" + " + ".join(
        f"(cast({a_sql}[{i}] as double) * cast({b_sql}[{i}] as double))"
        for i in range(dim)
    ) + ")"


def _cos_quot_sql(dot_sql: str, na_sql: str, nb_sql: str,
                  guard_b: bool = True) -> str:
    """The one cosine quotient, ``dot / (na * nb)``, guarded to 0.0 when a
    norm is zero.  ``guard_b=False`` leaves ``nb`` unguarded: the caller
    passes a driver-side norm literal it has already checked."""
    zero = "cast(0.0 as double)"
    guard = f"{na_sql} = {zero}"
    if guard_b:
        guard = f"({guard}) OR ({nb_sql} = {zero})"
    return f"(CASE WHEN {guard} THEN {zero} ELSE {dot_sql} / ({na_sql} * {nb_sql}) END)"


def cos_pair_sql(a_sql: str, b_sql: str, dim: int) -> str:
    """Cosine of two dim-length vector columns, 0.0 when either norm is
    zero."""
    return _cos_quot_sql(_dot_pair_sql(a_sql, b_sql, dim),
                         _norm_const_sql(a_sql, dim), _norm_const_sql(b_sql, dim))


def cos_const_sql(vec_sql: str, query_vec) -> str:
    """Cosine of a vector column against a literal query, with the query
    norm folded in driver-side: Python's sum() folds left from 0 exactly
    like the SQL fold and math.sqrt is IEEE, so norm(q) is the same
    double and the quotient is bit-identical to cos_pair_sql."""
    qn = math.sqrt(sum(float(v) * float(v) for v in query_vec))
    if qn == 0.0:
        return "cast(0.0 as double)"
    return _cos_quot_sql(_dot_const_sql(vec_sql, query_vec),
                         _norm_const_sql(vec_sql, len(query_vec)), _sql_f(qn),
                         guard_b=False)


def _hyperplanes(dim: int, nplanes: int, seed: str = "lls-hp"):
    """Deterministic pseudo-random hyperplanes from md5 — engine-independent
    and stable across runs (no RNG state)."""
    planes = []
    for p in range(nplanes):
        vals = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).hexdigest()
            # map 8 hex chars to [-1, 1)
            vals.append(int(h[:8], 16) / 2**31 - 1.0)
        n = math.sqrt(sum(v * v for v in vals)) or 1.0
        planes.append([v / n for v in vals])
    return planes


def bucket_sql(vec_sql: str, planes, fold: bool | None = None) -> str:
    """Sign-pattern bucket id (0..2^len(planes)-1) of a vector column
    against an explicit plane list: the int sum of 2^p over planes p with
    a non-negative dot, built as one string (the multi-table builders
    were spending seconds of driver time on per-element F.lit py4j
    calls).  Elements are cast to double so the dot matches the DuckDB
    twin exactly.

    ``fold`` picks the dot form; None auto-selects: unrolled codegen for
    this bucket alone when it fits the unroll budget.  Callers that
    combine MANY buckets into one expression tree (multi-table structs,
    OR-chained probe filters) must pass fold=True past the budget — the
    round-6 measurement found a single 4096-term tree costs minutes of
    compile/interpreted fallback while the same values via the fold run
    in seconds."""
    if fold is None:
        fold = len(planes) * len(planes[0]) > UNROLL_MAX_TERMS
    dot = _dot_fold_sql if fold else _dot_const_sql
    terms = [
        f"(CASE WHEN {dot(vec_sql, plane)} >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "(0 + " + " + ".join(terms) + ")"


def _qcol(col: str) -> str:
    return f"`{col}`"


def _table_structs_sql(vec_sql: str, tables, cast_long: bool = False) -> str:
    """array(named_struct('tbl', t, 'bkt', bucket_t)) over all plane
    tables, as one SQL string.  The unroll budget is applied to the WHOLE
    array (all tables land in one expression tree)."""
    total_terms = sum(len(p) * len(p[0]) for p in tables)
    fold = total_terms > UNROLL_MAX_TERMS
    items = []
    for t, planes in enumerate(tables):
        b = bucket_sql(vec_sql, planes, fold=fold)
        if cast_long:
            b = f"cast({b} as long)"
        items.append(f"named_struct('tbl', {t}, 'bkt', {b})")
    return "array(" + ", ".join(items) + ")"


def _bucketed(df, vec_col: str, tables, *keep: str, cast_long: bool = False):
    """``keep`` columns of ``df`` plus (tbl, bkt): one row per plane
    table, keyed by the row's bucket in that table.  The one corpus
    bucketing every multi-table operator shares (histogram, index
    build, batch join sides, embedding near-dups)."""
    structs = _table_structs_sql(_qcol(vec_col), tables, cast_long=cast_long)
    return df.select(*keep, F.explode(F.expr(structs)).alias("tb")) \
        .select(*keep, "tb.tbl", "tb.bkt")


def _qbucket_planes(query_vec: list[float], planes) -> int:
    """Driver-side bucket of a literal query vector against an explicit
    plane list (same fold as bucket_sql: sum() folds left from 0)."""
    b = 0
    for p, plane in enumerate(planes):
        if sum(a * v for a, v in zip(query_vec, plane)) >= 0:
            b |= 1 << p
    return b


def _table_planes(dim: int, nplanes: int, n_tables: int):
    """Per-table hyperplane sets, sliced from one deterministic sequence,
    so table 0 of a multi-table call is exactly the single-table plane
    set (n_tables=1 reproduces the legacy behavior bit-for-bit)."""
    planes = _hyperplanes(dim, n_tables * nplanes)
    return [planes[t * nplanes:(t + 1) * nplanes] for t in range(n_tables)]


def brute_force_topk(emb_df, query_vec: list[float], k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id"):
    """Exact cosine top-k against a literal query vector.  The query is a
    constant folded into the plan (the '1-row broadcast side'); its norm
    is a driver-side constant (see cos_const_sql)."""
    cos = cos_const_sql(_qcol(vec_col), query_vec)
    scored = emb_df.select(
        F.col(id_col),
        F.expr(f"cast({cos} * 1000000 as long)").alias("cos_micros"),
    )
    return scored.orderBy(F.col("cos_micros").desc(), F.col(id_col)).limit(k)


def _probe_buckets(qbucket: int, nplanes: int, probe_hamming: int) -> list[int]:
    """All buckets within `probe_hamming` bit flips of `qbucket` — every
    XOR mask with popcount <= probe_hamming, any radius (a hand-rolled
    radius-2 cap here once silently under-probed hamming >= 3 calls)."""
    from itertools import combinations

    probes = set()
    for h in range(min(probe_hamming, nplanes) + 1):
        for bits in combinations(range(nplanes), h):
            m = 0
            for b in bits:
                m |= 1 << b
            probes.add(qbucket ^ m)
    return sorted(probes)


def _fixed_probe_plan(query_vec: list[float], tables, probe_hamming: int) -> dict:
    """{tbl: sorted probe buckets}: in every table, all buckets within
    ``probe_hamming`` bit flips of the query's bucket — the fixed-radius
    planner, same shape as adaptive_probe_plan."""
    return {t: _probe_buckets(_qbucket_planes(query_vec, planes),
                              len(planes), probe_hamming)
            for t, planes in enumerate(tables)}


def _scan_candidates(df, plan: dict, vec_col: str, id_col: str, tables=None):
    """The literal-query executor: rows of ``df`` whose bucket in ANY
    planned table is one of that table's probe buckets, as ONE OR-filter
    (no join).  With ``tables`` the buckets are computed from the vector
    column; without, ``df`` is a build_ann_index() table and the filter
    is a predicate on its (tbl, bkt) partition columns — or bkt alone
    for the single-table legacy layout — so the scan prunes directories.
    A multi-table index stores a row once per table, so its candidates
    are deduped by id before scoring."""
    if tables is not None:
        dim = len(tables[0][0])
        fold = len(plan) * len(tables[0]) * dim > UNROLL_MAX_TERMS  # one OR-chained tree
        cond = reduce(or_, (
            F.expr(bucket_sql(_qcol(vec_col), tables[t], fold=fold)).isin(*bs)
            for t, bs in plan.items()))
        return df.select(F.col(id_col), F.col(vec_col)).where(cond)
    if "tbl" not in df.columns:
        return df.where(reduce(or_, (F.col("bkt").isin(*bs) for bs in plan.values())))
    cond = reduce(or_, ((F.col("tbl") == t) & F.col("bkt").isin(*bs)
                        for t, bs in plan.items()))
    return df.where(cond).dropDuplicates([id_col])


def _batch_topk(corpus, probes, k: int, dim: int, vec_col: str, id_col: str,
                query_id_col: str, qvecs=None):
    """The query-frame executor: ``corpus`` rows keyed (tbl, bkt) (see
    _bucketed) equi-join the BROADCAST ``probes`` table on (tbl, bkt);
    candidates dedupe per (query, doc), are scored against the query
    vector ``_qv`` — carried on the probe rows, or joined from the
    broadcast ``qvecs`` (query_id, _qv) after the dedup — and a
    per-query window keeps the top k.  No cartesian product anywhere:
    the only joins are hash-partitionable on bucket or query keys.

    Returns (query_id, vec_id, cos_micros, rn) with rn = 1..k per query
    (ties broken by vec_id, so output is deterministic)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    cand = (
        corpus.join(broadcast(probes), ["tbl", "bkt"])
        .dropDuplicates([query_id_col, id_col])
    )
    if qvecs is not None:
        cand = cand.join(broadcast(qvecs), query_id_col)
    scored = cand.select(
        F.col(query_id_col), F.col(id_col),
        F.expr(f"cast({cos_pair_sql(_qcol(vec_col), '`_qv`', dim)} * 1000000 "
               "as long)").alias("cos_micros"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos_micros").desc(), F.col(id_col))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k))


def ann_candidates(emb_df, query_vec: list[float],
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   nplanes: int = 6, probe_hamming: int = 2,
                   n_tables: int = 1):
    """Candidate rows for a query under multi-table multi-probe sign-LSH:
    a row is a candidate when, in ANY of the ``n_tables`` independent
    hyperplane tables, its bucket is within ``probe_hamming`` bit flips of
    the query's bucket in that table (OR-amplification — the same recall
    lever dedup.embedding_near_dups uses).  Exposed separately so recall
    experiments can COUNT candidates (the scanned fraction) with the exact
    production predicate."""
    tables = _table_planes(len(query_vec), nplanes, n_tables)
    plan = _fixed_probe_plan(query_vec, tables, probe_hamming)
    return _scan_candidates(emb_df, plan, vec_col, id_col, tables)


def lsh_topk(emb_df, query_vec: list[float], k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             nplanes: int = 6, probe_hamming: int = 2, n_tables: int = 1):
    """Approximate top-k: score only rows whose hyperplane bucket is within
    `probe_hamming` bit flips of the query's bucket in at least one of
    `n_tables` independent plane tables (multi-probe, multi-table LSH).
    Computes buckets at query time — fine for one-off scans; use
    build_ann_index + lsh_topk_indexed for a reusable corpus.

    Recall/candidate tradeoff is corpus-dependent: sign-LSH concentrates
    sharply when true neighbors are close (cos >= ~0.8, the near-dup case
    — the planted-neighbor test measures 10/10 there at a few %% scanned);
    on near-orthogonal data (the synthetic fixture — "neighbors" at cos
    ~0.3-0.5 are barely distinguishable from the bulk, the adversarial
    case for any LSH) more tables and wider probing are needed.  Measured
    on the fixture (tests/test_dedup_groundtruth; scanned = candidate
    fraction; query vec 0 / mean over 7 spread queries):
      6 planes, 1 table,  hamming 1:  recall@10 3/10 at  8%% scanned
      6 planes, 1 table,  hamming 2:  recall@10 5/10 at 31%% scanned (old default)
      8 planes, 8 tables, hamming 1:  recall@10 9/10 at 30%% (mean 5.7/10 at 25%%)
    — OR-across-tables dominates the recall-per-scanned-row curve:
    widening one table's probe radius past hamming 2 scans more for less."""
    cand = ann_candidates(emb_df, query_vec, vec_col, id_col,
                          nplanes, probe_hamming, n_tables)
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def bucket_histogram(emb_df, dim: int, vec_col: str = "embedding",
                     nplanes: int = 8, n_tables: int = 8) -> dict:
    """{(tbl, bkt): row count} for every populated bucket of every table —
    ONE aggregation pass over the corpus, at most n_tables * 2^nplanes
    result rows (a few KB), collected driver-side as planning METADATA
    (this is the one collect() in the ANN tier, and it is O(buckets), not
    O(rows)).  With a build_ann_index() table the same numbers come from
    parquet partition sizes without any scan at all; computing them here
    keeps the scan-time variant self-contained.  Reusable across queries:
    compute once, plan many."""
    tables = _table_planes(dim, nplanes, n_tables)
    keyed = _bucketed(emb_df, vec_col, tables).groupBy("tbl", "bkt").count()
    return {(r["tbl"], r["bkt"]): r["count"] for r in keyed.collect()}


def adaptive_probe_plan(hist: dict, query_vec: list[float],
                        nplanes: int = 8, n_tables: int = 8,
                        target_frac: float = 0.35,
                        max_hamming: int = 3) -> dict:
    """Per-query probe plan: {tbl: sorted probe-bucket list}, grown until
    the histogram-estimated candidate count reaches ``target_frac`` of the
    corpus.  This is the round-5 recall fix: a fixed (tables, hamming)
    operating point lets a query whose neighborhood straddles hyperplanes
    fail quietly with few candidates; planning against the bucket
    histogram makes every query buy the SAME candidate budget, spending
    scanned-fraction where its buckets are thin.

    Probe ordering is QUERY-DIRECTED (the multi-probe LSH idea of Lv et
    al., VLDB'07, adapted from p-stable to sign-LSH): flipping plane p of
    table t only loses a true neighbor when the neighbor sits on the far
    side of that plane, which is unlikely exactly when the query's margin
    |q . plane_p| / |q| is LARGE.  So each candidate probe — a bucket at
    XOR mask m from the query's bucket — is costed at the sum of the
    flipped planes' margins, and probes are taken cheapest-first across
    ALL tables at once (radius-0 buckets cost 0 and always come first).
    A query lying close to several hyperplanes gets deep cheap flips on
    those planes; a query with all-large margins stops early — recall
    concentrates where it is actually at risk.

    The estimate sums per-bucket histogram counts and ignores cross-table
    overlap, so it is an UPPER bound on rows scanned — the plan stops at
    or under budget, never silently past it.  All driver-side arithmetic
    on the tiny histogram; no corpus access."""
    from itertools import combinations

    dim = len(query_vec)
    tables = _table_planes(dim, nplanes, n_tables)
    qn = math.sqrt(sum(v * v for v in query_vec)) or 1.0
    probes = []  # (cost, tbl, bucket)
    for t, planes in enumerate(tables):
        margins = [abs(sum(a * v for a, v in zip(query_vec, p))) / qn
                   for p in planes]
        qb = _qbucket_planes(query_vec, planes)
        for h in range(min(max_hamming, nplanes) + 1):
            for bits in combinations(range(nplanes), h):
                m = 0
                for b in bits:
                    m |= 1 << b
                probes.append((sum(margins[b] for b in bits), t, qb ^ m))
    probes.sort()
    n_total = sum(hist.values()) / max(1, n_tables)  # each row keyed once per table
    target = target_frac * n_total
    plan: dict = {t: set() for t in range(n_tables)}
    est = 0.0
    for cost, t, b in probes:
        plan[t].add(b)
        est += hist.get((t, b), 0)
        if est >= target:
            break
    return {t: sorted(bs) for t, bs in plan.items() if bs}


def ann_candidates_adaptive(emb_df, query_vec: list[float],
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            nplanes: int = 8, n_tables: int = 8,
                            target_frac: float = 0.35,
                            max_hamming: int = 3, hist: dict = None):
    """Candidate rows under a per-query adaptive probe plan (see
    adaptive_probe_plan).  Pass a precomputed ``hist`` to amortize the
    histogram pass across queries."""
    dim = len(query_vec)
    if hist is None:
        hist = bucket_histogram(emb_df, dim, vec_col, nplanes, n_tables)
    plan = adaptive_probe_plan(hist, query_vec, nplanes, n_tables,
                               target_frac, max_hamming)
    tables = _table_planes(dim, nplanes, n_tables)
    return _scan_candidates(emb_df, plan, vec_col, id_col, tables)


def lsh_topk_adaptive(emb_df, query_vec: list[float], k: int = 10,
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      nplanes: int = 8, n_tables: int = 8,
                      target_frac: float = 0.35,
                      max_hamming: int = 3, hist: dict = None):
    """Approximate top-k with a per-query candidate BUDGET instead of a
    fixed probe shape: every query scans ~target_frac of the corpus (upper
    bound), widening its probe set only where its own buckets are thin.
    Fixture numbers (tests/test_dedup_groundtruth.py, near-orthogonal
    spread-query set): mean recall@10 >= 8/10 at <= 35%% mean scanned,
    vs 5.7/10 at 25%% for the fixed (8 planes, 8 tables, hamming 1)
    point."""
    cand = ann_candidates_adaptive(emb_df, query_vec, vec_col, id_col,
                                   nplanes, n_tables, target_frac,
                                   max_hamming, hist)
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def lsh_topk_batch(emb_df, query_df, dim: int, k: int = 10,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   query_vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   nplanes: int = 6, probe_hamming: int = 2,
                   n_tables: int = 1):
    """Approximate top-k for MANY queries at once — the shape batch
    retrieval takes at 100 TB: one pass over the corpus, never one scan
    per query.

    Plan: corpus rows expand to (tbl, bkt) once per table; query rows
    expand to (tbl, probe_bkt) once per (table, probe) — probing bucket b
    at hamming radius h means probing b XOR m for every mask m with
    popcount(m) <= h, so the probe set is a LITERAL mask array applied
    with bitwiseXOR, fully distributed.  The rest is _batch_topk: the
    query side (tiny next to the corpus) is BROADCAST into an equi-join
    on (tbl, bkt), candidates dedupe per (query, doc) and a per-query
    window takes the top k.

    Returns (query_id, vec_id, cos_micros, rn) with rn = 1..k per query
    (ties broken by vec_id, so output is deterministic)."""
    tables = _table_planes(dim, nplanes, n_tables)
    masks = _probe_buckets(0, nplanes, probe_hamming)  # XOR masks, popcount<=h
    corpus = _bucketed(emb_df, vec_col, tables, id_col, vec_col)
    queries = _bucketed(
        query_df, query_vec_col, tables, query_id_col, query_vec_col,
    ).select(
        query_id_col, F.col(query_vec_col).alias("_qv"), "tbl",
        F.explode(F.array(*[F.lit(m) for m in masks])).alias("_mask"),
        F.col("bkt").alias("qbkt"),
    ).select(
        query_id_col, "_qv", "tbl",
        F.col("qbkt").bitwiseXOR(F.col("_mask")).alias("bkt"),
    )
    return _batch_topk(corpus, queries, k, dim, vec_col, id_col, query_id_col)


def lsh_topk_batch_adaptive(emb_df, query_df, dim: int, k: int = 10,
                            vec_col: str = "embedding", id_col: str = "vec_id",
                            query_vec_col: str = "embedding",
                            query_id_col: str = "query_id",
                            nplanes: int = 8, n_tables: int = 8,
                            target_frac: float = 0.35,
                            max_hamming: int = 3, hist: dict = None):
    """Batched ANN with a PER-QUERY candidate budget — the adaptive
    variant of lsh_topk_batch: still one pass over the corpus for all
    queries (bucket equi-join, broadcast probe side, no cartesian), but
    each query's probe set is planned independently against the bucket
    histogram with query-directed ordering, so a query whose buckets are
    thin widens its probes instead of silently returning a starved
    candidate set.

    Planning is driver-side over the COLLECTED query vectors — the batch
    query side is tiny and broadcast by construction (hundreds to a few
    thousand queries); the probe table it emits is
    O(n_queries * n_tables * probes) small rows.  The result per query is
    IDENTICAL to lsh_topk_adaptive on the same corpus (same plan, same
    scores) — pinned by test.

    Returns (query_id, vec_id, cos_micros, rn), rn = 1..k per query."""
    spark = emb_df.sparkSession
    if hist is None:
        hist = bucket_histogram(emb_df, dim, vec_col, nplanes, n_tables)
    # bounded driver collect: per-query probe PLANNING is driver-side by
    # design (the query side is broadcast anyway), but nothing previously
    # stopped a million-row query frame from being collected.  limit(n+1)
    # returns every row when the frame is within bounds, so results are
    # unchanged below the cap; above it, fail fast and point at the
    # fully-distributed variant.
    qrows = query_df.select(query_id_col, query_vec_col) \
        .limit(MAX_ADAPTIVE_BATCH_QUERIES + 1).collect()
    if len(qrows) > MAX_ADAPTIVE_BATCH_QUERIES:
        raise ValueError(
            f"lsh_topk_batch_adaptive plans probes driver-side and caps the "
            f"query frame at {MAX_ADAPTIVE_BATCH_QUERIES} rows; use "
            "lsh_topk_batch for larger query sets (fixed probe shape, fully "
            "distributed)")
    probe_rows = []
    qvec_rows = []
    for r in qrows:
        qid = r[0]
        qv = [float(x) for x in r[1]]
        qvec_rows.append((qid, qv))
        plan = adaptive_probe_plan(hist, qv, nplanes, n_tables,
                                   target_frac, max_hamming)
        for t, bs in plan.items():
            probe_rows.extend((qid, t, b) for b in bs)
    probes = spark.createDataFrame(
        probe_rows, f"{query_id_col} long, tbl int, bkt long")
    qvecs = spark.createDataFrame(
        qvec_rows, f"{query_id_col} long, _qv array<double>")
    tables = _table_planes(dim, nplanes, n_tables)
    corpus = _bucketed(emb_df, vec_col, tables, id_col, vec_col, cast_long=True)
    return _batch_topk(corpus, probes, k, dim, vec_col, id_col, query_id_col,
                       qvecs)


def build_ann_index(emb_df, path: str, dim: int,
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    nplanes: int = 6, n_tables: int = 1):
    """Persist the corpus as a parquet table PARTITIONED BY (tbl, bucket):
    each row is written once per hyperplane table with that table's bucket.
    At 100 TB this is the ANN story: the bucket assignment is paid once at
    ingest, and every query prunes to n_tables * (probe count) of
    n_tables * 2^nplanes partition directories at scan time — no
    full-corpus scan, no per-query bucket computation.  Storage cost is
    n_tables copies of the corpus (the standard multi-table LSH trade);
    pick nplanes so each bucket is a healthy parquet partition (e.g. 2^10
    buckets for 100 TB -> ~100 GB per bucket, further split by parquet
    row groups)."""
    tables = _table_planes(dim, nplanes, n_tables)
    keyed = _bucketed(emb_df, vec_col, tables, id_col, vec_col)
    keyed.write.mode("overwrite").partitionBy("tbl", "bkt").parquet(path)


def lsh_topk_indexed(spark, index_path: str, query_vec: list[float], k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     nplanes: int = 6, probe_hamming: int = 2,
                     n_tables: int = 1):
    """Top-k over a build_ann_index() table: the (tbl, bucket) filter is a
    partition-column predicate, so the scan reads only the probed bucket
    directories (verify with .explain -> PartitionFilters).  A row that
    collides with the query in several tables is scored once
    (dropDuplicates on the id before scoring)."""
    idx = spark.read.parquet(index_path)
    if "tbl" not in idx.columns and n_tables != 1:
        # index written by the pre-multi-table layout (partitioned by bkt
        # only): valid for single-table queries, unreadable for more
        raise ValueError(
            f"{index_path} is a single-table (bkt-partitioned) index; "
            f"rebuild with build_ann_index(..., n_tables={n_tables}) "
            "to query multiple tables"
        )
    tables = _table_planes(len(query_vec), nplanes, n_tables)
    plan = _fixed_probe_plan(query_vec, tables, probe_hamming)
    cand = _scan_candidates(idx, plan, vec_col, id_col)
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)
