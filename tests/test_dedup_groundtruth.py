"""Ground-truth verification for the similarity/dedup tier.

The DuckDB oracles in __spark_entry__ prove the Spark implementation
matches a mirrored reimplementation; these tests close the remaining gap
by checking against EXACT O(n^2) computations (pure Python/numpy, no
shared code with the implementation):

- minhash est_jaccard is an unbiased estimate of true shingle Jaccard
  (tolerance bound) and LSH candidate recall on near-dup fixtures;
- simhash_near_dups output EQUALS the exact hamming<=d pair set
  (the pigeonhole block scheme is complete by construction — a theorem,
  not a probabilistic property);
- embedding_near_dups is sound (every returned cosine is the true cosine)
  with measured recall vs the exact pair set;
- lsh_topk recall@10 vs brute_force_topk, and the pre-bucketed index
  returns identical results while pruning partitions at scan time.
"""

import math
import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
K = 3  # word-shingle width, mirrors dedup.SHINGLE_K


def _shingles(text: str) -> set:
    words = re.split(r"\s+", text.strip())
    if len(words) < K:
        return {" ".join(words)}
    return {" ".join(words[i:i + K]) for i in range(len(words) - K + 1)}


def _true_jaccard_millis(ta: str, tb: str) -> int:
    a, b = _shingles(ta), _shingles(tb)
    return int(len(a & b) * 1000 / len(a | b))


@pytest.fixture(scope="module")
def neardup_docs(spark):
    """documents plus controlled near-duplicates: for every doc_id % 5 == 0
    a copy with one word appended (high but <1.0 jaccard), ids offset by
    100000 so pairs are identifiable."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    dups = (
        docs.where(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zqx")).alias("text"))
    )
    return docs.unionByName(dups)


def test_minhash_est_jaccard_tracks_truth(spark, neardup_docs):
    from liblognorm_spark.functions.dedup import minhash_lsh_pairs, unpersist_dedup_caches

    texts = {r["doc_id"]: r["text"] for r in neardup_docs.collect()}
    pairs = minhash_lsh_pairs(neardup_docs).collect()
    unpersist_dedup_caches()
    assert len(pairs) >= 50  # the planted dups must surface candidates
    for r in pairs:
        true_m = _true_jaccard_millis(texts[r["id_a"]], texts[r["id_b"]])
        # 16 minhashes: 3-sigma of the binomial estimator is ~0.36 at j=0.5
        assert abs(r["est_jaccard_millis"] - true_m) <= 380, (
            r["id_a"], r["id_b"], r["est_jaccard_millis"], true_m)


def test_minhash_lsh_recall_on_neardups(spark, neardup_docs):
    """Every planted (id, id+100000) pair has jaccard >= ~0.9; banded LSH
    (4 bands x 4 rows) captures such a pair with p ~= 0.99 — assert the
    measured recall on this deterministic fixture stays high."""
    from liblognorm_spark.functions.dedup import minhash_lsh_pairs, unpersist_dedup_caches

    planted = {
        (r["doc_id"], r["doc_id"] + 100000)
        for r in neardup_docs.where(F.col("doc_id") % 5 == 0)
        .where(F.col("doc_id") < 100000).select("doc_id").collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(neardup_docs).collect()
    }
    unpersist_dedup_caches()
    recall = len(planted & got) / len(planted)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(planted)} planted pairs"


def test_simhash_near_dups_exactly_matches_bruteforce(spark, neardup_docs):
    """Pigeonhole completeness: with 4 blocks for max_hamming=3, ANY pair at
    distance <=3 shares a block, so the bucketed join must return EXACTLY
    the O(n^2) ground-truth pair set (soundness is the verify filter)."""
    from liblognorm_spark.functions.dedup import simhash, simhash_near_dups, unpersist_dedup_caches

    sims = {r["doc_id"]: r["simhash"] for r in simhash(neardup_docs).collect()}
    ids = sorted(sims)
    truth = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    assert truth, "fixture must contain hamming<=3 pairs (planted dups)"
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_dups(neardup_docs, max_hamming=3).collect()
    }
    unpersist_dedup_caches()
    assert got == truth


def test_ngram_jaccard_values_are_exact(spark, neardup_docs):
    from liblognorm_spark.functions.dedup import ngram_jaccard_pairs, unpersist_dedup_caches

    texts = {r["doc_id"]: r["text"] for r in neardup_docs.collect()}
    rows = ngram_jaccard_pairs(neardup_docs, threshold_millis=500).collect()
    unpersist_dedup_caches()
    assert len(rows) >= 50
    for r in rows:
        assert r["jaccard_millis"] == _true_jaccard_millis(texts[r["id_a"]], texts[r["id_b"]])


def _embeddings(spark):
    rows = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding").collect()
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}


def _cos(a, b) -> float:
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return 0.0 if na == 0 or nb == 0 else d / (na * nb)


def test_embedding_near_dups_sound_with_measured_recall(spark):
    from liblognorm_spark.functions.dedup import embedding_near_dups, unpersist_dedup_caches

    vecs = _embeddings(spark)
    ids = sorted(vecs)
    truth = {
        (a, b): int(_cos(vecs[a], vecs[b]) * 1000)
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if int(_cos(vecs[a], vecs[b]) * 1000) >= 350
    }
    assert truth, "fixture has pairs at cos>=0.35"
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["cos_millis"]
        for r in embedding_near_dups(emb, min_cos_millis=350, dim=64).collect()
    }
    unpersist_dedup_caches()
    assert got, "amplified LSH must surface pairs on this fixture"
    for pair, cm in got.items():
        assert pair in truth and truth[pair] == cm  # soundness: true cosine
    recall = len(got) / len(truth)
    assert recall >= 0.3, f"recall {recall:.2f} ({len(got)}/{len(truth)})"


def test_ann_lsh_topk_recall_at_10(spark):
    from liblognorm_spark.functions.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_topk(emb, q, k=10).collect()]
    assert exact[0] == 0  # the query vector itself tops the exact list
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"recall@10 {overlap}/10"


def test_ann_multitable_recall_vs_scan(spark):
    """Multi-table operating point on the NEAR-ORTHOGONAL fixture (the
    adversarial case: 'neighbors' at cos ~0.3-0.5 barely stand out from
    the bulk).  8 tables x 8 planes at probe hamming 1, query vec 0:
    measured recall@10 = 9/10 scanning 149/500 = 29.8%% — vs 5/10 at
    31.4%% for the single-table hamming-2 default.  Both bounds pinned."""
    from liblognorm_spark.functions.similarity import (
        ann_candidates,
        brute_force_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    scanned = ann_candidates(emb, q, nplanes=8, probe_hamming=1, n_tables=8).count()
    approx = {r["vec_id"] for r in
              lsh_topk(emb, q, k=10, nplanes=8, probe_hamming=1, n_tables=8).collect()}
    overlap = len(exact & approx)
    assert overlap >= 8, f"recall@10 {overlap}/10"
    assert scanned / n <= 0.35, f"scanned {scanned}/{n}"


def test_ann_adaptive_spread_queries_mean_recall(spark):
    """Round-5 adaptive probing on the SPREAD-QUERY set — the round-4
    weakness: the fixed (8 planes, 8 tables, hamming 1) point reached
    9/10 on query vec 0 but only a 5.7/10 MEAN over 7 spread queries at
    25%% scanned (BASELINE.md sweep), because a query whose neighborhood
    straddles hyperplanes fails quietly with few candidates.  Adaptive
    per-query probing (bucket-histogram budget + query-directed
    cheapest-flip ordering, Lv et al. multi-probe) must lift the MEAN to
    >= 8/10 while keeping mean scanned fraction <= 35%%.  Measured at
    commit time: recalls [8, 8, 8, 9, 8, 8, 8], mean 8.14, mean scanned
    28.2%%, max 29.2%%."""
    from liblognorm_spark.functions.similarity import (
        ann_candidates_adaptive,
        brute_force_topk,
        bucket_histogram,
        lsh_topk_adaptive,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    n = emb.count()
    dim = len(emb.head()["embedding"])
    qids = [0, 71, 142, 213, 284, 355, 426]
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.where(F.col("vec_id").isin(qids)).collect()}
    hist = bucket_histogram(emb, dim, nplanes=8, n_tables=8)
    recalls, scanned = [], []
    for qid in qids:
        q = vecs[qid]
        exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
        cand = ann_candidates_adaptive(emb, q, nplanes=8, n_tables=8, hist=hist)
        scanned.append(cand.count() / n)
        approx = {r["vec_id"] for r in
                  lsh_topk_adaptive(emb, q, k=10, nplanes=8, n_tables=8,
                                    hist=hist).collect()}
        recalls.append(len(exact & approx))
    mean_recall = sum(recalls) / len(recalls)
    mean_scanned = sum(scanned) / len(scanned)
    assert mean_recall >= 8.0, f"mean recall@10 {mean_recall:.2f} ({recalls})"
    assert mean_scanned <= 0.35, f"mean scanned {mean_scanned:.3f}"
    emb.unpersist()


def test_ann_planted_neighbors_high_recall_small_scan(spark):
    """The case ANN is actually deployed for: true neighbors are CLOSE
    (cos >= ~0.9 — near-dup embeddings).  Plant 10 perturbed copies of a
    query among ~500 background vectors: multi-table LSH must find all the
    exact top-10 while scanning a small fraction of the corpus — on
    concentrated data sign-LSH prunes hard, unlike the near-orthogonal
    fixture above."""
    import numpy as np

    from liblognorm_spark.functions.similarity import (
        ann_candidates,
        brute_force_topk,
        lsh_topk,
    )

    rng = np.random.RandomState(7)
    dim = 64
    base = rng.randn(500, dim)
    qv = rng.randn(dim)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    for j in range(10):  # ids 1000+: query + small noise -> cos ~0.95+
        rows.append((1000 + j, [float(x) for x in (qv + 0.15 * rng.randn(dim))]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in qv]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    assert exact == {1000 + j for j in range(10)}  # planted dominate cosine
    n = emb.count()
    # concentrated data needs NO probe widening: hamming 0 (exact bucket
    # per table) — a cos-0.95 neighbor agrees with the query on all 8
    # planes ~42%% of the time per table, so 8 OR'd tables capture it
    # w.p. ~0.99 while each probe reads ~1/256 of the corpus
    scanned = ann_candidates(emb, q, nplanes=8, probe_hamming=0, n_tables=8).count()
    approx = {r["vec_id"] for r in
              lsh_topk(emb, q, k=10, nplanes=8, probe_hamming=0, n_tables=8).collect()}
    assert len(exact & approx) == 10, f"recall@10 {len(exact & approx)}/10"
    assert scanned / n <= 0.15, f"scanned {scanned}/{n} — should prune hard on concentrated data"


def test_indexed_ann_matches_scan_and_prunes(spark, tmp_path):
    from liblognorm_spark.functions.similarity import (
        build_ann_index,
        lsh_topk,
        lsh_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "ann_index")
    build_ann_index(emb, path, dim=64)
    scan = [(r["vec_id"], r["cos_micros"]) for r in lsh_topk(emb, q, k=10).collect()]
    idx_df = lsh_topk_indexed(spark, path, q, k=10)
    idx = [(r["vec_id"], r["cos_micros"]) for r in idx_df.collect()]
    assert idx == scan
    # the bucket predicate must prune at scan time, not filter post-read
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bkt" in plan.split("PartitionFilters")[1][:200], plan

    # multi-table index: same results as the multi-table scan, pruned on
    # BOTH partition columns (tbl, bkt), duplicates across tables scored once
    path8 = str(tmp_path / "ann_index_t8")
    build_ann_index(emb, path8, dim=64, nplanes=8, n_tables=8)
    scan8 = [(r["vec_id"], r["cos_micros"]) for r in
             lsh_topk(emb, q, k=10, nplanes=8, probe_hamming=1, n_tables=8).collect()]
    idx8_df = lsh_topk_indexed(spark, path8, q, k=10, nplanes=8,
                               probe_hamming=1, n_tables=8)
    idx8 = [(r["vec_id"], r["cos_micros"]) for r in idx8_df.collect()]
    assert idx8 == scan8
    plan8 = idx8_df._jdf.queryExecution().executedPlan().toString()
    pf = plan8.split("PartitionFilters")[1][:300] if "PartitionFilters" in plan8 else ""
    assert "tbl" in pf and "bkt" in pf, plan8


def test_lsh_bucket_cap_defuses_skew(spark):
    """1000 identical docs collapse into one band-bucket per band; the cap
    drops those buckets so the join stays linear, and lsh_bucket_stats
    surfaces what was dropped (no silent caps)."""
    from liblognorm_spark.functions.dedup import (
        lsh_bucket_stats,
        minhash_lsh_pairs,
        unpersist_dedup_caches,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("the same boilerplate text again and again").alias("text")
    )
    stats = lsh_bucket_stats(docs).head(4)
    assert all(r["n_docs"] == 1000 for r in stats)  # the hot buckets are visible
    capped = minhash_lsh_pairs(docs, max_bucket_size=200)
    assert capped.count() == 0  # hot bucket dropped entirely, no k^2 blowup
    uncapped = minhash_lsh_pairs(docs, max_bucket_size=None)
    assert uncapped.count() == 1000 * 999 // 2  # what the cap prevents
    assert unpersist_dedup_caches() >= 2


def test_embedding_bucket_cap_defuses_skew(spark):
    """1000 identical embedding vectors collapse into ONE sign-LSH bucket in
    every table; the default cap drops those buckets so the self-join stays
    linear (the minhash skew defense, mirrored on the embedding path)."""
    from liblognorm_spark.functions.dedup import (
        embedding_near_dups,
        unpersist_dedup_caches,
    )

    vec = [float((i * 37) % 13 - 6) for i in range(64)]
    emb = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(v) for v in vec]).alias("embedding"),
    )
    capped = embedding_near_dups(emb, dim=64)  # default max_bucket_size
    assert capped.count() == 0  # hot buckets dropped, no k^2 blowup
    uncapped = embedding_near_dups(emb, dim=64, max_bucket_size=None)
    assert uncapped.count() == 1000 * 999 // 2  # what the cap prevents
    assert unpersist_dedup_caches() >= 2


def test_connected_components_vs_union_find(spark):
    """Alternating large/small-star components == a driver-side union-find
    on a random 200-node graph (plus a 30-chain, the slow-convergence worst
    case for naive propagation)."""
    import random

    from liblognorm_spark.functions.dedup import connected_components

    random.seed(7)
    edges = [(random.randrange(200), random.randrange(200)) for _ in range(150)]
    pr = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pr).collect()}

    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            parent[find(a)] = find(b)
    comps: dict = {}
    for n in set(x for e in edges for x in e if e[0] != e[1]):
        comps.setdefault(find(n), []).append(n)
    expect = {n: min(ns) for ns in comps.values() for n in ns}
    assert got == expect

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    rows = sorted(tuple(r) for r in connected_components(chain).collect())
    assert len(rows) == 31 and all(c == 0 for _, c in rows)


def test_dedup_clusters_shape(spark):
    """Every doc appears once; exactly one kept representative per cluster,
    and it is the cluster min."""
    from liblognorm_spark.functions.dedup import dedup_clusters, unpersist_dedup_caches

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dc = dedup_clusters(docs).collect()
    assert len(dc) == docs.count()
    by_cluster: dict = {}
    for r in dc:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cl, members in by_cluster.items():
        keeps = [m for m in members if m["is_kept"]]
        assert len(keeps) == 1 and keeps[0]["doc_id"] == cl == min(m["doc_id"] for m in members)
    assert any(len(m) > 1 for m in by_cluster.values())  # non-trivial on the fixture
    unpersist_dedup_caches()


def test_minhash_null_text_dropped_both_methods(spark):
    """ADVICE (round 3): NULL-text docs must vanish from the signatures —
    the agg fold used to emit a NULL signature that banding md5'd into
    one shared bucket for every NULL-text doc."""
    from liblognorm_spark.functions.dedup import minhash_lsh_pairs, minhash_signatures, unpersist_dedup_caches

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, None), (4, "omega psi chi phi")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs).collect()
    assert sorted(r["doc_id"] for r in sigs) == [1, 4]
    assert all(r["minhash"] is not None for r in sigs)
    # and the two NULL-text docs must NOT pair up via a shared NULL band
    pairs = minhash_lsh_pairs(docs).collect()
    unpersist_dedup_caches()
    assert not any({r["id_a"], r["id_b"]} == {2, 3} for r in pairs)


def test_probe_buckets_any_radius():
    """Probe masks must cover EVERY bucket within the hamming radius —
    a hand-rolled radius-2 cap once silently under-probed hamming>=3."""
    from math import comb

    from liblognorm_spark.functions.similarity import _probe_buckets

    for nplanes, h in [(6, 0), (6, 1), (6, 2), (6, 3), (8, 4)]:
        probes = _probe_buckets(0b101010 & ((1 << nplanes) - 1), nplanes, h)
        expect = sum(comb(nplanes, i) for i in range(h + 1))
        assert len(probes) == expect, (nplanes, h, len(probes))
        q = 0b101010 & ((1 << nplanes) - 1)
        assert all(bin(p ^ q).count("1") <= h for p in probes)


def test_indexed_ann_legacy_single_table_layout(spark, tmp_path):
    """An index written by the old bkt-only layout (no tbl column) must
    still answer single-table queries and reject multi-table ones with a
    clear error."""
    from pyspark.sql import functions as FF

    from liblognorm_spark.functions.similarity import (
        _table_planes,
        bucket_sql,
        lsh_topk,
        lsh_topk_indexed,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    path = str(tmp_path / "legacy_index")
    planes = _table_planes(64, 6, 1)[0]
    emb.select(
        "vec_id", "embedding",
        FF.expr(bucket_sql("`embedding`", planes)).alias("bkt"),
    ).write.partitionBy("bkt").parquet(path)
    scan = [tuple(r) for r in lsh_topk(emb, q, k=10).collect()]
    idx = [tuple(r) for r in lsh_topk_indexed(spark, path, q, k=10).collect()]
    assert idx == scan
    with pytest.raises(ValueError, match="single-table"):
        lsh_topk_indexed(spark, path, q, k=10, n_tables=4)


def test_ann_batch_adaptive_matches_single_query_adaptive(spark):
    """lsh_topk_batch_adaptive must return, per query, EXACTLY the rows
    lsh_topk_adaptive returns for that query vector (same histogram, same
    plan, same scores) — the batch path is a packaging of the single-query
    plan into one corpus pass, never a different algorithm.  The same
    holds for the fixed probe plan: lsh_topk_batch against lsh_topk
    (6 planes, 2 tables, hamming 1), through the shared batch executor."""
    from liblognorm_spark.functions.similarity import (
        bucket_histogram,
        lsh_topk,
        lsh_topk_adaptive,
        lsh_topk_batch,
        lsh_topk_batch_adaptive,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    dim = len(emb.head()["embedding"])
    queries = emb.where((F.col("vec_id") % 100) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding"))
    batch = lsh_topk_batch_adaptive(emb, queries, dim=dim, k=10).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["cos_micros"]))
    hist = bucket_histogram(emb, dim, nplanes=8, n_tables=8)
    qids = sorted(by_q)
    assert len(qids) >= 3
    qvecs = {}
    for qid in qids:
        qv = [float(x) for x in
              emb.where(F.col("vec_id") == qid).head()["embedding"]]
        qvecs[qid] = qv
        single = [(r["vec_id"], r["cos_micros"]) for r in
                  lsh_topk_adaptive(emb, qv, k=10, nplanes=8, n_tables=8,
                                    hist=hist).collect()]
        got = sorted(by_q[qid], key=lambda x: (-x[1], x[0]))
        assert got == single, f"query {qid} differs"

    fixed = dict(nplanes=6, probe_hamming=1, n_tables=2)
    by_q_fixed = {}
    for r in lsh_topk_batch(emb, queries, dim=dim, k=10, **fixed).collect():
        by_q_fixed.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["cos_micros"]))
    assert sorted(by_q_fixed) == qids
    for qid in qids:
        single = [(r["vec_id"], r["cos_micros"]) for r in
                  lsh_topk(emb, qvecs[qid], k=10, **fixed).collect()]
        got = sorted(by_q_fixed[qid], key=lambda x: (-x[1], x[0]))
        assert got == single, f"fixed plan: query {qid} differs"
    emb.unpersist()


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_ann_rejects_non_finite_query(spark, bad):
    """A NaN or ±inf query element has no SQL literal form: building the
    query must raise a ValueError naming the value, never emit a plan
    that scores every row as NULL or NaN."""
    from liblognorm_spark.functions.similarity import brute_force_topk, lsh_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    q[3] = bad
    for topk in (brute_force_topk, lsh_topk):
        with pytest.raises(ValueError, match=re.escape(repr(bad))):
            topk(emb, q, k=10)


# ------------------------------------------- exact substring spans


def test_duplicate_spans_planted(spark):
    """Planted cross-doc 5-gram duplicates: the globally-first occurrence
    is kept, every other occurrence becomes a span, overlapping shingles
    from a shared 7-token run merge into ONE maximal span, and two
    separated duplicated runs in one doc stay two islands."""
    from liblognorm_spark.functions.dedup import (duplicate_spans,
                                                  unpersist_dedup_caches)

    P = "p1 p2 p3 p4 p5"          # 5-token planted phrase
    Q = "q1 q2 q3 q4 q5 q6 q7"    # 7-token run -> 3 overlapping shingles
    docs = spark.createDataFrame(
        [
            (0, f"u1 u2 {P} u3 u4"),          # first occurrence of P: kept
            (1, f"v1 {P} v2"),                # dup of P at start=1
            (2, "w1 w2 w3 w4 w5 w6"),         # unique -> no rows
            (3, f"{Q} x1"),                   # first occurrence of Q: kept
            (4, f"y1 {Q} y2 y3 y4 {P}"),      # merged Q span + separate P span
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in duplicate_spans(docs, k=5, min_docs=2).collect()}
    unpersist_dedup_caches()
    assert rows == {
        (1, 1, 5, 5),    # P copy in doc 1
        (4, 1, 7, 7),    # Q's 3 overlapping shingles merged: tokens 1-7
        (4, 11, 15, 5),  # P copy after the gap: second island
    }, rows


def test_excise_spans_planted(spark):
    """Excision drops exactly the duplicate-covered tokens and keeps the
    first copy intact; untouched docs round-trip."""
    from liblognorm_spark.functions.dedup import (excise_duplicate_spans,
                                                  unpersist_dedup_caches)

    P = "p1 p2 p3 p4 p5"
    docs = spark.createDataFrame(
        [
            (0, f"u1 u2 {P} u3 u4"),
            (1, f"v1 {P} v2"),
            (2, "w1 w2 w3 w4 w5 w6"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           excise_duplicate_spans(docs, k=5, min_docs=2).collect()}
    unpersist_dedup_caches()
    assert out[0].clean_text == f"u1 u2 {P} u3 u4" and out[0].n_removed == 0
    assert out[1].clean_text == "v1 v2" and out[1].n_removed == 5
    assert out[1].n_tokens == 7
    assert out[2].clean_text == "w1 w2 w3 w4 w5 w6" and out[2].n_removed == 0


def test_span_ops_invariant_under_partitioning(spark):
    """The keep-first rule is a global min, not a partition-local one:
    results are identical whether the corpus arrives in 1 or 13
    partitions."""
    from liblognorm_spark.functions.dedup import (duplicate_spans,
                                                  excise_duplicate_spans,
                                                  unpersist_dedup_caches)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {tuple(r) for r in duplicate_spans(docs, k=5, min_docs=2).collect()}
    b = {tuple(r) for r in
         duplicate_spans(docs.repartition(13), k=5, min_docs=2).collect()}
    ea = {tuple(r) for r in excise_duplicate_spans(docs, k=5, min_docs=2).collect()}
    eb = {tuple(r) for r in
          excise_duplicate_spans(docs.coalesce(1), k=5, min_docs=2).collect()}
    unpersist_dedup_caches()
    assert a == b and len(a) > 0
    assert ea == eb


def test_ann_batch_adaptive_query_count_guard(spark, monkeypatch):
    """The driver-side probe planner collects the query frame; the guard
    must fail fast (naming the distributed fallback) above the cap and
    leave results untouched below it."""
    import pytest as _pytest

    from liblognorm_spark.functions import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 100 = 0").selectExpr(
        "vec_id as query_id", "embedding")
    monkeypatch.setattr(S, "MAX_ADAPTIVE_BATCH_QUERIES", 1)
    with _pytest.raises(ValueError, match="lsh_topk_batch"):
        S.lsh_topk_batch_adaptive(emb, queries, dim=64, k=5)
    monkeypatch.setattr(S, "MAX_ADAPTIVE_BATCH_QUERIES", 50_000)
    assert S.lsh_topk_batch_adaptive(emb, queries, dim=64, k=5).count() > 0
