"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Design for 100 TB: every variant is bucket-first — candidates are generated
by an equi-join/groupBy on a bucket key (hash-partitionable, map-side
combinable) and only verified pairwise INSIDE buckets, never via a global
cross join.  Hot buckets (boilerplate-heavy web text collapses many docs
into one band) are capped by an explicit ``max_bucket_size`` so one bad key
cannot produce a quadratic pair blowup.

Each step is defined once here and shared by every operator that takes it
(the text, search and clustering modules import them too):

* ``_words`` / ``WS_RUN`` — the one whitespace tokenizer;
  ``_word_shingles`` builds the k-word shingles on top of it;
* ``_cap_buckets`` — the hot-bucket cap (aggregate + anti-join);
* ``_bucket_pairs`` — the capped, persisted ``a.id < b.id`` bucket
  self-join with its per-pair dedup, used by ``minhash_lsh_pairs``,
  ``simhash_near_dups`` and ``embedding_near_dups``;
* ``_persist`` / ``unpersist_dedup_caches`` — the one registry of
  persisted intermediates; ``_spread`` — the small-input repartition.

All hash functions are md5-derived so every operator here has an exact
DuckDB-SQL twin (see ``__spark_entry__.oracle_sql``): the oracle runs the
same algorithm — same shingles, same hashes, same bands — and must produce
bit-identical output.  A 16-hex-char md5 prefix compared as a string is
equivalent to comparing the underlying 64-bit value, and md5 is available
and identical in both engines (xxhash64 is not).
"""

from __future__ import annotations

from pyspark.sql import functions as F

# persisted intermediates registered here so long-running jobs can release
# executor memory; see unpersist_dedup_caches()
_CACHES: list = []


def _persist(df):
    df = df.persist()
    _CACHES.append(df)
    return df


def unpersist_dedup_caches() -> int:
    """Release every intermediate persisted by the dedup builders (the
    builders return lazy DataFrames, so they cannot unpersist themselves
    before the caller's action runs).  Call after the output is consumed.
    Returns the number of DataFrames released."""
    n = 0
    while _CACHES:
        _CACHES.pop().unpersist()
        n += 1
    return n


# ------------------------------------------------------------ exact


def exact_dedup(df, text_col: str = "text", id_col: str = "doc_id"):
    """Keep the lowest id per identical text (hash-groupBy; partial
    aggregation map-side, one shuffle on the md5 key)."""
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dupes"))
        .drop("_h")
    )


# ------------------------------------------------------------ shingles & minhash

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_K = 3  # word shingles
DEFAULT_MAX_BUCKET = 200  # LSH band-bucket cap (k docs in a band -> k^2 pairs)


def _cap_buckets(df, keys: list, max_bucket_size: int):
    """Drop every row belonging to a bucket with more than
    ``max_bucket_size`` members.

    Shape matters at 100 TB: a window count would SORT the full exploded
    row set inside each shuffle partition; this formulation hash-aggregates
    with map-side partial combine (the hot keys collapse before the
    shuffle) and anti-joins against the hot-bucket list — which is small by
    construction (≤ n_rows / max_bucket_size keys), so AQE turns the
    anti-join into a broadcast."""
    hot = (
        df.groupBy(*keys)
        .agg(F.count("*").alias("_bn"))
        .where(F.col("_bn") > max_bucket_size)
        .select(*keys)
    )
    return df.join(hot, keys, "left_anti")


def _bucket_pairs(keyed, keys: list, id_col: str, max_bucket_size, *pair_cols):
    """The one candidate-pair join of the near-dup operators (minhash,
    simhash, embedding): ``keyed`` rows sharing ``keys`` are candidates.

    Hot buckets are capped first (``_cap_buckets``; None disables it),
    the capped frame is persisted so both sides of the ``a.id < b.id``
    self-join read one materialization, and a pair colliding in several
    buckets is kept once.  Returns (id_a, id_b, *pair_cols); ``pair_cols``
    are columns over the ``a``/``b`` aliases, evaluated before the dedup,
    so they must be equal in every bucket a pair shares."""
    if max_bucket_size is not None:
        keyed = _cap_buckets(keyed, keys, max_bucket_size)
    keyed = _persist(keyed)
    a, b = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(b, keys)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *pair_cols,
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _spread(df):
    """Repartition up to the session's default parallelism when the input
    arrives in fewer partitions (a small parquet file = one split = one
    task doing ALL the hashing).  At 100 TB inputs already carry >= cores
    partitions and this is a no-op; the repartition costs one tiny shuffle
    of the raw rows, far less than serializing the hash work.

    The exact gate (`df.rdd.getNumPartitions()`) forces a full physical
    planning pass (~80-100 ms per fresh plan, driver-side — guide §7.3).
    A file-count short-circuit was tried in round 6 and REVERTED by
    review: `df.inputFiles()` reports the source files regardless of any
    narrowing downstream of the scan, so a caller-supplied
    ``coalesce(1)`` over a many-file table would silently skip the
    spread — the exact pathology this helper exists to prevent.  The
    planning pass stays as the accepted cost of an exact answer."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: one run of whitespace, spelled out: Java's \s includes \x0B where
#: DuckDB's RE2 does not, so \s itself is not dialect-portable
WS_RUN = r"[ \t\n\x0B\f\r]+"


def _words(col):
    """The one whitespace tokenizer: ``col`` trimmed and split on runs of
    WS_RUN.  Every word-level operator (shingles, simhash, spans,
    boilerplate segments, unigram NLL, BM25) tokenizes through it, so
    their DuckDB twins all mirror one ``string_split_regex``."""
    return F.split(F.trim(col), WS_RUN)


def _word_shingles(col, k: int = SHINGLE_K):
    """k-word shingles as an array column, built with JVM-side higher-order
    functions (no Python)."""
    words = _words(col)
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.array_join(words, " "))).otherwise(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, k), " "))
    )


def _hmd5(col, seed: int):
    """Portable seeded 64-bit hash as a 16-hex-char md5 prefix.  Compared
    lexicographically this orders exactly like the 64-bit value, and the
    same expression exists verbatim in DuckDB — which is what lets every
    minhash-derived operator carry a true side-by-side oracle."""
    return F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), col)), 1, 16)


def _hmd5_long(col, seed: int):
    """Portable seeded 60-bit integer hash (15 md5 hex chars -> long);
    DuckDB twin: ('0x' || substr(md5(seed || '|' || x), 1, 15))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(str(seed)), col)), 1, 15), 16, 10
    ).cast("long")


def minhash_signatures(df, text_col: str = "text", id_col: str = "doc_id",
                       n: int = N_MINHASH):
    """doc -> array<string> of n minhashes (16-hex-char) over word shingles.

    ONE higher-order ``F.aggregate`` pass over the per-row shingle array
    folds all n seeded mins — zero explode, zero shuffle, the whole
    signature stage stays inside the row's partition (the DuckDB oracle
    mirrors the VALUE, not the plan).

    NULL-text docs are dropped up front: the fold would otherwise emit a
    NULL signature, which downstream banding would md5 into one giant
    shared bucket of all NULL-text docs.
    """
    df = df.where(F.col(text_col).isNotNull())
    sentinel = F.array_repeat(F.lit("g"), n)  # 'g' > any hex char
    acc_fold = F.aggregate(
        F.col("_sh"),
        sentinel,
        lambda acc, s: F.array(*[
            F.least(F.element_at(acc, i + 1), _hmd5(s, i)) for i in range(n)
        ]),
    )
    return (
        _spread(df)  # small parquet inputs arrive in 1-2 partitions;
        # the fold is CPU-bound per row, so spread it across cores
        .select(F.col(id_col), _word_shingles(F.col(text_col)).alias("_sh"))
        .select(F.col(id_col), acc_fold.alias("minhash"))
    )


def _banded(df, text_col: str, id_col: str, n: int, bands: int,
            persist_sigs: bool = False):
    """(id, minhash, band, band_key) rows — ONE definition of the banding
    so the pair join and the bucket diagnostics can never drift apart.

    ``persist_sigs`` caches the signature frame (id + n 16-char hashes —
    a tiny proxy of the text, guide §8's "decide with small rows") so
    every consumer downstream of the banding — the hot-bucket aggregate,
    its anti-join, BOTH sides of the pair self-join — re-derives only
    the cheap band-key md5s from the cache instead of re-running the
    shingle fold over the full text.  Before round 6 the fold ran twice
    per invocation (once per side of _cap_buckets) because the persist
    sat downstream of the cap."""
    rows = n // bands
    sigs = minhash_signatures(df, text_col, id_col, n)
    if persist_sigs:
        sigs = _persist(sigs)
    band_cols = [
        F.md5(F.concat_ws(",", *[F.element_at("minhash", b * rows + r + 1) for r in range(rows)])).alias(
            "band_key"
        )
        for b in range(bands)
    ]
    return sigs.select(
        id_col, "minhash",
        F.explode(F.array(*[F.struct(F.lit(b).alias("band"), band_cols[b]) for b in range(bands)])).alias("bk"),
    ).select(id_col, "minhash", "bk.band", "bk.band_key")


def minhash_lsh_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                      n: int = N_MINHASH, bands: int = N_BANDS,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET):
    """Candidate near-dup pairs via banded LSH: same band signature in any
    band -> candidate.  Returns distinct (id_a < id_b) pairs with their
    estimated jaccard (= matching minhash fraction, in millis).

    ``max_bucket_size`` drops band-buckets holding more than that many docs
    BEFORE the self-join: a band shared by k near-identical docs otherwise
    yields k^2 join rows (the skew bomb at web scale).  Dropping a hot
    bucket is safe for recall because near-identical docs collide in ALL
    bands, and it is the standard boilerplate-band defense.  Use
    lsh_bucket_stats() to see what a given corpus would drop — no silent
    caps.  Pass None to disable."""
    # persist the SIGNATURES (the small per-doc proxy), not the capped
    # exploded frame: the expensive shingle fold then runs exactly once
    # no matter how many times the banding is re-derived (hot-bucket
    # aggregate, its anti-join, both self-join sides) — before round 6
    # the fold ran twice because the persist sat below the cap
    exploded = _banded(df, text_col, id_col, n, bands, persist_sigs=True)
    # _bucket_pairs ALSO persists the capped frame: the self-join's two
    # sides then read one materialization instead of re-deriving band keys
    # + anti-join twice from the sig cache, and repeated consumers
    # (connected-components rounds, repeat invocations in a warm session)
    # skip the banding entirely.
    # est_jaccard is computed BEFORE the per-pair dedup so dropDuplicates
    # groups only scalar longs: with the minhash arrays carried through,
    # the First(array) aggregation buffer is not hash-aggregatable and
    # the planner falls back to Sort + SortAggregate over every collision
    # row (guide §2.4 — an Exchange+Sort we don't need).  A pair's est is
    # identical in every band it collides in, so the kept value is
    # unchanged.
    match_frac = (
        F.aggregate(
            F.zip_with("a.minhash", "b.minhash",
                       lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        * 1000
        / F.lit(n)
    ).cast("long")
    return _bucket_pairs(exploded, ["band", "band_key"], id_col, max_bucket_size,
                         match_frac.alias("est_jaccard_millis"))


def lsh_bucket_stats(df, text_col: str = "text", id_col: str = "doc_id",
                     n: int = N_MINHASH, bands: int = N_BANDS):
    """Diagnostic: per-band-bucket doc counts, largest first.  Run this to
    pick / audit ``max_bucket_size`` for a corpus (the anti-silent-cap
    companion of minhash_lsh_pairs)."""
    return (
        _banded(df, text_col, id_col, n, bands).groupBy("band", "band_key")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), "band", "band_key")
    )


# ------------------------------------------------------------ simhash

SIMHASH_BITS = 32
SIMHASH_SEED = 999


def simhash(df, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS):
    """Per-doc SimHash: majority vote per bit over word hashes.

    Implemented JVM-side: explode words -> per-bit +-1 contributions via
    shiftright/bitwise-and -> groupBy doc -> sign aggregation.  The word
    hash is md5-derived (see _hmd5_long) so the whole operator has an exact
    DuckDB oracle."""
    words = F.explode(_words(F.col(text_col))).alias("w")
    base = _spread(df).select(F.col(id_col), words)
    wh = base.withColumn("wh", _hmd5_long(F.col("w"), SIMHASH_SEED))
    agg_exprs = [
        F.sum(
            F.when(F.shiftright(F.col("wh"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    per_doc = wh.groupBy(id_col).agg(*agg_exprs)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(2**b)
        sim = bit if sim is None else sim + bit
    return per_doc.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_near_dups(df, text_col: str = "text", id_col: str = "doc_id",
                      max_hamming: int = 3, bits: int = SIMHASH_BITS,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET):
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Candidate generation uses the pigeonhole principle correctly: split the
    ``bits``-bit hash into ``max_hamming + 1`` equal blocks — any pair
    within distance d differs in at most d blocks, so at least one block is
    IDENTICAL; bucket on (block_idx, block_value) and verify inside buckets.
    (The round-1 2-block scheme only guaranteed capture for d <= 1; the
    default contract here is d=3 -> 4 blocks of 8 bits.)"""
    n_blocks = max_hamming + 1
    if bits % n_blocks != 0:
        raise ValueError(f"bits={bits} not divisible by max_hamming+1={n_blocks}")
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    s = simhash(df, text_col, id_col, bits)
    block_structs = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftright("simhash", i * block_bits).bitwiseAND(F.lit(mask)).alias("blk_val"),
        )
        for i in range(n_blocks)
    ]
    keyed = s.select(
        id_col, "simhash", F.explode(F.array(*block_structs)).alias("b")
    ).select(id_col, "simhash", "b.blk", "b.blk_val")
    cands = _bucket_pairs(keyed, ["blk", "blk_val"], id_col, max_bucket_size,
                          F.col("a.simhash").alias("sa"),
                          F.col("b.simhash").alias("sb"))
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cands.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


# ------------------------------------------------------------ n-gram jaccard


def ngram_jaccard_pairs(df, text_col: str = "text", id_col: str = "doc_id",
                        threshold_millis: int = 500,
                        max_bucket_size: int | None = DEFAULT_MAX_BUCKET):
    """Exact word-shingle Jaccard over LSH candidates (verify stage for
    minhash_lsh_pairs): jaccard = |A∩B| / |A∪B| in millis."""
    sh = df.select(
        F.col(id_col), F.array_distinct(_word_shingles(F.col(text_col))).alias("sh")
    )
    cand = minhash_lsh_pairs(df, text_col, id_col, max_bucket_size=max_bucket_size).select(
        "id_a", "id_b"
    )
    j = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union == 0, F.lit(0)).otherwise((inter * 1000 / union).cast("long"))
    return j.select("id_a", "id_b", jac.alias("jaccard_millis")).where(
        F.col("jaccard_millis") >= threshold_millis
    )


# ------------------------------------------------------------ embedding near-dup

EMB_NEAR_DUP_TABLES = 4
EMB_NEAR_DUP_PLANES = 4


def embedding_near_dups(emb_df, vec_col: str = "embedding", id_col: str = "vec_id",
                        min_cos_millis: int = 350, dim: int = 64,
                        ntables: int = EMB_NEAR_DUP_TABLES,
                        nplanes: int = EMB_NEAR_DUP_PLANES,
                        max_bucket_size: int | None = DEFAULT_MAX_BUCKET):
    """Embedding-cosine near-dup with LSH amplification: ``ntables``
    independent sign-LSH tables of ``nplanes`` hyperplanes each (OR across
    tables); candidates are pairs sharing a bucket in ANY table, verified by
    exact cosine inside buckets only.

    ``max_bucket_size`` caps per-table buckets like the minhash path: a
    degenerate corpus (many identical embeddings -> one bucket per table)
    would otherwise re-create the k^2 self-join blowup.  Pass None to
    disable; use the same no-silent-caps diagnostics discipline as
    minhash_lsh_pairs when tuning.

    With one table of t planes the capture probability for a pair at angle
    θ is (1-θ/π)^t — hopeless for moderate similarity; L tables raise it to
    1-(1-p^t)^L, which is the same banding trick MinHash-LSH uses.  ``dim``
    must equal the embedding length: hyperplanes are literal arrays, and a
    length mismatch would null the dot products (zip_with null-pads)."""
    from liblognorm_spark.functions.similarity import (
        _bucketed,
        _table_planes,
        cos_pair_sql,
    )

    tables = _table_planes(dim, nplanes, ntables)
    keyed = _bucketed(emb_df, vec_col, tables, id_col, vec_col)
    # both vectors ride through the dedup and the cosine runs after it.
    # Scoring before the dedup (the minhash shape: scalar pair columns, no
    # SortAggregate) took 19.7-25.0 s against 9.5-13.1 s on sf0.1
    # (local[2], 4 alternating pairs), and its stage hit the "Code grows
    # beyond 64 KB" whole-stage codegen fallback
    pairs = _bucket_pairs(keyed, ["tbl", "bkt"], id_col, max_bucket_size,
                          F.col(f"a.{vec_col}").alias("_va"),
                          F.col(f"b.{vec_col}").alias("_vb"))
    cos = F.expr(f"cast({cos_pair_sql('`_va`', '`_vb`', dim)} * 1000 as long)")
    return pairs.select(
        "id_a", "id_b", cos.alias("cos_millis")
    ).where(F.col("cos_millis") >= min_cos_millis)


# ------------------------------------------------------------ dedup clusters


def connected_components(pairs, id_a: str = "id_a", id_b: str = "id_b",
                         max_iterations: int = 50):
    """Connected components over an undirected pair graph: returns
    (node, component) where component = min node id in the component.

    This is the step after candidate-pair generation in a dedup pipeline:
    near-dup PAIRS become near-dup GROUPS (keep min id per group, drop the
    rest).  Implemented as alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — each round is one shuffle-join + aggregation, converges in
    O(log^2 n) rounds on pathological chains and 2-3 rounds on typical
    near-dup clusters, with no driver-side graph state:

    * large-star: every node links its LARGER neighbors to its current
      minimum (strictly decreases big labels, parallel over hubs);
    * small-star: every node links its smaller-or-equal neighbors to the
      minimum (compresses chains).

    Each iteration materializes one edge list of size O(E); convergence is
    checked with a count of changed edges (an O(1)-row aggregate, no
    collect of data rows).  At 100 TB the edge list after LSH bucketing is
    orders of magnitude smaller than the corpus, so the iteration cost is
    bounded by the dedup join itself."""
    from pyspark.sql import DataFrame

    sess = pairs.sparkSession
    # undirected edges as (u, v); self-loops dropped, duplicates merged
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )

    def star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhoods include both directions; m = min(neighborhood + self)
        nbrs = e.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
            e.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        m = nbrs.groupBy("x").agg(F.min("y").alias("m"))
        m = m.select("x", F.least("m", F.col("x")).alias("m"))
        j = nbrs.join(m, "x")
        if large:  # link strictly larger neighbors to the minimum
            links = j.where(F.col("y") > F.col("x")).select(
                F.least("y", "m").alias("u"), F.greatest("y", "m").alias("v")
            )
        else:
            # link smaller neighbors to the minimum AND keep the node's own
            # link to it — without (x, m) a 2-node component's only edge
            # collapses to a self-loop and the component vanishes
            links = j.where(F.col("y") <= F.col("x")).select(
                F.least("y", "m").alias("u"), F.greatest("y", "m").alias("v")
            ).union(m.select(F.col("m").alias("u"), F.col("x").alias("v")))
        return links.where(F.col("u") != F.col("v")).distinct()

    # localCheckpoint truncates the logical plan each round — without it the
    # star(star(...)) lineage doubles per iteration and Catalyst analysis
    # cost explodes long before the data does
    prev = edges.localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nxt = star(star(prev, large=True), large=False).localCheckpoint(eager=True)
        # converged only when the edge SETS are equal: nxt ⊆ prev alone
        # (a round that only removes edges) must not stop the loop early
        if (
            nxt.exceptAll(prev).limit(1).count() == 0
            and prev.exceptAll(nxt).limit(1).count() == 0
        ):
            prev = nxt
            break
        prev = nxt
    # after convergence every edge is (min-of-component, member)
    comp = prev.select(F.col("v").alias("node"), F.col("u").alias("component")).union(
        prev.select(F.col("u").alias("node"), F.col("u").alias("component"))
    ).groupBy("node").agg(F.min("component").alias("component"))
    return comp


def dedup_clusters(df, text_col: str = "text", id_col: str = "doc_id",
                   n: int = N_MINHASH, bands: int = N_BANDS,
                   min_est_jaccard_millis: int = 500):
    """Near-dup GROUPS from MinHash-LSH pairs: connected components over
    candidate pairs with est_jaccard >= threshold.  Returns
    (doc_id, cluster, is_kept): cluster = min doc_id in the group,
    is_kept = this row is the group representative — i.e. the dedup
    decision a training-data pipeline applies."""
    pairs = minhash_lsh_pairs(df, text_col, id_col, n, bands).where(
        F.col("est_jaccard_millis") >= min_est_jaccard_millis
    )
    comp = connected_components(pairs)
    return (
        df.select(F.col(id_col))
        .join(comp, df[id_col] == comp["node"], "left")
        .select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster"),
        )
        .withColumn("is_kept", (F.col("doc_id") == F.col("cluster")).cast("boolean"))
    )


def bench_ngram_set(bench_df, text_col: str = "text", ngram_k: int = SHINGLE_K):
    """Distinct word n-grams of a benchmark set — the broadcast side of
    decontaminate().  Exposed separately so incremental callers (the
    streaming path re-joins every micro-batch) can compute it ONCE,
    persist it, and reuse it instead of re-aggregating the benchmark per
    batch."""
    return (
        bench_df.where(F.col(text_col).isNotNull())
        .select(F.explode(F.array_distinct(
            _word_shingles(F.col(text_col), k=ngram_k))).alias("ngram"))
        .distinct()
    )


def decontaminate(df, bench_df, text_col: str = "text", id_col: str = "doc_id",
                  min_shared: int = 10, ngram_k: int = SHINGLE_K,
                  bench_ngrams=None):
    """Benchmark decontamination: flag documents sharing at least
    ``min_shared`` DISTINCT word ``ngram_k``-grams with the union of a
    benchmark set's n-grams — the standard pre-training check that eval
    data did not leak into the corpus.  Production leak checks use wide
    windows (8-13 words: long enough that a shared n-gram is evidence of
    copying, not phrase reuse) — pass ``ngram_k=8`` and a lower
    ``min_shared``; the default k=3 matches the module's MinHash shingles.

    Scale shape: the benchmark side (eval sets are tiny next to a 100-TB
    corpus) is reduced to its distinct n-grams and BROADCAST; the corpus
    side is a projection (per-doc array_distinct before the explode) into
    a broadcast hash join + one count shuffle.  Returns
    (id, n_shared_ngrams) for flagged documents.

    ``bench_ngrams`` (a DataFrame from :func:`bench_ngram_set`, possibly
    persisted) short-circuits the benchmark aggregation for callers that
    amortize it across many invocations."""
    if bench_ngrams is None:
        bench_ngrams = bench_ngram_set(bench_df, text_col, ngram_k)
    doc_ngrams = _spread(df.where(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_shingles(F.col(text_col), k=ngram_k))).alias("ngram"),
    )
    from pyspark.sql.functions import broadcast

    return (
        doc_ngrams.join(broadcast(bench_ngrams), "ngram")
        .groupBy(id_col).agg(F.count("*").alias("n_shared_ngrams"))
        .where(F.col("n_shared_ngrams") >= min_shared)
    )


# ------------------------------------------------- exact substring spans


def _span_occurrences(df, text_col: str, id_col: str, k: int):
    """One row per overlapping k-word shingle occurrence:
    (id, start, olen, h, okey) where ``start`` is the 0-based token
    offset, ``olen`` the occurrence's true token length (k, or the whole
    doc when it is shorter than k — so span ends never overshoot the
    document), ``h`` the full md5 of the shingle text (128-bit — no
    collision handling needed even at 100 TB shingle counts), and
    ``okey`` a DECIMAL(31,0) ``id * 10^10 + start`` that orders exactly
    like (doc_id, start) for starts under 10^10 — the stand-in for a
    struct min.  The DuckDB twin keeps its lpad-string okey (min over
    either encoding picks the same occurrence for the non-negative ids
    every fixture uses); Spark-side the decimal is a FIXED-WIDTH
    aggregation buffer, so the per-shingle min/count aggregate plans as
    HashAggregate — the string okey forced Sort + SortAggregate over
    every shingle occurrence (guide §2.4: an Exchange-adjacent Sort the
    operator does not need)."""
    words = _words(F.col(text_col))
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    occs = F.when(n < k, F.array(F.struct(
        F.lit(0).alias("start"), F.array_join(words, " ").alias("sh")))
    ).otherwise(F.transform(idx, lambda i: F.struct(
        i.alias("start"), F.array_join(F.slice(words, i + 1, k), " ").alias("sh"))))
    return (
        _spread(df.where(F.col(text_col).isNotNull()))
        .select(F.col(id_col), F.least(F.lit(k), F.size(words)).alias("olen"),
                F.explode(occs).alias("o"))
        .select(
            F.col(id_col),
            F.col("o.start").alias("start"),
            F.col("olen"),
            F.md5(F.col("o.sh")).alias("h"),
            (
                F.col(id_col).cast("decimal(19,0)")
                * F.lit(10_000_000_000).cast("decimal(11,0)")
                + F.col("o.start").cast("decimal(11,0)")
            ).alias("okey"),
        )
    )


def _duplicate_occurrences(df, text_col: str, id_col: str, k: int,
                           min_docs: int):
    """Duplicate shingle occurrences: every occurrence of a shingle seen
    in >= ``min_docs`` DISTINCT docs EXCEPT the single globally-first
    occurrence (smallest (doc_id, start)), which is the kept copy.
    Returns (id, start).  The occurrence frame is persisted — it feeds
    both the per-shingle aggregate and the join back."""
    occ = _persist(_span_occurrences(df, text_col, id_col, k))
    stats = (
        occ.groupBy("h")
        .agg(F.count_distinct(id_col).alias("nd"), F.min("okey").alias("first_okey"))
        .where(F.col("nd") >= min_docs)
        .select("h", "first_okey")
    )
    return (
        occ.join(stats, "h")
        .where(F.col("okey") != F.col("first_okey"))
        .select(id_col, "start", "olen")
    )


def duplicate_spans(df, text_col: str = "text", id_col: str = "doc_id",
                    k: int = 5, min_docs: int = 2):
    """Cross-document duplicated-SPAN detection — the word-granular form
    of exact substring deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every overlapping
    ``k``-word shingle occurring in >= ``min_docs`` distinct documents
    marks a duplicated token interval [start, start+k-1], except the one
    globally-first occurrence (smallest (doc_id, start)), which is the
    copy the corpus keeps.  Per document, overlapping/adjacent intervals
    merge into maximal spans (gaps-and-islands over a per-doc window).

    Returns one row per merged span: (id, span_start, span_end,
    span_tokens), token offsets 0-based inclusive.

    Scale shape: the shingle explode is one projection pass (n_tokens
    rows/doc); the only wide shuffles are the per-shingle aggregate
    (map-side combinable count/min on the md5 key) and the equi-join
    back on that key.  The window runs per-doc over only the DUPLICATE
    occurrences — bounded by doc length, never corpus-wide.  The
    persisted occurrence frame registers in the dedup cache registry
    (unpersist_dedup_caches())."""
    from pyspark.sql.window import Window

    dup = _duplicate_occurrences(df, text_col, id_col, k, min_docs)
    w = Window.partitionBy(id_col).orderBy("start")
    occ_end = F.col("start") + F.col("olen") - 1  # clamped to the doc by olen
    prev_end = F.max(occ_end).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dup.select(
        F.col(id_col), F.col("start"), F.col("olen"),
        F.when(prev_end.isNull() | (F.col("start") > prev_end + 1), F.lit(1))
        .otherwise(F.lit(0)).alias("new_island"),
    )
    islands = flagged.select(
        F.col(id_col), F.col("start"), F.col("olen"),
        F.sum("new_island").over(w).alias("island"),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max(F.col("start") + F.col("olen") - 1).alias("span_end"),
        )
        .select(
            F.col(id_col),
            F.col("span_start"),
            F.col("span_end"),
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def excise_duplicate_spans(df, text_col: str = "text", id_col: str = "doc_id",
                           k: int = 5, min_docs: int = 2):
    """Exact substring dedup REMOVAL: drop every token covered by a
    duplicate shingle occurrence (see :func:`duplicate_spans` — the
    globally-first copy of each duplicated shingle survives) and
    reassemble the remaining tokens in order.  Returns one row per input
    doc: (id, clean_text, n_tokens, n_removed).

    Scale shape: covered positions come from exploding each duplicate
    occurrence into its k offsets (k is a small constant) and the
    removal is a left-anti equi-join on (id, pos) — hash-partitionable;
    NOT broadcast, because a duplication-heavy web crawl can have a
    large covered set.  Reassembly sorts per doc inside the aggregation
    (array_sort of (pos, word) structs), never a global sort."""
    dup = _duplicate_occurrences(df, text_col, id_col, k, min_docs)
    covered = dup.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("start"), F.col("start") + F.col("olen") - 1)).alias("pos"),
    ).distinct()

    words = _words(F.col(text_col))
    toks = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.posexplode(words).alias("pos", "word"))
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.size(words).alias("n_tokens"))
    )
    return totals.join(clean, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
    )
