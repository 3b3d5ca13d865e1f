"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) — no Python UDFs.  Each operator has a DuckDB-SQL
twin in __spark_entry__.py's oracle set.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from liblognorm_spark.functions.dedup import (
    WS_RUN,
    _persist,
    _spread,
    _word_shingles,
    _words,
)

# language marker words for the n-gram/stopword language-ID heuristic;
# deliberately tiny + deterministic so the SQL oracle can mirror it
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["und", "der", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "que", "de"],
}

PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}]"


def token_count(col):
    """Whitespace token count (single-space tokenization, matching the
    synthetic corpus)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), " "))
    )


def char_count(col):
    return F.length(F.col(col) if isinstance(col, str) else col)


def punct_ratio_millis(col):
    """Punctuation chars per 1000 chars, as BIGINT (stable for hashing)."""
    c = F.col(col) if isinstance(col, str) else col
    punct = F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.floor(punct * 1000 / F.length(c))
    ).cast("long")


def mean_token_len_millis(col):
    c = F.col(col) if isinstance(col, str) else col
    nospace = F.length(F.regexp_replace(c, " ", ""))
    return F.when(token_count(c) == 0, F.lit(0)).otherwise(
        F.floor(nospace * 1000 / token_count(c))
    ).cast("long")


def quality_score_millis(col):
    """Deterministic doc-quality score in [0, 1000]:
    + length in a sane band, + low punct density, + sane mean token length.
    A simple, SQL-expressible stand-in for fastText-style quality models."""
    c = F.col(col) if isinstance(col, str) else col
    len_ok = (F.length(c) >= 20) & (F.length(c) <= 10000)
    punct_ok = punct_ratio_millis(c) < 100
    tok = mean_token_len_millis(c)
    tok_ok = (tok >= 2000) & (tok <= 12000)
    return (
        F.when(len_ok, 400).otherwise(0)
        + F.when(punct_ok, 300).otherwise(0)
        + F.when(tok_ok, 300).otherwise(0)
    ).cast("long")


def lang_id(col):
    """Marker-word language ID: per-language hit count over LANG_MARKERS,
    highest count wins (ties broken by fixed language order), 'und' if no
    marker hits.  Padded ' text ' so markers match whole words."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    scores = {
        lang: sum(
            F.when(padded.contains(f" {w} "), 1).otherwise(0) for w in words
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_MARKERS:  # fixed iteration order = tie-break order
        s = scores[lang]
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return best


def fingerprint(col):
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (content-defined identity for exact/near dedup bucketing)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.regexp_replace(c, WS_RUN, " ")))


# ---------------------------------------------------------------- filtering

# Gopher-style document-quality rules (Rae et al. 2021, table A1) with
# C4-style terminal-punctuation checks (Raffel et al. 2020 §2.2), expressed
# entirely in codegen-able built-ins.  Thresholds are the published ones
# where the synthetic corpus makes them meaningful.
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000
GOPHER_MIN_MEAN_TOKEN_LEN_MILLIS = 3_000   # 3 chars
GOPHER_MAX_MEAN_TOKEN_LEN_MILLIS = 10_000  # 10 chars
GOPHER_MAX_SYMBOL_RATIO_MILLIS = 100       # '#' or '…' per token
C4_TERMINAL_PUNCT = (".", "!", "?", '"')


def quality_filter(df, text_col: str = "text", id_col: str = "doc_id"):
    """Gopher/C4-style keep/drop decision with a reason column.

    Returns (id, n_tokens, mean_token_len_millis, symbol_ratio_millis,
    ends_terminal, keep, drop_reason).  First-match reason ordering is
    fixed so the output is deterministic.  All expressions are JVM
    built-ins — at 100 TB this is a single codegen stage over the scan."""
    c = F.col(text_col)
    n_tok = token_count(c)
    mean_len = mean_token_len_millis(c)
    n_sym = F.length(c) - F.length(F.regexp_replace(c, r"[#…]", ""))
    sym_ratio = F.when(n_tok == 0, F.lit(0)).otherwise(
        (n_sym * 1000 / n_tok).cast("long")
    )
    ends_term = F.substring(F.rtrim(c), -1, 1).isin(*C4_TERMINAL_PUNCT)
    reason = (
        F.when(n_tok < GOPHER_MIN_TOKENS, F.lit("too_few_tokens"))
        .when(n_tok > GOPHER_MAX_TOKENS, F.lit("too_many_tokens"))
        .when(mean_len < GOPHER_MIN_MEAN_TOKEN_LEN_MILLIS, F.lit("mean_token_too_short"))
        .when(mean_len > GOPHER_MAX_MEAN_TOKEN_LEN_MILLIS, F.lit("mean_token_too_long"))
        .when(sym_ratio > GOPHER_MAX_SYMBOL_RATIO_MILLIS, F.lit("symbol_heavy"))
        .when(~ends_term, F.lit("no_terminal_punct"))
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.cast("long").alias("n_tokens"),
        mean_len.cast("long").alias("mean_token_len_millis"),
        sym_ratio.alias("symbol_ratio_millis"),
        ends_term.alias("ends_terminal"),
        reason.isNull().alias("keep"),
        reason.alias("drop_reason"),
    )


# PII patterns shared verbatim between Spark (Java regex) and DuckDB (RE2):
# only syntax both engines interpret identically — no lookaround, no \b
# (RE2 supports \b but DuckDB and Java diverge on some classes; these stick
# to explicit classes and anchored alternatives)
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("ssn", r"[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("phone", r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}", "<PHONE>"),
]


def scrub_pii(df, text_col: str = "text", id_col: str = "doc_id"):
    """Redact common PII patterns; emit per-kind hit counts.

    Chained ``regexp_replace`` (one codegen stage, no Python); each
    kind's count is the split count of the PREVIOUS stage's text on the
    pattern (= number of non-overlapping matches; no sentinel characters,
    so pre-existing control bytes in scraped text cannot corrupt counts).
    The pattern set is the usual training-data baseline (emails, IPs,
    SSNs, phone numbers) — extend PII_PATTERNS for project policy."""
    scrubbed = F.col(text_col)
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        # size(NULL) is -1 under Spark's default sizeOfNull — NULL text
        # must yield NULL counts, not -2
        n = F.when(scrubbed.isNotNull(), F.size(F.split(scrubbed, pat, -1)) - 1)
        counts.append(n.cast("long").alias(f"n_{kind}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(
        F.col(id_col).alias("doc_id"),
        scrubbed.alias("scrubbed"),
        *counts,
    )


# GPT-2-style pre-tokenizer, restricted to syntax Java regex and RE2 agree
# on: no lookahead (the original's \s+(?!\S) is RE2-inexpressible; its
# effect only differs on trailing-whitespace runs), and the whitespace
# class written out explicitly — Java \s includes \x0B where RE2's does
# not, so \s itself is NOT dialect-portable
BPE_SPLIT_PATTERN = (
    r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^A-Za-z0-9 \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+"
)


def bpe_token_count(col):
    """BPE-ish token count: the number of pre-tokenizer pieces the GPT-2
    split regex yields — the standard quick proxy for LLM token cost when
    the real vocab merge table is not in the pipeline (merges only split
    pieces further by a bounded factor)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_SPLIT_PATTERN), F.lit(0))).cast("long")


def boilerplate_ngrams(df, text_col: str = "text", id_col: str = "doc_id",
                       min_docs: int = 50):
    """Cross-document boilerplate detection: word n-grams (the dedup
    module's shingles, so the definition is shared with MinHash) appearing
    in at least ``min_docs`` DISTINCT documents, with their document
    frequency.  This is the table a web-scale pipeline uses to strip
    headers/footers/nav chrome before training.

    Scale shape: per-doc ``array_distinct`` BEFORE the explode turns the
    distinct-(doc, ngram) step into a per-row projection — the only
    shuffle is the final count per ngram (map-side partial agg)."""
    sh = _spread(df.where(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_shingles(F.col(text_col)))).alias("ngram"),
    )
    return (
        sh.groupBy("ngram").agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(df, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 3, min_docs: int = 5):
    """Cross-document boilerplate REMOVAL (the C4/CCNet cleaning step):
    split each doc into consecutive non-overlapping ``k``-word segments,
    drop every segment whose exact text occurs in at least ``min_docs``
    DISTINCT documents, and reassemble the surviving segments in order.
    (C4 removes repeated LINES; the synthetic corpus is single-line, so
    the unit here is the fixed-width word segment — same discipline.)

    Returns (id, clean_text, n_segs, n_removed); clean_text is '' for a
    fully-boilerplate doc.

    Scale shape: segments explode once and the frame is persisted for its
    three consumers (frequency count, anti-join, per-doc totals); the
    drop set is small BY CONSTRUCTION (only segments crossing the
    min_docs bar) and is broadcast into a left-anti join; reassembly
    sorts per doc inside the aggregation (array_sort of (seg_idx, seg)
    structs), never a global sort.

    The persisted segment frame registers in the package-wide cache
    registry — call ``dedup.unpersist_dedup_caches()`` after consuming the
    result in long-running jobs."""
    from pyspark.sql.functions import broadcast

    words = _words(F.col(text_col))
    nseg = F.ceil(F.size(words) / F.lit(k)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.struct(
            i.alias("seg_idx"),
            F.array_join(F.slice(words, i * k + 1, k), " ").alias("seg"),
        ),
    )
    exploded = _persist(
        _spread(df.where(F.col(text_col).isNotNull()))
        .select(F.col(id_col), F.explode(segs).alias("s"))
        .select(id_col, "s.seg_idx", "s.seg")
    )
    drop = (
        exploded.groupBy("seg")
        .agg(F.countDistinct(id_col).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("seg")
    )
    kept = exploded.join(broadcast(drop), "seg", "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = exploded.groupBy(id_col).agg(F.count("*").alias("n_segs"))
    return (
        totals.join(clean, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.col("n_segs"),
            (F.col("n_segs") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
        )
    )


def doc_repetition(df, text_col: str = "text", id_col: str = "doc_id"):
    """Within-document repetition stats (the Gopher-style rep-ngram
    filter's raw signal): total vs distinct word n-grams per doc and the
    duplicate fraction in millis.  Pure per-row projection — no shuffle,
    whole plan stays in one codegen stage over the scan."""
    sl = _word_shingles(F.col(text_col))
    total = F.size(sl)
    dist = F.size(F.array_distinct(sl))
    # floor((dup * 1000) / total) == integer division for non-negatives;
    # the DuckDB twin uses // over the same integers, bit-identical here
    rep = F.floor((total - dist) * 1000 / total).cast("long")
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        total.alias("n_ngrams"),
        dist.alias("n_distinct"),
        rep.alias("rep_millis"),
    )


def mixture_report(df, strata=("lang", "source"), text_col: str = "text"):
    """Data-mixture accounting: per-stratum document and token counts with
    per-mille fractions of the corpus totals — the report a data-mixing
    run is tuned against.  One shuffle (the groupBy); the totals come from
    a window over the tiny aggregated result, not a second scan."""
    from pyspark.sql import Window

    agg = df.groupBy(*strata).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(text_col)).alias("n_tokens"),
    )
    w = Window.partitionBy()
    return agg.select(
        *strata,
        "n_docs",
        "n_tokens",
        F.floor(F.col("n_docs") * 1000 / F.sum("n_docs").over(w)).cast("long").alias("doc_millis"),
        F.floor(F.col("n_tokens") * 1000 / F.sum("n_tokens").over(w)).cast("long").alias("token_millis"),
    )


def unigram_nll(df, text_col: str = "text", id_col: str = "doc_id"):
    """CCNet-style LM quality proxy: per-document mean unigram negative
    log-likelihood under the corpus's OWN unigram distribution (the
    cheap stand-in for the KenLM perplexity filter — high values mean
    rare-token-heavy documents).  Returns (id, n_tokens,
    mean_nll_micros).

    Cross-engine exactness: the JVM's Math.log disagrees with glibc in
    the last ulp on ~7% of inputs (measured on this host), so ln never
    runs JVM-side.  Instead the DISTINCT token-count values — Zipf-small
    (O(sqrt(total_tokens)) distinct values even at 100 TB, because count
    value v needs a word occurring exactly v times) — are collected and
    mapped to floor(-ln(cnt/total)*2^20) on the driver with CPython's
    math.log (glibc — bit-identical to DuckDB's ln, verified over 100k
    samples).  Everything after that is exact integer arithmetic:
    per-doc long sums are order-independent, and the mean is an integer
    division, so the operator is bit-reproducible under any partitioning
    and carries an exact DuckDB twin.

    Scale shape: one explode pass; vocab count groupBy (map-side
    combinable); the tiny (cnt -> nll) frame broadcasts into the vocab;
    one wide equi-join on the word; one per-doc aggregate.  The vocab
    itself never moves to the driver — only its distinct count values."""
    import math as _math

    from pyspark.sql.functions import broadcast

    toks = _persist(
        _spread(df.where(F.col(text_col).isNotNull()))
        .select(F.col(id_col), F.explode(_words(F.col(text_col))).alias("word"))
    )
    vocab = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    vocab = _persist(vocab)

    total = vocab.agg(F.sum("cnt").alias("t")).collect()[0]["t"]
    cnts = [r["cnt"] for r in vocab.select("cnt").distinct().collect()]
    spark = df.sparkSession
    nll_map = spark.createDataFrame(
        [(int(c),
          int(_math.floor(-_math.log(float(c) / float(total)) * 1048576.0)))
         for c in cnts],
        "cnt long, nll long",
    )
    vocab_nll = vocab.join(broadcast(nll_map), "cnt").select("word", "nll")
    return (
        toks.join(vocab_nll, "word")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("nll").alias("sum_nll"))
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            # 1000000/1048576 reduced to 15625/16384: floor(a*c/(b*c)) is
            # invariant under the common factor.  Headroom bound (round-6
            # correction of an overstated comment): worst-case per-token
            # NLL is ln(total)*2^20, so sum_nll*15625 stays inside a long
            # for n_tokens_doc < 2^63 / (15625 * ln(total) * 2^20) — about
            # 16M all-singleton tokens/doc at a 10^15-token corpus (not
            # the ~50M previously claimed).  Past that Spark would wrap
            # silently where DuckDB errors; real documents sit orders of
            # magnitude below the bound, and a pipeline feeding larger
            # ones should pre-split docs before scoring.
            F.expr("(sum_nll * 15625) DIV (n_tokens * 16384)").alias("mean_nll_micros"),
        )
    )
