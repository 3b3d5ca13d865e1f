"""Physical-plan assertions: the operators must not just return correct
rows, they must compile to the plans we designed for 100 TB — broadcast
joins for enrichment, column pruning into the parquet scan, partial
aggregation, no Python in JVM-only stages."""

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_uses_broadcast_joins(spark):
    from liblognorm_spark.pipeline.pages import pages_df
    from liblognorm_spark.pipeline import pipeline as PL

    parsed = PL.parse_stage(spark, pages_df(spark, SF))
    enriched = PL.enrich_stage(spark, parsed)
    plan = plan_of(enriched)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_enrich_lookup_tables_are_local(spark):
    """The lookup tables are JVM local relations: they plan as a
    LocalTableScan, not a Python RDD scan, so broadcasting them runs no
    Python worker; their rows and enrich_stage's output schema are those
    of the LANG_MAP/TLD_MAP tables."""
    from pyspark.sql.types import StringType, StructField, StructType

    from liblognorm_spark.pipeline.pages import pages_df
    from liblognorm_spark.pipeline import pipeline as PL

    lang, tld = PL.lookup_tables(spark)
    for df in (lang, tld):
        plan = plan_of(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert [tuple(r) for r in lang.collect()] == PL.LANG_MAP
    assert [tuple(r) for r in tld.collect()] == PL.TLD_MAP
    assert lang.columns == ["lang", "lang_name", "lang_family"]
    assert tld.columns == ["tld", "tld_region"]

    parsed = PL.parse_stage(spark, pages_df(spark, SF))
    enriched = PL.enrich_stage(spark, parsed)
    text = [StructField(name, StringType(), True)
            for name in ("tld", "lang_name", "lang_family", "tld_region")]
    assert enriched.schema == StructType(
        [text[0], parsed.schema["lang"]]
        + [f for f in parsed.schema if f.name != "lang"] + text[1:])


def test_column_pruning_reaches_scan(spark):
    # a 2-column projection must not read all document columns
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id").where(docs.lang == "en")
    plan = plan_of(q)
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan
    # the lang filter is pushed to the scan
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan, plan


def test_aggregate_is_partial_then_final(spark):
    from liblognorm_spark.pipeline.pages import pages_df
    from liblognorm_spark.pipeline import pipeline as PL

    agg = PL.run_pipeline(spark, pages_df(spark, SF))
    plan = plan_of(agg)
    # partial (map-side) + final hash aggregation around one exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_dedup_exact_is_single_shuffle_hashagg(spark):
    from liblognorm_spark.functions.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(exact_dedup(docs))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_minhash_pairs_no_cartesian(spark):
    # candidate generation must be a bucket equi-join, never a cross join
    from liblognorm_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_text_stats_pure_jvm(spark):
    # text analysis must be whole-stage-codegen JVM, no Python eval nodes
    from liblognorm_spark.functions import text as T

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select(
        T.token_count("text").alias("a"),
        T.quality_score_millis("text").alias("b"),
        T.lang_id("text").alias("c"),
        T.fingerprint("text").alias("d"),
    )
    plan = plan_of(q)
    assert "Python" not in plan, plan
    assert "*(" in plan, plan  # '*(n)' prefix = inside WholeStageCodegen


def test_knn_pure_jvm_and_topk(spark):
    import __spark_entry__ as E

    q = E.q_knn_cosine(spark, SF)
    plan = plan_of(q)
    assert "Python" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-k, not global sort


def test_match_stage_single_python_eval(spark):
    # exactly one ArrowEvalPython (the match udf); constants reattached
    # JVM-side must not add more Python nodes
    from liblognorm_spark.pipeline.pages import pages_df
    from liblognorm_spark.pipeline import pipeline as PL

    parsed = PL.parse_stage(spark, pages_df(spark, SF))
    plan = plan_of(parsed)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_sink_partition_pruning(spark, tmp_path):
    # reading one sink from the fan-out layout must prune partitions
    from liblognorm_spark.pipeline.pages import pages_df
    from liblognorm_spark.pipeline import pipeline as PL

    routed = PL.route_stage(
        PL.enrich_stage(spark, PL.parse_stage(spark, pages_df(spark, SF)))
    ).drop("tags")
    out = str(tmp_path / "sinks")
    routed.select("doc_id", "url", "sink").write.partitionBy("sink").parquet(out)
    q = spark.read.parquet(out).where("sink = 'ssh'")
    assert q.count() == 63
    plan = plan_of(q)
    assert "PartitionFilters: [isnotnull(sink" in plan, plan


def test_quality_filter_and_pii_pure_jvm(spark):
    """Quality filtering and PII scrubbing must stay whole-stage-codegen —
    one JVM pass over the scan, no Python eval nodes."""
    from liblognorm_spark.functions.text import quality_filter, scrub_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for q in (quality_filter(docs), scrub_pii(docs)):
        plan = plan_of(q)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
        # '*(' prefixes whole-stage-codegen nodes in toString() plans
        assert "*(" in plan, plan


def test_connected_components_rounds_no_cartesian(spark):
    """Each large/small-star round is join + aggregation — never a cross
    join — and the per-round plan stays flat (localCheckpoint truncates
    lineage, so round N's plan does not contain round N-1's)."""
    from pyspark.sql import functions as F

    from liblognorm_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    plan = plan_of(comp)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # lineage truncation: the final mapping plan hangs off a checkpointed
    # RDD scan, not a tower of per-round joins
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan, plan
    _ = F


def test_topk_users_aggregates_before_rank(spark):
    """The rank window must consume the aggregated counts (small), not the
    raw events: HashAggregate appears below the Window in the plan tree."""
    import __spark_entry__ as E

    df = E.queries()["events_topk_users"](spark, SF)
    plan = plan_of(df)
    assert "Window" in plan and "HashAggregate" in plan, plan
    assert plan.index("Window") < plan.index("HashAggregate"), plan  # Window above agg in printout


def test_doc_repetition_shuffle_free(spark):
    """Within-doc repetition is a pure projection: zero Exchange nodes,
    zero Python eval — the whole plan is scan + codegen project."""
    from liblognorm_spark.functions.text import doc_repetition

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(doc_repetition(docs))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_boilerplate_ngrams_single_count_shuffle(spark):
    """Cross-doc boilerplate: per-doc distinct happens BEFORE the explode
    (projection), so the only shuffles are the count-by-ngram aggregation
    (+ the small-input spread repartition) — never a distinct over the
    exploded (doc, ngram) rows."""
    from liblognorm_spark.functions.text import boilerplate_ngrams

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(boilerplate_ngrams(docs))
    assert "Python" not in plan, plan
    assert "HashAggregate" in plan, plan
    # hashpartitioning exchanges: exactly one keyed on ngram
    import re as _re

    keyed = _re.findall(r"hashpartitioning\(([a-z_]+)", plan)
    assert keyed.count("ngram") <= 1, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark n-gram set must be the BROADCAST side of the overlap
    join (eval sets are tiny next to the corpus) — never a shuffle join,
    never a cartesian."""
    from liblognorm_spark.functions.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where("doc_id % 97 = 3")
    plan = plan_of(decontaminate(docs.where("doc_id % 97 <> 3"), bench))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_is_pure_filter(spark):
    """Deterministic sampling is a filter over the scan: zero Exchange,
    zero Python, and the sampling predicate is pushed into the scan stage."""
    from liblognorm_spark.functions.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(stratified_sample(docs, {"en": 500, "de": 250}))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_pack_into_bins_shards_the_window(spark):
    """Sequence packing must never run a global single-partition running
    sum: the window partitions by the hash shard (hashpartitioning
    exchange), so every shard packs independently."""
    from liblognorm_spark.functions.sampling import pack_into_bins

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(pack_into_bins(docs, budget_tokens=4096, n_shards=16))
    assert "Window" in plan, plan
    assert "hashpartitioning(shard" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Python" not in plan, plan


def test_mixture_report_aggregates_before_global_window(spark):
    """The per-mille fractions come from a window over the AGGREGATED
    frame (<= #strata rows), never a second scan of the corpus: one
    HashAggregate pair, and the single-partition exchange sits above it."""
    from liblognorm_spark.functions.text import mixture_report

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(mixture_report(docs))
    assert "HashAggregate" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Python" not in plan, plan


def test_ann_batch_broadcast_bucket_join(spark):
    """Batched ANN must be one hash-partitionable bucket equi-join with the
    tiny query side broadcast — never a cartesian product or per-query
    scans — and the top-k window must partition by query (no global sort
    to a single partition)."""
    from pyspark.sql import functions as F

    from liblognorm_spark.functions.similarity import lsh_topk_batch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where((F.col("vec_id") % 100) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    df = lsh_topk_batch(emb, queries, dim=64, k=10,
                        nplanes=6, probe_hamming=1, n_tables=2)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "partitionBy" not in plan  # sanity: no stray writer
    # the ranking window partitions on query_id, not a single partition
    assert "Window" in plan and "query_id" in plan.split("Window")[1][:400], plan


def test_strip_boilerplate_broadcast_anti_join(spark):
    """The drop set (segments over the min_docs bar — small by
    construction) must broadcast into the anti-join; no cartesian, no
    global single-partition window/sort anywhere."""
    from liblognorm_spark.functions.dedup import unpersist_dedup_caches
    from liblognorm_spark.functions.text import strip_boilerplate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = strip_boilerplate(docs)
    plan = plan_of(df)
    unpersist_dedup_caches()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_ann_adaptive_is_filter_only_scan(spark):
    """Adaptive ANN's candidate stage must be a pure FILTER over the
    corpus (bucket expressions folded into the predicate — no join, no
    cartesian, no exchange beyond the final top-k), with all planning
    driver-side on the tiny bucket histogram.  The histogram pass itself
    is one hash aggregate."""
    from liblognorm_spark.functions.similarity import (
        ann_candidates_adaptive,
        bucket_histogram,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dim = len(emb.head()["embedding"])
    q = [float(x) for x in emb.where("vec_id = 0").head()["embedding"]]
    hist = bucket_histogram(emb, dim, nplanes=8, n_tables=8)
    cand = ann_candidates_adaptive(emb, q, nplanes=8, n_tables=8, hist=hist)
    plan = plan_of(cand)
    assert "Filter" in plan, plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
                "BroadcastHashJoin", "Exchange"):
        assert bad not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_ann_batch_adaptive_broadcast_probe_join(spark):
    """The adaptive batch path must stay a broadcast bucket equi-join
    (probe table and query vectors both broadcast) — no cartesian, no
    per-query scans — with the ranking window partitioned by query."""
    from pyspark.sql import functions as F

    from liblognorm_spark.functions.similarity import lsh_topk_batch_adaptive

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where((F.col("vec_id") % 100) == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding"))
    df = lsh_topk_batch_adaptive(emb, queries, dim=64, k=10)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan and "query_id" in plan.split("Window")[1][:400], plan


def test_duplicate_spans_no_cartesian_no_global_window(spark):
    """Span detection: the shingle-stats join is an equi-join on the md5
    key (never cartesian) and the gaps-and-islands window partitions by
    doc — no single-partition stage anywhere."""
    from liblognorm_spark.functions.dedup import (duplicate_spans,
                                                  unpersist_dedup_caches)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(duplicate_spans(docs))
    unpersist_dedup_caches()
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "Window" in plan, plan


def test_excise_spans_anti_join_no_cartesian(spark):
    """Excision removes covered tokens via a hash-partitioned LeftAnti
    equi-join on (doc, pos) — deliberately NOT broadcast (the covered
    set scales with corpus duplication) — and reassembles per-doc inside
    the aggregate, never via a global sort."""
    from liblognorm_spark.functions.dedup import (excise_duplicate_spans,
                                                  unpersist_dedup_caches)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(excise_duplicate_spans(docs))
    unpersist_dedup_caches()
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SinglePartition" not in plan, plan
