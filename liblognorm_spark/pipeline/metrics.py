"""Observability: run counters, per-rule hit statistics, per-partition
lineage.

Mirrors the reference's three stat surfaces:
* run summary numParsed/numUnparsed (src/lognormalizer.c:219-265, -H flag)
* per-rule/per-parser call+success counts (src/pdag.c:539-723,
  ADVANCED_STATS) -> here a per-rule hit-count DataFrame (rb_file/rb_line
  identify the rule like the reference's rule-location metadata,
  src/pdag.c:1236-1293)
* per-partition lineage rows for checkpoint/resume audits

Implementation: `df.observe()` named metrics ride along the job with zero
extra passes; the per-rule and lineage frames are ordinary aggregations.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Observation


def observe_run(parsed_df):
    """Attach a run-summary observation.  Returns (df, observation); read
    observation.get after the action (one pass, no extra job)."""
    obs = Observation("lognorm_run")
    out = parsed_df.observe(
        obs,
        F.count(F.lit(1)).alias("num_msgs"),
        F.count(F.when(F.col("unparsed_data").isNull(), 1)).alias("num_parsed"),
        F.count(F.when(F.col("unparsed_data").isNotNull(), 1)).alias("num_unparsed"),
    )
    return out, obs


def rule_stats(parsed_df):
    """Per-rule hit counts (the vectorized analogue of per-node stats)."""
    return (
        parsed_df.groupBy("rule_id", "rb_file", "rb_line")
        .agg(F.count("*").alias("n_matched"))
        .orderBy(F.col("n_matched").desc())
    )


def partition_lineage(parsed_df, *keys):
    """Per-partition lineage: rows in/parsed/unparsed per Spark partition,
    grouped by `keys` (e.g. ``"chunk"``) ahead of ``partition_id``;
    unordered.  At scale this is the audit trail for checkpoint resume
    (which input slices completed) and for skew diagnosis."""
    return (
        parsed_df.withColumn("partition_id", F.spark_partition_id())
        .groupBy(*keys, "partition_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("unparsed_data").isNull(), 1)).alias("n_parsed"),
            F.count(F.when(F.col("unparsed_data").isNotNull(), 1)).alias("n_unparsed"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


def summary_line(obs) -> str:
    """The -H human summary (src/lognormalizer.c:258-265)."""
    m = obs.get
    return (
        f"{m['num_msgs']} records processed, "
        f"{m['num_parsed']} parsed, {m['num_unparsed']} unparsed"
    )
