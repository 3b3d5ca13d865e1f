"""The north-rule pipeline: parse -> enrich -> route -> aggregate.

All stages after the vectorized match are stock DataFrame operations so
Catalyst handles pushdown/pruning/broadcast/AQE:

* parse    — ``normalize_df`` (a struct-returning Arrow UDF over Arrow batches)
* enrich   — broadcast hash joins against small lookup tables, built as
  JVM local relations (a ``VALUES`` query) and so broadcast without a
  Python worker (generalization of the reference's tag-driven constant
  annotation, src/annot.c:214-239)
* route    — one ``sink`` column + a single partitionBy("sink") write:
  fan-out without N passes over the data (the reference CLI's
  parsed/unparsed split, src/lognormalizer.c:236-249, generalized to
  tag-based sinks)
* aggregate— per-sink counts (the reference's run counters,
  src/lognormalizer.c:258-265)

Partitioning: salting is opt-in through ``parse_stage(salt_parts=)``, an
explicit repartition by xxhash64(url) that spreads the hot host across
partitions before the match stage; ``run_pipeline`` does not salt.  AQE
(enabled in session.py) re-splits skewed post-shuffle partitions.
"""

from __future__ import annotations

from liblognorm_spark.compiler.compiler import compile_rulebase
from liblognorm_spark.pipeline.fixture_rulebase import routing_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import _sql_str, normalize_df
from liblognorm_spark.sources.readers import missing_data_source

# deterministic enrichment lookup tables (FIXTURES.md §1)
LANG_MAP = [
    ("en", "English", "germanic"),
    ("de", "German", "germanic"),
    ("fr", "French", "romance"),
    ("es", "Spanish", "romance"),
    ("ja", "Japanese", "japonic"),
    ("zh", "Chinese", "sinitic"),
]
TLD_MAP = [("com", "generic"), ("org", "generic"), ("net", "generic"), ("de", "europe"), ("jp", "asia")]


def local_relation(spark, rows, cols: str):
    """`rows` of strings as a JVM local relation with columns `cols`: one
    ``VALUES`` query, so it plans as a LocalTableScan and broadcasts without
    a Python worker (``createDataFrame`` ships the rows through a Python
    RDD).  Every value is quoted by ``_sql_str``."""
    values = ", ".join("(" + ", ".join(_sql_str(v) for v in row) + ")" for row in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


def lookup_tables(spark):
    lang = local_relation(spark, LANG_MAP, "lang, lang_name, lang_family")
    tld = local_relation(spark, TLD_MAP, "tld, tld_region")
    return lang, tld


def parse_stage(spark, pages, rulebase_text: str | None = None, salt_parts: int | None = None):
    """Vectorized match over the text column.

    `salt_parts`: explicit repartition count; the salt column spreads the
    hot host (h0 holds ~50% of rows) across partitions before the
    CPU-heavy match stage."""
    from pyspark.sql import functions as F

    rb = Rulebase.from_string(rulebase_text or routing_rulebase())
    crb = compile_rulebase(rb)
    if salt_parts:
        pages = pages.withColumn(
            "_salt", (F.xxhash64(F.col("url")) % salt_parts).cast("int")
        ).repartition(salt_parts, "_salt").drop("_salt")
    return normalize_df(pages, crb, text_col="text")


def enrich_stage(spark, parsed):
    """Broadcast joins: lang -> lang_name/lang_family, url TLD -> region."""
    from pyspark.sql import functions as F

    lang, tld = lookup_tables(spark)
    out = parsed.join(F.broadcast(lang), on="lang", how="left")
    out = out.withColumn(
        "tld", F.regexp_extract(F.col("url"), r"^https?://[^/]*\.([a-z]+)/", 1)
    ).join(F.broadcast(tld), on="tld", how="left")
    return out


def route_stage(enriched):
    """sink = first tag, or 'unparsed' (reference: parsed/unparsed split by
    presence of unparsed-data, src/lognormalizer.c:236-238; tag routing via
    eventHasTag, src/lognormalizer.c:143-165)."""
    from pyspark.sql import functions as F

    return enriched.withColumn(
        "sink",
        F.when(F.col("unparsed_data").isNotNull(), F.lit("unparsed")).otherwise(
            F.coalesce(F.element_at(F.col("tags"), 1), F.lit("untagged"))
        ),
    )


def aggregate_stage(routed):
    from pyspark.sql import functions as F

    return routed.groupBy("sink").agg(F.count("*").alias("n")).orderBy("sink")


def write_sinks(routed, out_dir: str, fmt: str = "parquet", by: tuple = ()) -> str:
    """The one sink writer (batch, checkpoint waves, stream fan-out, CLI
    ``--out``).  Single-pass fan-out: partitionBy(*by, sink) writes one
    directory per sink under the leading partition columns `by` (``chunk``,
    ``epoch``).  Returns the format actually written.

    A non-empty `by` selects dynamic partition overwrite: a rerun replaces
    exactly the partition directories it writes.

    A non-parquet `fmt` (e.g. iceberg) is written through its data source.
    When that source's jar is not on the classpath, the parquet directory
    layout, with identical partition semantics, is written instead; any
    other failure propagates."""
    from py4j.protocol import Py4JJavaError

    writer = routed.write.mode("overwrite")
    if by:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer = writer.partitionBy(*by, "sink")
    if fmt != "parquet":
        try:
            writer.format(fmt).save(out_dir)
            return fmt
        except Py4JJavaError as exc:
            if not missing_data_source(exc):
                raise
    writer.parquet(out_dir)
    return "parquet"


def run_pipeline(spark, pages, out_dir: str | None = None, rulebase_text: str | None = None):
    parsed = parse_stage(spark, pages, rulebase_text)
    enriched = enrich_stage(spark, parsed)
    routed = route_stage(enriched)
    if out_dir:
        write_sinks(routed.drop("html") if "html" in routed.columns else routed, out_dir)
    return aggregate_stage(routed)
