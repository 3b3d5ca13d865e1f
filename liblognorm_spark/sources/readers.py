"""Input connectors.

The reference reads newline-delimited text from stdin
(src/lognormalizer.c:180-209, incl. \\r\\n handling).  Here the same
record model comes from any Spark source; text files get the CRLF strip
the reference reader applies.  Iceberg/Delta are gated on their jars
being present (not in this image) with parquet-directory fallback.
"""

from __future__ import annotations


def missing_data_source(exc) -> bool:
    """True iff the Py4JJavaError `exc` is Spark's DATA_SOURCE_NOT_FOUND:
    the format's jar is not on the classpath (the wrapped Java exception
    is a SparkClassNotFoundException).  Only this error may fall back to
    the parquet layout; every other failure must propagate."""
    from py4j.protocol import Py4JError

    try:
        return exc.java_exception.getCondition() == "DATA_SOURCE_NOT_FOUND"
    except Py4JError:  # not a SparkThrowable: it has no condition
        return False


def read_logs(spark, path: str, fmt: str = "text", text_col: str = "value", schema=None):
    """Returns (df, text_col) ready for normalize_df."""
    from pyspark.sql import functions as F

    if fmt == "text":
        df = spark.read.text(path)
        # strip trailing \r (read_line, src/lognormalizer.c:195-199)
        df = df.withColumn("value", F.regexp_replace(F.col("value"), r"\r$", ""))
        return df, "value"
    if fmt == "parquet":
        return spark.read.parquet(path), text_col
    if fmt == "json":
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(path), text_col
    if fmt == "csv":
        return spark.read.csv(path, header=True), text_col
    if fmt == "iceberg":
        from py4j.protocol import Py4JJavaError

        try:
            return spark.read.format("iceberg").load(path), text_col
        except Py4JJavaError as exc:
            if not missing_data_source(exc):
                raise
            # iceberg jars absent: fall back to the parquet data dir layout
            return spark.read.parquet(path), text_col
    raise ValueError(f"unknown format {fmt!r}")
