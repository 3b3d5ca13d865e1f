"""Environment-gated dependency tests (VERDICT round-2 item 8).

Iceberg jars and Pillow are absent from this container; the engine gates
both behind fallbacks.  These tests pin BOTH sides of each gate:

* the fallback behavior runs NOW (iceberg write -> parquet layout,
  non-stdlib media -> 'unknown' diagnostic rows, never silence), and
* the real-dependency tests activate automatically the moment the jar /
  package appears (pytest.mark.skipif), so no round needs to remember to
  flip anything on.
"""

import importlib.util
import io
import os

import pytest

HAS_PIL = importlib.util.find_spec("PIL") is not None


def _has_iceberg_jar() -> bool:
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("iceberg-spark-runtime" in j for j in os.listdir(jars))
    except Exception:
        return False


HAS_ICEBERG = _has_iceberg_jar()


def test_iceberg_write_falls_back_to_parquet(spark, tmp_path):
    """Without iceberg jars, write_sinks(fmt='iceberg') must degrade to the
    parquet partition layout with identical partition semantics — and the
    data must round-trip through read_logs(fmt='iceberg'), which has the
    same parquet fallback."""
    from liblognorm_spark.pipeline.pipeline import write_sinks
    from liblognorm_spark.sources.readers import read_logs

    df = spark.createDataFrame(
        [("a", "s1"), ("b", "s1"), ("c", "s2")], "text string, sink string"
    )
    out = str(tmp_path / "sinks")
    assert write_sinks(df, out, fmt="iceberg") == "parquet"
    back, _ = read_logs(spark, out, fmt="iceberg", text_col="text")
    assert back.count() == 3
    assert sorted(r["sink"] for r in back.select("sink").collect()) == ["s1", "s1", "s2"]
    # partition directories exist (the fan-out layout survived the fallback)
    assert any(d.startswith("sink=") for d in os.listdir(out))
    # leading partition columns take the dynamic-overwrite path: rewriting
    # chunk 1 leaves chunk 0's directory in place
    chunked = spark.createDataFrame(
        [("a", 0, "s1"), ("b", 1, "s2")], "text string, chunk int, sink string")
    out2 = str(tmp_path / "chunked")
    for df2 in (chunked, chunked.filter("chunk = 1")):
        assert write_sinks(df2, out2, fmt="iceberg", by=("chunk",)) == "parquet"
    assert os.listdir(os.path.join(out2, "chunk=0")) == ["sink=s1"]
    assert sorted(tuple(r) for r in spark.read.parquet(out2).collect()) == [
        ("a", 0, "s1"), ("b", 1, "s2")]


class _StubJavaError:
    """Stands in for the Java throwable a Py4JJavaError wraps."""

    _target_id = "o0"

    def __init__(self, condition: str):
        self.condition = condition

    def getCondition(self):
        return self.condition


class _StubIO:
    """Stands in for a DataFrameWriter / DataFrameReader whose non-parquet
    save/load raises `exc`; records the parquet paths, options and
    partition columns it is asked for."""

    def __init__(self, exc):
        self.exc = exc
        self.parquet_paths = []
        self.options = {}
        self.partition_cols = None

    def mode(self, _):
        return self

    def option(self, key, value):
        self.options[key] = value
        return self

    def partitionBy(self, *cols):
        self.partition_cols = cols
        return self

    def format(self, _):
        return self

    def save(self, _):
        raise self.exc

    load = save

    def parquet(self, path):
        self.parquet_paths.append(path)


def _java_error(condition: str):
    from py4j.protocol import Py4JJavaError

    return Py4JJavaError("stub", _StubJavaError(condition))


@pytest.mark.parametrize("kind", ["python", "other-condition"])
def test_sink_and_source_errors_propagate(kind):
    """Only DATA_SOURCE_NOT_FOUND may fall back to parquet: any other
    error from the iceberg writer or reader reaches the caller, and no
    parquet is written or read."""
    from types import SimpleNamespace

    from liblognorm_spark.pipeline.pipeline import write_sinks
    from liblognorm_spark.sources.readers import read_logs

    exc = RuntimeError("disk full") if kind == "python" else _java_error(
        "TABLE_OR_VIEW_NOT_FOUND")
    writer = _StubIO(exc)
    with pytest.raises(type(exc)):
        write_sinks(SimpleNamespace(write=writer), "out", fmt="iceberg")
    reader = _StubIO(exc)
    with pytest.raises(type(exc)):
        read_logs(SimpleNamespace(read=reader), "out", fmt="iceberg")
    assert writer.parquet_paths == reader.parquet_paths == []


def test_missing_data_source_falls_back_to_parquet():
    from types import SimpleNamespace

    from liblognorm_spark.pipeline.pipeline import write_sinks
    from liblognorm_spark.sources.readers import read_logs

    writer = _StubIO(_java_error("DATA_SOURCE_NOT_FOUND"))
    assert write_sinks(SimpleNamespace(write=writer), "out", fmt="iceberg") == "parquet"
    assert writer.partition_cols == ("sink",) and writer.options == {}
    chunked = _StubIO(_java_error("DATA_SOURCE_NOT_FOUND"))
    assert write_sinks(SimpleNamespace(write=chunked), "out", fmt="iceberg",
                       by=("chunk",)) == "parquet"
    assert chunked.partition_cols == ("chunk", "sink")
    assert chunked.options == {"partitionOverwriteMode": "dynamic"}
    assert chunked.parquet_paths == ["out"]
    reader = _StubIO(_java_error("DATA_SOURCE_NOT_FOUND"))
    read_logs(SimpleNamespace(read=reader), "out", fmt="iceberg")
    assert writer.parquet_paths == reader.parquet_paths == ["out"]


@pytest.mark.skipif(not HAS_ICEBERG, reason="iceberg-spark-runtime jar not on classpath")
def test_iceberg_real_roundtrip(spark, tmp_path):
    """Activates when the image gains iceberg jars: a real Iceberg table
    round-trip through a hadoop catalog."""
    spark.conf.set("spark.sql.catalog.lls_it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.lls_it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lls_it.warehouse", str(tmp_path / "wh"))
    df = spark.createDataFrame([("a", "s1"), ("c", "s2")], "text string, sink string")
    df.writeTo("lls_it.db.t").create()
    assert spark.table("lls_it.db.t").count() == 2


def test_non_stdlib_media_without_pillow(spark):
    """Without Pillow, a BMP (not one of the stdlib-decoded formats) must
    come back as an 'unknown' diagnostic row — never dropped, never faked.
    With Pillow importable the real-decode assertion below takes over."""
    from liblognorm_spark.functions.multimodal import decode_media

    bmp = _tiny_bmp(3, 2)
    df = spark.createDataFrame([("u1", bytearray(bmp))], "url string, media binary")
    rows = decode_media(df, binary_col="media", real=True).collect()
    assert len(rows) == 1
    if HAS_PIL:
        assert rows[0]["format"] == "bmp"
        assert (rows[0]["width"], rows[0]["height"]) == (3, 2)
    else:
        assert rows[0]["format"] == "unknown"
        assert rows[0]["media_bytes"] == len(bmp)


@pytest.mark.skipif(not HAS_PIL, reason="Pillow not installed")
def test_pillow_real_decode(spark):
    """Activates when Pillow appears: decode_media(real=True) must report
    Pillow-derived metadata for a format the stdlib codecs do not cover."""
    from PIL import Image

    from liblognorm_spark.functions.multimodal import decode_media

    buf = io.BytesIO()
    Image.new("RGB", (5, 4)).save(buf, format="BMP")
    df = spark.createDataFrame([("u1", bytearray(buf.getvalue()))], "url string, media binary")
    row = decode_media(df, binary_col="media", real=True).collect()[0]
    assert row["format"] == "bmp"
    assert (row["width"], row["height"], row["channels"]) == (5, 4, 3)


def _tiny_bmp(w: int, h: int) -> bytes:
    """Minimal valid 24-bit BMP (BITMAPINFOHEADER), rows padded to 4 bytes."""
    import struct

    row = w * 3
    pad = (4 - row % 4) % 4
    pixel_bytes = (row + pad) * h
    header = struct.pack("<2sIHHI", b"BM", 54 + pixel_bytes, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_bytes, 2835, 2835, 0, 0)
    body = (b"\x10\x20\x30" * w + b"\x00" * pad) * h
    return header + info + body
