"""Output encoders mirroring the reference CLI's -e formats.

json  — default (src/lognormalizer.c:111)
xml   — <event><field name=..><value>..</value></field>.. (src/enc_xml.c:201-230)
csv   — -E field list, RFC4627-style escaping in quotes (src/enc_csv.c:176-220)
rfc5424 — [cee@115 name="value" ...] structured data (src/enc_syslog.c:180-209)
raw   — originalmsg passthrough (src/lognormalizer.c:101-104)

Arrays are emitted in reverse index order and event.tags leads, exactly as
the reference encoders iterate.  Exposed both as plain-Python functions
(event dict -> str) and as a DataFrame stage (fields_json -> encoded
column, JVM where possible / vectorized otherwise).
"""

from __future__ import annotations

import json as _json

from liblognorm_spark.runtime.matcher import _dumps


def _syslog_escape(v: str) -> str:
    out = []
    for c in v:
        if c == "\0":
            out.append("\\0")
        elif c == "\n":
            out.append("\\n")
        elif c == ",":
            out.append("\\,")
        elif c == "\\":
            out.append("\\\\")
        elif c == "]":
            out.append("\\]")
        elif c == '"':
            out.append('\\"')
        else:
            out.append(c)
    return "".join(out)


def _scalar(field) -> str | None:
    """json_type string/int pass through; others -> ***unsupported type***."""
    if isinstance(field, bool) or field is None or isinstance(field, (float, dict)):
        return None
    return str(field)


def _field_value_syslog(field) -> str:
    if isinstance(field, list):
        vals = []
        for obj in reversed(field):
            s = _scalar(obj)
            vals.append(_syslog_escape(s if s is not None else _json.dumps(obj)))
        return ",".join(vals)
    s = _scalar(field)
    return _syslog_escape(s) if s is not None else "***unsupported type***"


def encode_rfc5424(event: dict) -> str:
    parts = ["[cee@115"]
    tags = event.get("event.tags")
    if tags is not None:
        parts.append(' event.tags="' + ",".join(str(t) for t in reversed(tags)) + '"')
    for name, field in event.items():
        if name == "event.tags":
            continue
        parts.append(f' {name}="{_field_value_syslog(field)}"')
    parts.append("]")
    return "".join(parts)


def _xml_escape(v: str) -> str:
    return v.replace("&", "&amp;").replace("<", "&lt;").replace("\0", "&#00;")


def _field_xml(name: str, field) -> str:
    out = [f'<field name="{name}">']
    if isinstance(field, list):
        for obj in reversed(field):
            s = _scalar(obj)
            out.append("<value>" + _xml_escape(s if s is not None else "***unsupported type***") + "</value>")
    else:
        s = _scalar(field)
        out.append(
            "<value>" + _xml_escape(s) + "</value>" if s is not None else "***unsupported type***"
        )
    out.append("</field>")
    return "".join(out)


def encode_xml(event: dict) -> str:
    out = ["<event>"]
    tags = event.get("event.tags")
    if tags is not None:
        out.append("<event.tags>")
        for t in reversed(tags):
            out.append(f"<tag>{t}</tag>")
        out.append("</event.tags>")
    for name, field in event.items():
        if name != "event.tags":
            out.append(_field_xml(name, field))
    out.append("</event>")
    return "".join(out)


def _csv_escape(v: str) -> str:
    out = []
    for ch in v:
        c = ord(ch)
        if (0x23 <= c <= 0x5B) or c >= 0x5D or c in (0x20, 0x21):
            out.append(ch)
        elif ch == "\0":
            out.append("\\u0000")
        elif ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\b":
            out.append("\\b")
        elif ch == "\f":
            out.append("\\f")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        else:
            out.append("\\u%04X" % c)
    return "".join(out)


def encode_csv(event: dict, fields: list[str]) -> str:
    cols = []
    for name in fields:
        field = event.get(name)
        if field is None and name not in event:
            cols.append("")
            continue
        if isinstance(field, list):
            inner = "[" + ",".join(
                _csv_escape(_scalar(o) if _scalar(o) is not None else "***unsupported type***")
                for o in reversed(field)
            ) + "]"
        else:
            s = _scalar(field)
            inner = _csv_escape(s) if s is not None else "***unsupported type***"
        cols.append('"' + inner + '"')
    return ",".join(cols)


def encode_json(event: dict) -> str:
    """The matcher's own serializer: the in-process CLI prints the text
    ``encode_df``'s json passthrough of ``fields_json`` prints."""
    return _dumps(event)


ENCODERS = {
    "json": lambda ev, extra=None: encode_json(ev),
    "xml": lambda ev, extra=None: encode_xml(ev),
    "csv": lambda ev, extra=None: encode_csv(ev, extra or []),
    "rfc5424": lambda ev, extra=None: encode_rfc5424(ev),
    "raw": lambda ev, extra=None: ev.get("originalmsg", ""),
}


def encode_df(df, encoder: str = "json", csv_fields: list[str] | None = None,
              fields_col: str = "fields_json"):
    """DataFrame stage: add an `encoded` column.

    json is a passthrough of fields_json (already canonical); the other
    encoders run vectorized in a pandas batch (they are presentation-layer
    only, off the analytics hot path)."""
    from pyspark.sql import functions as F

    if encoder == "json":
        return df.withColumn("encoded", F.col(fields_col))
    enc = ENCODERS[encoder]

    @F.pandas_udf("string")
    def _enc(s):
        import pandas as pd

        return pd.Series(
            [enc(_json.loads(x), csv_fields) if x else "" for x in s], dtype=object
        )

    return df.withColumn("encoded", _enc(F.col(fields_col)))
