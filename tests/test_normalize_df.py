"""normalize_df's Spark surface: one Arrow UDF plus one projection.

* Building the DataFrame costs the same py4j round-trips at any rule
  count: the per-rule constants are SQL literals, not one ``F.lit`` each.
* The schema and every emitted value are pinned against hand-built
  expectations, including constants that SQL text would mangle if they
  reached the parser raw (quotes, backslashes, control chars, Spark's
  ``${...}`` variable substitution, non-BMP chars).
* The UDF's rows equal ``match_batch``'s, with either Arrow string type.
"""

import random
import threading

import pandas as pd
import pytest
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from liblognorm_spark.compiler.compiler import compile_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime import matcher as M
from perfbench.workloads import nearmiss_rulebase

# strings the SQL literal quoting must carry through unchanged
AWKWARD = ["'", "\\", "\n", "\t", '"', "${spark.app.name}", "é日本", "😀"]


def _schema(tags_contain_null: bool) -> StructType:
    return StructType([
        StructField("id", LongType()),
        StructField("text", StringType()),
        StructField("rule_id", IntegerType()),
        StructField("tags", ArrayType(StringType(), tags_contain_null)),
        StructField("fields_json", StringType()),
        StructField("unparsed_data", StringType()),
        StructField("originalmsg", StringType()),
        StructField("parsed_to", IntegerType()),
        StructField("rb_file", StringType()),
        StructField("rb_line", IntegerType()),
    ])


def _run(spark, rb, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    out = M.normalize_df(df, rb)
    return out.schema, sorted(tuple(r) for r in out.collect())


def _unparsed(i, t):
    return (i, t, -1, None, f'{{"originalmsg":"{t}","unparsed-data":"{t}"}}',
            t, t, 0, None, None)


def test_build_py4j_calls_do_not_grow_with_rules(spark):
    from py4j.clientserver import ClientServerConnection

    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    crbs = {n: compile_rulebase(Rulebase.from_string(
        nearmiss_rulebase(n, random.Random(1)))) for n in (8, 1024)}
    M.normalize_df(df, crbs[8])  # warm: first-use lookups are cached
    send = ClientServerConnection.send_command
    me = threading.get_ident()
    calls = {}
    for n, crb in crbs.items():
        count = [0]

        def counting(self, *a, **k):
            # py4j's finalizer thread sends detach calls for dead Java
            # objects of any earlier work at its own pace: not the build's
            count[0] += threading.get_ident() == me
            return send(self, *a, **k)

        ClientServerConnection.send_command = counting
        try:
            M.normalize_df(df, crb)
        finally:
            ClientServerConnection.send_command = send
        calls[n] = count[0]
    assert calls[1024] <= calls[8] + 16, calls


def test_awkward_tags_and_file_names(spark):
    fname = "".join(AWKWARD)
    rb = Rulebase.from_string(
        "version=2\nrule=a:x %v:word%\nrule=:y %v:word%\n", name=fname)
    rb.rules[0].tags = list(AWKWARD)
    schema, rows = _run(spark, rb, ["x 1", "y 2", "z"])
    assert schema == _schema(tags_contain_null=False)
    tags_json = ('["\'","\\\\","\\n","\\t","\\"","${spark.app.name}",'
                 '"é日本","😀"]')
    assert rows == [
        (0, "x 1", 0, AWKWARD, '{"v":"1","event.tags":' + tags_json + "}",
         None, None, 3, fname, 2),
        # the untagged rule: an empty tag array, not NULL
        (1, "y 2", 1, [], '{"v":"2"}', None, None, 3, fname, 3),
        _unparsed(2, "z"),
    ]


def test_empty_rulebase_gives_typed_nulls(spark):
    schema, rows = _run(spark, Rulebase.from_string("version=2\n"), ["x 1", ""])
    assert schema == _schema(tags_contain_null=True)
    assert rows == [_unparsed(0, "x 1"), _unparsed(1, "")]


def test_untagged_rulebase_types_tags_as_strings(spark):
    # every per-rule tag literal is an empty array(), which Spark alone
    # would type array<void>
    schema, rows = _run(spark, Rulebase.from_string("version=2\nrule=:y %v:word%\n"),
                        ["y 2", "z"])
    assert schema == _schema(tags_contain_null=True)
    assert rows == [(0, "y 2", 0, [], '{"v":"2"}', None, None, 3, "--", 2),
                    _unparsed(1, "z")]


def test_file_loaded_rulebase_location(spark, tmp_path):
    path = tmp_path / "r.rulebase"
    path.write_text("version=2\n\nrule=t,u:x %v:word%\n")
    schema, rows = _run(spark, Rulebase.from_file(str(path)), ["x 1", "q"])
    assert schema == _schema(tags_contain_null=False)
    assert rows == [
        (0, "x 1", 0, ["t", "u"], '{"v":"1","event.tags":["t","u"]}',
         None, None, 3, str(path), 3),
        _unparsed(1, "q"),
    ]


# walker-only: a repeat with permitMismatchInParser has no regex twin
_REPEAT = ('%{"name":"n","type":"repeat","parser":{"name":"x","type":"number"},'
           '"while":{"type":"literal","text":":"},'
           '"option.permitMismatchInParser":true}%')
PARITY_RB = (
    "version=2\n"
    "rule=ssh:sshd[%pid:number%]: from %ip:ipv4%\n"
    "rule=cap:cplx[%pid:number{\"maxval\":100}%] %ip:ipv4%\n"
    f"rule=w:wonly {_REPEAT}\n"
    "rule=jp:日本 %v:word%\n"
)
PARITY_TEXTS = [
    "sshd[1]: from 10.0.0.1",      # cohort match
    "sshd[2]: from 10.0.0.999",    # near-miss: walker fallback, unparsed
    "cplx[999] 10.0.0.1",          # regex match rejected -> walker
    "wonly 1:2:3",                 # walker-only rule
    "日本 é😀",                     # multibyte match
    "日本",                         # multibyte unparsed
    "junk",
    "",
    None,
]


@pytest.mark.parametrize("large_var_types", ["false", "true"])
def test_arrow_udf_rows_equal_match_batch(spark, large_var_types):
    key = "spark.sql.execution.arrow.useLargeVarTypes"
    crb = compile_rulebase(Rulebase.from_string(PARITY_RB))
    want = M.match_batch(crb, pd.Series(PARITY_TEXTS, dtype=object))
    assert set(want["rule_id"]) >= {-1, 0, 2, 3}  # every path is exercised
    df = spark.createDataFrame(list(enumerate(PARITY_TEXTS)), "id long, text string")
    old = spark.conf.get(key)
    spark.conf.set(key, large_var_types)
    try:
        got = M.normalize_df(df.coalesce(1), crb).orderBy("id").collect()
    finally:
        spark.conf.set(key, old)
    cols = ["rule_id", "fields_json", "unparsed_data", "parsed_to"]
    assert [tuple(r[c] for c in cols) for r in got] == [
        tuple(None if pd.isna(v) else v for v in row)
        for row in want[cols].itertuples(index=False)
    ]
