"""Spark-level tests: pipeline stages, streaming, checkpoint resume,
metrics, encoders, CLI."""

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import REPO

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pages(spark):
    from liblognorm_spark.pipeline.pages import pages_df

    return pages_df(spark, SF)


def test_pipeline_counts(spark, pages):
    from liblognorm_spark.pipeline.pipeline import run_pipeline

    rows = {r["sink"]: r["n"] for r in run_pipeline(spark, pages).collect()}
    assert sum(rows.values()) == 500
    assert set(rows) == {"ssh", "ftp", "ident", "fw", "kv", "json", "net", "fallback"}


def test_local_relation_keeps_awkward_values(spark):
    """Lookup values reach the JVM through SQL ``VALUES`` text: quotes,
    backslashes, control chars, ``${...}`` and non-ASCII come back
    unchanged."""
    from liblognorm_spark.pipeline.pipeline import local_relation
    from tests.test_normalize_df import AWKWARD

    rows = [(str(i), v) for i, v in enumerate(AWKWARD)] + [("it's", "C:\\tmp\\é")]
    df = local_relation(spark, rows, "k, v")
    assert df.columns == ["k", "v"]
    assert [tuple(r) for r in df.collect()] == rows


def test_metrics_and_lineage(spark, pages):
    from liblognorm_spark.pipeline.metrics import observe_run, partition_lineage, rule_stats, summary_line
    from liblognorm_spark.pipeline.pipeline import parse_stage

    parsed = parse_stage(spark, pages)
    observed, obs = observe_run(parsed)
    n = observed.count()
    assert n == 500
    assert obs.get["num_parsed"] == 500  # fallback rule catches everything
    assert "500 records processed" in summary_line(obs)
    stats = rule_stats(parsed).collect()
    assert sum(r["n_matched"] for r in stats) == 500
    assert len(stats) == 8  # eight rules incl. fallback
    lin = partition_lineage(parsed).collect()
    assert sum(r["n_rows"] for r in lin) == 500


def test_checkpoint_resume(spark, pages, tmp_path):
    from liblognorm_spark.pipeline.checkpoint import Manifest, run_resumable

    out = str(tmp_path / "sinks")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_resumable(spark, pages, out, n_chunks=4, fail_after=2)
    man = Manifest(os.path.join(out, "_manifest.json"))
    assert len(man.completed) == 2
    man2 = run_resumable(spark, pages, out, n_chunks=4)
    assert len(man2.completed) == 4
    # all rows present across chunk sinks
    total = spark.read.option("basePath", out).parquet(out + "/chunk=*").count()
    assert total == 500
    # lineage recorded per chunk
    assert all(man2.state["lineage"][str(c)] for c in range(4))
    assert man2.state["format"] == "parquet"
    # fail_after=0 on an already-complete manifest: nothing left to crash
    # in, so the resume reaches completion like any other fail_after value
    man3 = run_resumable(spark, pages, out, n_chunks=4, fail_after=0)
    assert len(man3.completed) == 4


def test_streaming_window_counts(spark, pages, tmp_path):
    from liblognorm_spark.pipeline.pipeline import parse_stage
    from liblognorm_spark.streaming.stream import (
        start_memory_query,
        stream_pages,
        windowed_sink_counts,
    )

    src = str(tmp_path / "stream_src")
    pages.write.mode("overwrite").parquet(src)
    stream = stream_pages(spark, src)
    assert stream.isStreaming
    agg = windowed_sink_counts(parse_stage(spark, stream), window="1 hour")
    q = start_memory_query(agg, name="t_stream", output_mode="complete")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT sink, sum(n) AS n FROM t_stream GROUP BY sink").collect()
    finally:
        q.stop()
    got = {r["sink"]: r["n"] for r in rows}
    assert sum(got.values()) == 500
    assert got["ssh"] == 63


def test_streaming_fanout_resume(spark, pages, tmp_path):
    from liblognorm_spark.pipeline.pipeline import parse_stage
    from liblognorm_spark.streaming.stream import start_fanout_query, stream_pages

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages.write.mode("overwrite").parquet(src)
    q = start_fanout_query(parse_stage(spark, stream_pages(spark, src)), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n1 = spark.read.parquet(out).count()
    assert n1 == 500
    # restart with same checkpoint: no reprocessing of the same files
    q2 = start_fanout_query(parse_stage(spark, stream_pages(spark, src)), out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert spark.read.parquet(out).count() == 500
    # lost checkpoint = worst-case replay: the same input re-executes as
    # epoch 0 again; the per-epoch dynamic-overwrite write must replace its
    # own partitions, not append duplicates (exactly-once effect)
    import shutil

    shutil.rmtree(ckpt)
    q3 = start_fanout_query(parse_stage(spark, stream_pages(spark, src)), out, ckpt)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert spark.read.parquet(out).count() == 500


def test_encoders():
    from liblognorm_spark.encoders import encode_csv, encode_rfc5424, encode_xml

    ev = {"event.tags": ["a", "b"], "msg": "hi,there", "num": "42"}
    assert encode_rfc5424(ev) == '[cee@115 event.tags="b,a" msg="hi\\,there" num="42"]'
    assert (
        encode_xml(ev)
        == "<event><event.tags><tag>b</tag><tag>a</tag></event.tags>"
        '<field name="msg"><value>hi,there</value></field>'
        '<field name="num"><value>42</value></field></event>'
    )
    assert encode_csv(ev, ["num", "missing", "msg"]) == '"42",,"hi,there"'


def test_cli_end_to_end(tmp_path):
    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=tag1:%w:word% %n:number%\n")
    inp = tmp_path / "in.log"
    inp.write_text("hello 42\nnomatch line !\n")
    r = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb), "-H", str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0
    lines = r.stdout.strip().split("\n")
    ev0 = json.loads(lines[0])
    assert ev0["w"] == "hello" and ev0["n"] == "42"
    ev1 = json.loads(lines[1])
    assert ev1["originalmsg"] == "nomatch line !"
    assert "2 records processed, 1 parsed, 1 unparsed" in r.stderr


def test_cli_spark_sink_mode(spark, tmp_path):
    """--spark --out writes an encoded, sink-partitioned parquet tree on
    the executors instead of printing rows through the driver."""
    from liblognorm_spark.cli import main

    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=ssh:sshd: %w:word%\nrule=kv:%f:name-value-list%\n")
    inp = tmp_path / "in.log"
    inp.write_text("sshd: hello\nuser=x\njunk\n")
    out = tmp_path / "sinks"
    rc = main(["-r", str(rb), "--spark", "--out", str(out), str(inp)])
    assert rc == 0
    res = spark.read.parquet(str(out))
    got = {r["sink"]: r["encoded"] for r in res.collect()}
    assert set(got) == {"ssh", "kv", "unparsed"}
    assert json.loads(got["ssh"])["w"] == "hello"
    assert "unparsed-data" in json.loads(got["unparsed"])


def test_cli_json_same_text_in_process_and_spark(spark, tmp_path, capsys):
    """-e json prints the same text with and without --spark: both paths
    serialize with the matcher's fields_json serializer."""
    from liblognorm_spark.cli import main

    rb = "version=2\nrule=ssh:sshd: %w:word%\nrule=kv:%f:name-value-list%\n"
    inp = tmp_path / "in.log"
    inp.write_text("sshd: hello\nuser=x\njunk ü\n", encoding="utf-8")
    printed = []
    for extra in ([], ["--spark"]):
        assert main(["-R", rb, *extra, str(inp)]) == 0
        printed.append(capsys.readouterr().out.splitlines())
    assert printed[0][0] == '{"w":"hello","event.tags":["ssh"]}'
    assert printed[0] == printed[1]


def test_every_sink_write_goes_through_write_sinks(spark, pages, tmp_path, monkeypatch):
    """pipeline.write_sinks is the one sink writer: a checkpoint wave, a
    stream fan-out epoch and a CLI --out run each reach it exactly once."""
    from liblognorm_spark.cli import main
    from liblognorm_spark.pipeline import pipeline as PL
    from liblognorm_spark.pipeline.checkpoint import run_resumable
    from liblognorm_spark.streaming import stream

    calls = []
    real = PL.write_sinks

    def counting(routed, out_dir, fmt="parquet", by=()):
        calls.append(by)
        return real(routed, out_dir, fmt, by)

    monkeypatch.setattr(PL, "write_sinks", counting)
    monkeypatch.setattr(stream, "write_sinks", counting)

    out = str(tmp_path / "chunks")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_resumable(spark, pages, out, n_chunks=4, fail_after=1)  # one wave
    run_resumable(spark, pages, out, n_chunks=4)  # the other three: one wave
    assert calls == [("chunk",)] * 2

    calls.clear()
    src, fan = str(tmp_path / "src"), str(tmp_path / "fan")
    pages.filter("doc_id < 250").write.parquet(src)
    q = stream.start_fanout_query(PL.parse_stage(spark, stream.stream_pages(spark, src)),
                                  fan, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        pages.filter("doc_id >= 250").write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = [d for d in os.listdir(fan) if d.startswith("epoch=")]
    assert len(epochs) == 2 and calls == [("epoch",)] * 2
    assert spark.read.parquet(fan).count() == 500

    calls.clear()
    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=ssh:sshd: %w:word%\n")
    inp = tmp_path / "in.log"
    inp.write_text("sshd: hello\njunk\n")
    assert main(["-r", str(rb), "--spark", "--out", str(tmp_path / "cli"), str(inp)]) == 0
    assert calls == [()]


@pytest.mark.parametrize("flag", [["-T"], ["-L"], ["-U"], ["-H"], ["-s"],
                                  ["-S", "stats.tsv"], ["-x", "stats.dot"], ["-v"]],
                         ids=lambda flag: flag[0])
def test_cli_spark_refuses_ignored_flags(flag, monkeypatch, capsys):
    """--spark has no counterpart for these in-process outputs: it exits 1
    naming the flag, before any Spark session starts."""
    from liblognorm_spark import cli, session

    def no_spark(*a, **k):
        raise AssertionError("get_spark must not run")

    monkeypatch.setattr(session, "get_spark", no_spark)
    assert cli.main(["-R", "version=2\nrule=:%w:word%\n", "--spark", *flag, "in.log"]) == 1
    assert f"{flag[0]} is not supported with --spark" in capsys.readouterr().err


def test_cli_invalid_invocation(tmp_path):
    """tests/lognormalizer-invld-call.sh: missing rulebase and -r with -R
    must both be rejected."""
    r = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli"],
        capture_output=True, text=True, cwd=REPO, input="",
    )
    assert r.returncode == 1 and "no rulebase" in r.stderr
    r2 = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", "test", "-R", "test"],
        capture_output=True, text=True, cwd=REPO, input="",
    )
    assert r2.returncode == 1 and "both -r and -R" in r2.stderr


def test_cli_ctx_opts_and_diagnostics(tmp_path):
    """-o ctx options (addRuleLocation/addRule/addExecPath), -U, -L, -S, -x
    (lognormalizer.c:293-308 handle_generic_option, 420-424, 377-403)."""
    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=tag1:%w:word% %n:number%\n")
    inp = tmp_path / "in.log"
    inp.write_text("hello 42\nnomatch line !\n")
    stats = tmp_path / "stats.tsv"
    dot = tmp_path / "stats.dot"
    r = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb),
         "-oaddRuleLocation", "-oaddRule", "-oaddExecPath",
         "-U", "-L", "-S", str(stats), "-x", str(dot), str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0
    lines = r.stdout.strip().split("\n")
    ev0 = json.loads(lines[0])
    meta = ev0["metadata"]
    assert meta["rule"]["location"]["file"] == str(rb)
    assert meta["rule"]["location"]["line"] == 2
    assert "%w:word%" in meta["rule"]["mockup"]
    assert "word" in meta["exec-path"] and "PATHLEN" in meta["exec-path"]
    ev1 = json.loads(lines[1])
    assert ev1["lognormalizer.line_nbr"] == 2  # unparsed row gets line nbr
    assert "1 unparsable entries" in r.stderr  # -U
    st = stats.read_text()
    assert "rule_id" in st and "\t1\t" in st  # one match recorded
    assert "matches: 1" in dot.read_text()
    # invalid -o exits 1 (lognormalizer.c:304)
    r2 = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb),
         "-obogus", str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r2.returncode == 1 and "invalid -o option" in r2.stderr


def test_exec_path_backtrack_deviation():
    """Pins the DOCUMENTED deviation from the reference (matcher.py
    _exec_path_of): the vectorized engine reconstructs the deterministic
    final path, so exec-path on an input that made the reference's walker
    backtrack carries the matched rule's entries + PATHLEN trailer but NO
    '[B]' backtrack markers (pdag.c:1268-1293 would emit them)."""
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime.matcher import match_batch

    # shared literal prefix; the number branch is tried first and fails on
    # 'xyz', forcing a backtrack into the word branch
    rb = Rulebase.from_string(
        "version=2\nrule=num:a %n:number%\nrule=word:a %w:word%\n",
        opts={"addExecPath"},
    )
    crb = compile_rulebase(rb)
    res = match_batch(crb, pd.Series(["a xyz"]))
    assert res["unparsed_data"][0] is None
    ev = json.loads(res["fields_json"][0])
    assert ev["w"] == "xyz" and "word" in ev["event.tags"]
    ep = ev["metadata"]["exec-path"]
    assert "word" in ep and "PATHLEN" in ep and "PARSER CALLS" in ep
    assert "[B]" not in ep  # the deviation: no backtrack markers


def test_cli_version_and_verbose(tmp_path):
    """-V prints version lines to stderr and exits 1 (lognormalizer.c:361,
    printVersion:283-290); -v adds per-line diagnostics to stderr
    (c:231,135,504); -vv prints the missing-tag note to STDOUT (c:162)."""
    r = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-V"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 1
    assert "lognormalizer version:" in r.stderr
    assert "liblognorm version:" in r.stderr
    assert "advanced stats:" in r.stderr
    assert r.stdout == ""

    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=tag1:%w:word% %n:number%\n")
    inp = tmp_path / "in.log"
    inp.write_text("hello 42\n")
    rv = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb), "-v", str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert rv.returncode == 0
    assert "number of tree nodes: 1" in rv.stderr
    assert "To normalize: 'hello 42'" in rv.stderr
    assert "normalized: '" in rv.stderr
    assert json.loads(rv.stdout.strip())["w"] == "hello"  # stdout unchanged

    rvv = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb),
         "-v", "-v", "-t", "notag", str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert "Mandatory tag 'notag' has not been found" in rvv.stdout
    assert "1 entries with wrong tag dropped" in rvv.stderr


def test_cli_filters_and_encoders(tmp_path):
    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=tag1:%w:word%\n")
    inp = tmp_path / "in.log"
    inp.write_text("hello\nbad line\n")
    r = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb), "-p",
         "-e", "csv", "-E", "w", str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.stdout.strip() == '"hello"'
    r2 = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb), "-P", str(inp)],
        capture_output=True, text=True, cwd=REPO,
    )
    out = json.loads(r2.stdout.strip())
    assert out["unparsed-data"] == " line"  # word consumed "bad" (longest parse)


def test_multimodal_plumbing(spark, pages):
    from liblognorm_spark.functions.multimodal import decode_media
    from pyspark.sql import functions as F

    df = pages.limit(10).withColumn("html", F.encode(F.col("text"), "UTF-8"))
    meta = decode_media(df, binary_col="html", id_cols=("url",)).collect()
    assert len(meta) == 10
    assert all(m["media_bytes"] > 0 and m["width"] >= 64 for m in meta)
    # determinism
    meta2 = decode_media(df, binary_col="html", id_cols=("url",)).collect()
    assert sorted(m["media_md5"] for m in meta) == sorted(m["media_md5"] for m in meta2)


def test_stateful_host_counters(spark, pages, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches."""
    from liblognorm_spark.pipeline.pipeline import parse_stage
    from liblognorm_spark.streaming.stream import stateful_host_counters, stream_pages

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    half1 = pages.filter("doc_id < 250")
    half2 = pages.filter("doc_id >= 250")
    half1.write.mode("overwrite").parquet(src)
    agg = stateful_host_counters(parse_stage(spark, stream_pages(spark, src)))
    q = (agg.writeStream.outputMode("update").format("memory")
         .queryName("hostcnt").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        # second micro-batch arrives: counters must accumulate
        half2.write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT host, max(n_parsed) AS p FROM hostcnt GROUP BY host"
        ).collect()
    finally:
        q.stop()
    total = sum(r["p"] for r in rows)
    assert total == 500  # all docs counted across both micro-batches
    h0 = {r["host"]: r["p"] for r in rows}["h0"]
    # hot host: all even doc_ids (250) + odd multiples of 97 (97, 291, 485)
    assert h0 == 253


def test_salted_repartition_same_results(spark, pages):
    """Explicit salted repartition (skew handling for the hot host) must
    not change results — only the physical distribution."""
    from liblognorm_spark.pipeline import pipeline as PL

    plain = PL.aggregate_stage(
        PL.route_stage(PL.enrich_stage(spark, PL.parse_stage(spark, pages)))
    ).collect()
    salted = PL.aggregate_stage(
        PL.route_stage(
            PL.enrich_stage(spark, PL.parse_stage(spark, pages, salt_parts=16))
        )
    ).collect()
    assert sorted((r["sink"], r["n"]) for r in plain) == sorted(
        (r["sink"], r["n"]) for r in salted
    )


def test_streaming_dedup(spark, pages, tmp_path):
    """Exact streaming dedup across micro-batches: the same 500 urls
    written twice into the source dir collapse back to 500 (state keyed on
    url within the watermark)."""
    from liblognorm_spark.streaming.stream import dedup_stream, stream_pages

    src = str(tmp_path / "dd_src")
    pages.write.mode("overwrite").parquet(src)
    pages.write.mode("append").parquet(src)  # exact duplicate batch
    deduped = dedup_stream(stream_pages(spark, src), key_cols=("url",))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(DISTINCT url) c, count(*) n FROM t_dedup").collect()[0]
    finally:
        q.stop()
    assert n["c"] == 500 and n["n"] == 500


def test_sampling_deterministic_across_partitioning(spark):
    """The sampler and the packer must produce IDENTICAL results whatever
    the physical partitioning (the determinism claim that makes re-runs,
    resumes, and audits see the same subset/bins)."""
    from liblognorm_spark.functions.sampling import pack_into_bins, stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for op in (
        lambda d: stratified_sample(d, {"en": 500, "de": 250}).select("doc_id"),
        lambda d: pack_into_bins(d, budget_tokens=2048, n_shards=8),
    ):
        a = sorted(map(tuple, op(docs).collect()))
        b = sorted(map(tuple, op(docs.repartition(17)).collect()))
        c = sorted(map(tuple, op(docs.coalesce(1)).collect()))
        assert a == b == c
        assert len(a) > 0


def test_pack_into_bins_zero_token_prefix_clamped(spark):
    """ADVICE (round 3): a leading run of 0-token docs has running sum 0;
    the clamped greatest(run-1, 0) keeps them in bin 0 (matching the
    DuckDB oracle, which uses the same clamp) instead of floor(-1/b) = -1."""
    from liblognorm_spark.functions.sampling import pack_into_bins

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two three"), (4, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pack_into_bins(docs, budget_tokens=2, n_shards=1).collect()}
    assert all(r["bin"] >= 0 for r in rows.values())
    assert rows[1]["bin"] == 0 and rows[2]["bin"] == 0  # 0-token prefix
    assert rows[1]["n_tokens"] == 0 and rows[3]["n_tokens"] == 3


def test_boilerplate_ngrams_ground_truth(spark):
    """Planted boilerplate with KNOWN document frequencies (round-3 verdict:
    the corpus oracle used to compare empty sets).  7 docs share a footer
    3-gram chain, 4 share a header, and the per-doc distinct must dedupe a
    doc that repeats the footer twice."""
    from liblognorm_spark.functions.text import boilerplate_ngrams

    footer = "copyright acme corp"            # one 3-gram, 7 docs
    header = "cookie policy banner"           # one 3-gram, 4 docs
    rows = []
    for i in range(7):
        # doc 0 repeats the footer twice -> still ONE distinct occurrence
        body = f"unique words {i} here"
        text = f"{body} {footer} {footer}" if i == 0 else f"{body} {footer}"
        rows.append((i, text))
    for i in range(7, 11):
        rows.append((i, f"{header} other filler {i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["ngram"]: r["n_docs"] for r in boilerplate_ngrams(docs, min_docs=4).collect()}
    # exact expected document-frequency table: cross-boundary 3-grams that
    # span body|footer differ per doc ("{i} here copyright"), so only the
    # pure boilerplate chains survive min_docs=4
    assert got == {
        "here copyright acme": 7,
        "copyright acme corp": 7,
        "cookie policy banner": 4,
        "policy banner other": 4,
        "banner other filler": 4,
    }


def test_strip_boilerplate_ground_truth(spark):
    """Planted shared segments must vanish; unique segments survive in
    original order; a fully-boilerplate doc ends up with empty text."""
    from liblognorm_spark.functions.dedup import unpersist_dedup_caches
    from liblognorm_spark.functions.text import strip_boilerplate

    footer = "copyright acme corp"  # one aligned 3-word segment
    rows = []
    for i in range(5):
        # doc layout: [unique seg][footer seg] — both 3 words, aligned
        rows.append((i, f"alpha beta g{i} {footer}"))
    rows.append((100, footer))           # fully boilerplate
    rows.append((101, "one two three"))  # untouched
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in strip_boilerplate(docs, k=3, min_docs=5).collect()}
    unpersist_dedup_caches()
    assert len(got) == 7
    for i in range(5):
        assert got[i]["clean_text"] == f"alpha beta g{i}"
        assert got[i]["n_segs"] == 2 and got[i]["n_removed"] == 1
    assert got[100]["clean_text"] == "" and got[100]["n_removed"] == 1
    assert got[101]["clean_text"] == "one two three" and got[101]["n_removed"] == 0


def test_streaming_decontaminate_incremental_with_restart(spark, tmp_path):
    """foreachBatch incremental decontaminate (round 5): per micro-batch
    the stream runs the SAME broadcast-join plan as the batch operator
    against a once-persisted benchmark n-gram set, so the union of all
    epochs must equal the batch result on the same input — verified here
    across a stop/restart boundary (checkpoint resume, no duplicates),
    with PLANTED leaks so the comparison is never empty==empty."""
    from pyspark.sql import functions as F

    from liblognorm_spark.functions.dedup import decontaminate
    from liblognorm_spark.streaming.stream import decontaminate_stream

    docs_all = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    bench = docs_all.where("doc_id % 97 = 3")
    leaked = bench.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = docs_all.where("doc_id % 97 <> 3").unionByName(leaked)
    expected = {(r["doc_id"], r["n_shared_ngrams"])
                for r in decontaminate(corpus, bench).collect()}
    leaked_ids = {r["doc_id"] for r in leaked.collect()}
    assert leaked_ids <= {d for d, _ in expected}  # planted leaks flagged

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half1 = corpus.where("doc_id % 2 = 0")
    half2 = corpus.where("doc_id % 2 = 1")
    half1.write.mode("overwrite").parquet(src)

    def start():
        stream = spark.readStream.schema(corpus.schema).parquet(src)
        return decontaminate_stream(stream, bench, out, ckpt)

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # restart with the same checkpoint: only the NEW files are processed
    half2.write.mode("append").parquet(src)
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got_rows = spark.read.parquet(out)
    got = {(r["doc_id"], r["n_shared_ngrams"]) for r in got_rows.collect()}
    assert got == expected
    # committed epochs were not replayed: each doc flagged exactly once
    assert got_rows.count() == len(expected)
