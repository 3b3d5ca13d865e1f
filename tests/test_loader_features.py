"""Hand-ported reference tests not expressible in the auto-ported corpus:
include files (tests/include.sh, include_RULEBASES.sh), missing line ending
(tests/missing_line_ending.sh), very long loglines
(tests/very_long_logline.sh), runaway-rule detection
(tests/runaway_rule.sh, runaway_rule_comment.sh)."""

import os

from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import normalize_strings
from tests.conftest import json_subset_eq


def test_include(tmp_path):
    # tests/include.sh: rule in included file, prefix state shared
    inc = tmp_path / "inc.rulebase"
    inc.write_text("rule=:%w:word%\n")
    main = tmp_path / "main.rulebase"
    main.write_text(f"version=2\ninclude={inc.name}\n")
    rb = Rulebase.from_file(str(main))
    assert rb.errors == []
    json_subset_eq({"w": "test"}, normalize_strings(rb, ["test"])[0])


def test_include_env_rulebases(tmp_path, monkeypatch):
    # tests/include_RULEBASES.sh: LIBLOGNORM_RULEBASES search path
    d = tmp_path / "rbs"
    d.mkdir()
    (d / "inc.rulebase").write_text("rule=:%n:number%\n")
    main = tmp_path / "main.rulebase"
    main.write_text("version=2\ninclude=inc.rulebase\n")
    monkeypatch.setenv("LIBLOGNORM_RULEBASES", str(d))
    rb = Rulebase.from_file(str(main))
    json_subset_eq({"n": "47"}, normalize_strings(rb, ["47"])[0])


def test_missing_line_ending():
    # tests/missing_line_ending.sh: last line without LF is still processed
    rb = Rulebase.from_string("version=2\nrule=:%w:word%")  # no trailing \n
    json_subset_eq({"w": "abc"}, normalize_strings(rb, ["abc"])[0])


def test_very_long_logline():
    # tests/very_long_logline.sh: 10k 'foo ' repetitions through rest
    rb = Rulebase.from_string("version=2\nrule=:%r:rest%\n")
    msg = "foo " * 10000
    out = normalize_strings(rb, [msg])[0]
    assert out["r"] == msg


def test_runaway_rule():
    # tests/runaway_rule.sh: unmatched % followed by rule= start -> rule
    # dropped with an error, following rule still loads
    rb = Rulebase.from_string(
        "version=2\n"
        "rule=:test %f:word\n"  # unmatched %
        "rule=:%w:word%\n"
    )
    assert any("rule=" in e for e in rb.errors)
    assert len(rb.rules) == 1
    json_subset_eq({"w": "ok"}, normalize_strings(rb, ["ok"])[0])


def test_runaway_rule_comment():
    # tests/runaway_rule_comment.sh: comment lines between the runaway and
    # the next rule= must not defeat detection
    rb = Rulebase.from_string(
        "version=2\n"
        "rule=:test %f:word\n"
        "# a comment line\n"
        "rule=:%w:word%\n"
    )
    assert len(rb.rules) == 1


def test_multiline_rule_inside_parser():
    # newline inside %...% continues the logical line (samp.c:1028-1036)
    rb = Rulebase.from_string(
        "version=2\n"
        'rule=:a %\n {"type":"number", "name":"n"}\n% b\n'
    )
    json_subset_eq({"n": "42"}, normalize_strings(rb, ["a 42 b"])[0])


def test_from_string_api():
    # tests/string_rb_simple.sh / string_rb_simple_2_lines.sh (-R CLI flag)
    rb = Rulebase.from_string("version=2\nrule=:%h:char-to:\\x3a%: %w:word%\n")
    json_subset_eq(
        {"h": "host", "w": "up"}, normalize_strings(rb, ["host: up"])[0]
    )


def test_dot_graph(tmp_path):
    # reference: lognormalizer -d writes a DOT graph (src/pdag.c:1091-1146)
    import subprocess
    import sys

    from tests.conftest import REPO

    rb = tmp_path / "t.rulebase"
    rb.write_text("version=2\nrule=a:x %w:word%\nrule=b:x %n:number%\n")
    dot = tmp_path / "g.dot"
    r = subprocess.run(
        [sys.executable, "-m", "liblognorm_spark.cli", "-r", str(rb), "-d", str(dot)],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0
    text = dot.read_text()
    assert text.startswith("digraph pdag")
    assert "tags: a" in text and "tags: b" in text and "number" in text


def test_dot_graph_shares_literal_prefix():
    # the drawn graph is the PDAG: rules share a literal prefix mid-literal
    # and a single-child literal chain is one node
    import re

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.compiler.dot import rulebase_to_dot

    crb = compile_rulebase(Rulebase.from_string(
        "version=2\nrule=:ab %x:word%\nrule=:ac %y:word%\n"))
    text = rulebase_to_dot(crb)
    labels = dict(re.findall(r'(n\d+) \[label="([^"]*)"', text))
    edges = re.findall(r"(n\d+) -> (n\d+);", text)
    a = [n for n, lab in labels.items() if lab == "'a'"]
    assert len(a) == 1, text
    assert sorted(labels[d] for s, d in edges if s == a[0]) == ["'b '", "'c '"]
    assert [s for s, d in edges if d == a[0]] == ["n1"]  # a root child
    assert sum(lab.startswith("rule ") for lab in labels.values()) == 2
