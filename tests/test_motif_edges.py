"""Targeted edge-case tests for C-semantics quirks emulated from the
reference parsers (beyond what the ported corpus covers)."""

from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.matcher import normalize_strings
from tests.conftest import json_subset_eq


def run1(rb_text, line):
    return normalize_strings(Rulebase.from_string(rb_text), [line])[0]


def test_hexnumber_eos_fails():
    # parser.c:1017: hexnumber must be followed by isspace; EOS fails
    out = run1("version=2\nrule=:%h:hexnumber%", "0xff")
    assert "unparsed-data" in out
    out = run1("version=2\nrule=:%h:hexnumber% ", "0xff ")
    assert out.get("h") == "0xff"


def test_hexnumber_empty_digits():
    # C quirk: '0x' followed by space parses as '0x' (no digit required)
    out = run1("version=2\nrule=:%h:hexnumber% x", "0x x")
    assert out.get("h") == "0x"


def test_float_lone_minus_and_dot():
    # parser.c:883-941: '-' and '.' alone are valid floats (1 char consumed)
    assert run1("version=2\nrule=:%f:float%!", "-!")["f"] == "-"
    assert run1("version=2\nrule=:%f:float%!", ".!")["f"] == "."
    assert run1("version=2\nrule=:%f:float%!", "-.5!")["f"] == "-.5"
    # second dot terminates
    assert run1("version=2\nrule=:%f:float%.3!", "1.2.3!")["f"] == "1.2"


def test_float_format_number_degenerate():
    """format:number on the degenerate C-quirk floats: the reference
    accumulates digits into a double (parser.c:893-930), so lone '-'/'.'
    coerce to (-)0.0 instead of crashing (deep-fuzz find, round 3)."""
    rb = 'version=2\nrule=:%f:float{"format":"number"}%!'
    assert run1(rb, "-!")["f"] == 0.0 and str(run1(rb, "-!")["f"]) == "-0.0"
    assert run1(rb, ".!")["f"] == 0.0
    assert run1(rb, "-.5!")["f"] == -0.5
    assert run1(rb, "12.25!")["f"] == 12.25


def test_rest_matches_empty():
    # parser.c:1579-1593 + doc deviation: rest always succeeds, even empty
    assert run1("version=2\nrule=:a%r:rest%", "a")["r"] == ""


def test_char_sep_eos():
    # parser.c:1518-1546: char-sep always succeeds, EOS ok, empty ok
    assert run1("version=2\nrule=:%v:char-sep:;%", "abc")["v"] == "abc"
    assert run1("version=2\nrule=:%v:char-sep:;%;x", ";x")["v"] == ""


def test_quoted_asymmetry():
    # quoted-string keeps quotes (parser.c:1678); op-quoted strips (1636)
    assert run1("version=2\nrule=:%q:quoted-string%", '"hi"')["q"] == '"hi"'
    assert run1("version=2\nrule=:%q:op-quoted-string%", '"hi"')["q"] == "hi"
    # op-quoted unquoted word is NOT stripped
    assert run1("version=2\nrule=:%q:op-quoted-string%", "hi")["q"] == "hi"


def test_word_stops_at_space_only():
    # word terminates only at 0x20, not tab (parser.c:1186-1211)
    assert run1("version=2\nrule=:%w:word%", "a\tb")["w"] == "a\tb"


def test_ipv4_no_backtrack_on_octets():
    # chkIPv4AddrByte is greedy: '1.2.3.456' cannot shorten to '...45'
    out = run1("version=2\nrule=:%i:ipv4%6", "1.2.3.456")
    assert "unparsed-data" in out


def test_ipv6_space_termination():
    # parser.c:2154-2155: ipv6 must be followed by space or EOS
    assert run1("version=2\nrule=:%i:ipv6%", "::1")["i"] == "::1"
    out = run1("version=2\nrule=:%i:ipv6%,x", "::1,x")
    assert "unparsed-data" in out


def test_string_to_searches_from_offs_plus_one():
    # parser.c:1222-1265: search starts at offs+1 -> value is >=1 char
    assert run1("version=2\nrule=:%v:string-to:ab%ab", "xab")["v"] == "x"
    out = run1("version=2\nrule=:%v:string-to:ab%ab", "ab")  # match at offs impossible
    assert "unparsed-data" in out


def test_number_maxval_rejects_whole_rule():
    out = run1('version=2\nrule=:%n:number{"maxval":10}%', "11")
    assert "unparsed-data" in out
    assert run1('version=2\nrule=:%n:number{"maxval":10}%', "10")["n"] == "10"


def test_rfc3164_quirks():
    rb = "version=2\nrule=:%d:date-rfc3164% x"
    # year in hour position skipped
    assert run1(rb, "Oct 29 2016 09:47:08 x")["d"] == "Oct 29 2016 09:47:08"
    # 1-digit day with double space
    assert run1(rb, "Oct  9 09:47:08 x")["d"] == "Oct  9 09:47:08"
    # trailing colon eaten
    assert run1(rb, "Oct 29 09:47:08: x")["d"] == "Oct 29 09:47:08:"
    # second 60 allowed (leap)
    assert run1(rb, "Oct 29 09:47:60 x")["d"] == "Oct 29 09:47:60"
    # mixed-case month
    assert run1(rb, "oCt 29 09:47:08 x")["d"] == "oCt 29 09:47:08"


def test_annotation_overrides_parsed_field():
    # json_object_object_add replaces: annotation wins over parsed field
    rb = 'version=2\nrule=t:%sev:word%\nannotate=t:+sev="forced"'
    assert run1(rb, "low")["sev"] == "forced"


def test_duplicate_field_leftmost_wins():
    # bottom-up fixJSON attach: leftmost parser's value survives
    assert run1("version=2\nrule=:%x:word% %x:number%", "a 5")["x"] == "a"


def test_surrogate_bytes_serialize():
    # undecodable input bytes (errors='surrogateescape') must not crash
    # serialization — the reference is byte-oriented (NUL-safe, UTF-8
    # "passive mode", liblognorm.h:24-35)
    raw = b"\xff\xfe\x00weird".decode("utf-8", errors="surrogateescape")
    out = run1("version=2\nrule=:%w:word%\n", raw)
    assert out.get("originalmsg") == raw or "w" in out


def test_rule_metadata_options():
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.runtime.matcher import match_batch
    import json

    crb = compile_rulebase(Rulebase.from_string(
        "version=2\nrule=t:%w:word%\n",
        opts={"addRuleLocation", "addRule", "addOriginalMsg"}))
    r = match_batch(crb, pd.Series(["hi"]))
    ev = json.loads(r["fields_json"][0])
    assert ev["originalmsg"] == "hi"
    assert ev["metadata"]["rule"]["mockup"] == "%w:word%"
    assert ev["metadata"]["rule"]["location"]["line"] == 2


def test_duration_ported():
    # hand-ported tests/field_duration.sh (its last case uses
    # assert_output_contains which the auto-porter skips)
    rb = "version=2\nrule=:duration %field:duration% bytes\nrule=:duration %field:duration%\n"
    for line, want in [
        ("duration 0:00:42 bytes", "0:00:42"),
        ("duration 0:00:42", "0:00:42"),
        ("duration 9:00:42 bytes", "9:00:42"),
        ("duration 00:00:42 bytes", "00:00:42"),
        ("duration 37:59:42 bytes", "37:59:42"),
    ]:
        assert run1(rb, line)["field"] == want, line
    out = run1(rb, "duration 37:60:42 bytes")
    assert out["unparsed-data"] == "37:60:42 bytes"


def test_nvl_trailing_lone_backslash():
    """'0=\\' is a valid single pair whose value is the lone backslash
    (the C escape scan consumes it at EOS) — and the FRAGMENT must agree,
    or the pair falls through to lower-priority rules on the fast path
    only (found by fuzzing)."""
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime.matcher import match_batch

    rb = Rulebase.from_string("version=2\nrule=kv:%f:name-value-list%\nrule=fb:%m:rest%\n")
    crb = compile_rulebase(rb)
    out = match_batch(crb, pd.Series(["0=\\"], dtype=object))
    assert int(out["rule_id"][0]) == 0, out["fields_json"][0]
    import json

    assert json.loads(out["fields_json"][0])["f"] == {"0": "\\"}


def test_reference_user_test_c_case():
    """tests/user_test.c: the reference's C-API smoke (single from_string
    rule, two word fields)."""
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime.matcher import normalize_strings

    rb = Rulebase.from_string("rule=:%from:word% says %msg:word%")
    out = normalize_strings(rb, ["foo says hello!"])[0]
    assert out == {"from": "foo", "msg": "hello!"}


def test_float_fraction_possessive():
    """'float%.' must NOT match '...2.' — the C float parser consumes the
    trailing dot possessively and never backtracks (fuzz-found: the regex
    fragment's optional fraction group used to give the dot back)."""
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime.matcher import match_batch

    rb = Rulebase.from_string("rule=:n %f:float%.\n")
    crb = compile_rulebase(rb)
    out = match_batch(crb, pd.Series(["n 2.71.", "n 2."], dtype=object))
    assert int(out["rule_id"][0]) == 0      # '2.71' + literal '.'
    assert int(out["rule_id"][1]) == -1     # float eats '2.', literal fails


def test_cohort_keeps_custom_fragment_after_walker_only_rule():
    """A walker-only rule ahead of a cohort must not drop custom-type
    fragments from the cohort pattern (fuzz-found while one compile ctx
    was shared across rules: a discard-named user type vanished, so
    'a pid[47119 b' — missing the ']' — falsely matched on the fast
    path, and genuinely matching rows fell to the slow fallback)."""
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime.matcher import match_batch

    rb = Rulebase.from_string(
        "version=2\n"
        'type=@endpid:%{"type":"alternative","parser":[ {"type": "literal", "text":"]"},'
        '{"type": "literal", "text":"]:"} ] }%\n'
        "type=@w:%iface:char-to:/%/%ip:ipv4%\n"
        "type=@w:%iface:char-to:\\x3a%\\x3a%ip:ipv4%\n"
        "rule=:a pid[%pid:number%%-:@endpid% b\n"
        "rule=:a iface %.:@w% b\n"  # merged-head type -> walker-only
    )
    crb = compile_rulebase(rb)
    from liblognorm_spark.compiler.compiler import MatchCohort

    master = next(c for c in crb.cohorts if isinstance(c, MatchCohort)).pattern.pattern
    assert "\\]" in master, master  # the @endpid literals are in the master
    out = match_batch(crb, pd.Series(
        ["a pid[47119 b", "a pid[47119] b", "a pid[47119]: b"], dtype=object))
    assert [int(x) for x in out["rule_id"]] == [-1, 0, 0]


def test_fallback_memo_batches_and_options():
    """The cross-batch unmatched-diagnostics memo (matcher._FB_MEMO_MAX)
    must be invisible: repeated batches give identical results, and a
    rulebase whose context options decorate the event never shares a memo
    with one that has none."""
    import pandas as pd

    from liblognorm_spark.compiler.compiler import compile_rulebase
    from liblognorm_spark.rulebase.loader import Rulebase
    from liblognorm_spark.runtime.matcher import match_batch

    crb = compile_rulebase(Rulebase.from_string(
        "version=2\nrule=t:prog[%pid:number%] ok\n"))
    texts = pd.Series(["prog[1] ok", "prog[x] nope", "junk", "prog[x] nope"],
                      dtype=object)
    a = match_batch(crb, texts)           # cold: memo populated
    b = match_batch(crb, texts)           # warm: served from memo
    pd.testing.assert_frame_equal(a, b)
    assert a["unparsed_data"][1] == a["unparsed_data"][3] == "x] nope"
    assert a["originalmsg"][2] == "junk"

    # options on the rulebase decorate the matched event; a fallback-
    # matched row is decorated on a warm memo too, and each rulebase's memo
    # holds only its own options' events
    rb2 = "version=2\nrule=t:%f:json%\n"  # walker-only motif -> fallback
    plain_crb = compile_rulebase(Rulebase.from_string(rb2))
    deco_crb = compile_rulebase(Rulebase.from_string(rb2, opts={"addRuleLocation"}))
    t2 = pd.Series(['{"a": 1}'], dtype=object)
    import json as J
    for _ in range(2):  # cold, then served from each rulebase's memo
        plain = match_batch(plain_crb, t2)
        assert "metadata" not in J.loads(plain["fields_json"][0])
        deco = match_batch(deco_crb, t2)
        assert J.loads(deco["fields_json"][0])["metadata"]["rule"]["location"]["line"] == 2
