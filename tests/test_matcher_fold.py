"""match_batch vs the exact walker on routing-sensitive rulebase shapes.

Every row `match_batch` returns must equal what the reference-semantics
walker (`normalize_message` over the whole rulebase in priority order)
produces: the same rule, event, parsedTo and unparsed-data.  The shapes
are the ones that could break the leading-literal dispatch: shared
literal prefixes, rules without a leading literal (a candidate for every
row), walker-only rules, literals longer than the 16-char dispatch
window, complex (validated) fields with Reject fallbacks, annotations,
near-miss rows and decoration options.  The test names are those of the
former sole-rule fold's tests, whose fixtures they keep as inputs.
Each batch is matched twice on one compiled rulebase, so the second pass
runs on warm dispatch and unmatched-row memos.  The last test pins the
compiled form the matcher ships: cohort patterns and nothing else.
"""

import gc
import json
import re
import types

import pandas as pd

from liblognorm_spark.compiler.compiler import MatchCohort, compile_rulebase
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime import matcher as M
from liblognorm_spark.runtime.walker import normalize_message


def _assert_matches_walker(rb_text: str, texts: list, opts=frozenset()):
    crb = compile_rulebase(Rulebase.from_string(rb_text, opts=opts))
    s = pd.Series(texts, dtype=object)
    fallback_texts = []

    def recording(rules, text, *a, **k):
        fallback_texts.append(text)
        return normalize_message(rules, text, *a, **k)

    M.normalize_message = recording
    try:
        out = M.match_batch(crb, s)
    finally:
        M.normalize_message = normalize_message
    assert out.equals(M.match_batch(crb, s))  # warm memos
    # routing must reach every matching rule: the walker fallback only
    # sees rows that no rule matches (no fixture has a rejected row that
    # another rule matches)
    assert all(out["rule_id"][texts.index(t)] == -1 for t in fallback_texts)
    for i, t in enumerate(texts):
        rule, ev, pto = normalize_message(
            crb.ordered_rules, t, crb.types, crb.annotations,
            v1_engine=crb.version == 1)
        assert out["rule_id"][i] == (rule.rule_id if rule is not None else -1), t
        assert out["parsed_to"][i] == pto, t
        got = json.loads(out["fields_json"][i])
        if rule is None:
            assert out["unparsed_data"][i] == ev["unparsed-data"], t
            assert out["originalmsg"][i] == t
        else:
            assert out["unparsed_data"][i] is None, t
            if "addOriginalMsg" in opts:
                assert got.pop("originalmsg") == t
            meta = got.pop("metadata", {}).get("rule", {})
            if "addRuleLocation" in opts:
                assert meta["location"] == {"file": rule.rb_file, "line": rule.rb_line}
            if "addRule" in opts:
                assert meta["mockup"] == rule.raw
        assert got == ev, t
    return out


# filler rules/rows: >64 distinct dispatch prefixes per batch
def _pad_rules(n=80):
    return "\n".join(
        f"rule=f{i}:filler{i}: %v:number%" for i in range(n))


def _pad_rows(n=80):
    return [f"filler{i}: {i}" for i in range(n)]


# walker-only: a repeat with permitMismatchInParser has no regex twin
_REPEAT = ('%{"name":"n","type":"repeat","parser":{"name":"x","type":"number"},'
           '"while":{"type":"literal","text":":"},'
           '"option.permitMismatchInParser":true}%')


def test_fold_applies_and_matches_disabled_path():
    rb = "version=2\n" + _pad_rules() + "\n"
    _assert_matches_walker(rb, _pad_rows() + ["fillerX: nope", "junk"])


def test_shared_prefix_rules_never_fold():
    rb = ("version=2\n"
          "rule=a:sshd[%pid:number%]: accepted %u:word%\n"
          "rule=b:sshd[%pid:number%]: failed %u:word%\n" + _pad_rules() + "\n")
    texts = ["sshd[1]: accepted root", "sshd[2]: failed eve",
             "sshd[3]: closed"] + _pad_rows()
    _assert_matches_walker(rb, texts)


def test_wildcard_rule_disables_fold_globally():
    # a rule without a leading literal is a candidate for every row
    rb = ("version=2\n"
          "rule=w:%all:rest%\n" + _pad_rules() + "\n")
    _assert_matches_walker(rb, _pad_rows() + ["anything at all", ""])


def test_walker_only_sole_rule_not_folded():
    rb = f"version=2\nrule=r:wonly {_REPEAT}\n" + _pad_rules() + "\n"
    _assert_matches_walker(rb, ["wonly 1:2:3", "wonly x", "wonl"] + _pad_rows())


def test_complex_fields_and_annotations_fold_identically():
    # maxval forces the complex-extract path; annotate exercises
    # extra_fields; a failing maxval row exercises Reject -> walker
    rb = ("version=2\n"
          "rule=t,h:cplx[%pid:number{\"maxval\":100}%] %ip:ipv4%\n"
          "annotate=t:+sev=\"hi\"\n" + _pad_rules() + "\n")
    texts = ["cplx[42] 10.0.0.1", "cplx[999] 10.0.0.1",
             "cplx[7] 10.0.0.999"] + _pad_rows()
    _assert_matches_walker(rb, texts)


def test_decorated_output_fold_identically():
    rb = "version=2\n" + _pad_rules() + "\n"
    _assert_matches_walker(rb, _pad_rows() + ["junk"],
                           opts={"addOriginalMsg", "addRuleLocation", "addRule"})


def test_prefilter_longer_than_dispatch_window():
    # rule literals that share the whole dispatch window and differ after it
    long_a = "L" * (M._DISPATCH_MAX_DEPTH + 4) + "A"
    long_b = "L" * (M._DISPATCH_MAX_DEPTH + 4) + "B"
    rb = ("version=2\n"
          f"rule=la:{long_a} %v:number%\n"
          f"rule=lb:{long_b} %v:number%\n" + _pad_rules() + "\n")
    texts = [f"{long_a} 1", f"{long_b} 2", f"{long_a} x",
             "L" * (M._DISPATCH_MAX_DEPTH + 2)] + _pad_rows()
    _assert_matches_walker(rb, texts)


def test_few_distinct_prefixes_batch():
    # under 64 distinct dispatch prefixes, rows routed to several cohorts
    # (a literal rule plus rules every row can reach) and to none;
    # "sshd[1]: closed" is matched by a rule without a leading literal
    rb = ("version=2\n"
          "rule=a:sshd[%pid:number%]: accepted %u:word%\n"
          f"rule=w:wonly {_REPEAT}\n"
          "rule=kv:%f:name-value-list%\n"
          "rule=wc:%w:word% closed\n"
          "rule=b:sshd[%pid:number%]: failed %u:word%\n")
    texts = ["sshd[1]: accepted root", "sshd[1]: failed eve", "a=1 b=2",
             "wonly 1:2", "sshd[1]: closed", "", "sshd[1]: accepted root"] * 3
    _assert_matches_walker(rb, texts)


def test_walker_only_literal_past_dispatch_window():
    # the walker-only rule's literal runs past the 16-char window: rows that
    # share the window but not the literal reach it through dispatch and
    # must still fall through to the regex rule and the fallback
    lit = "walkeronly-long-literal-prefix"
    rb = ("version=2\n"
          f"rule=w:{lit} {_REPEAT}\n"
          "rule=r:walkeronly-long-other %v:number%\n")
    texts = [f"{lit} 1:2:3", f"{lit} x", "walkeronly-long-other 7",
             "walkeronly-long-other x", "walkeronly-long-literal-pre",
             "walkeronly-lo"]
    crb = compile_rulebase(Rulebase.from_string(rb))
    assert not isinstance(crb.cohorts[0], MatchCohort)  # the rule really is walker-only
    out = _assert_matches_walker(rb, texts)
    assert out["unparsed_data"].isna().tolist() == [True, False, True, False, False, False]


def test_char_sep_without_separator_in_cohort():
    # char-sep with no separator consumes to the end of the string
    # (parse_char_sep); its regex twin does the same, so the rule is
    # matched by its cohort pattern rather than by the walker
    rb = ("version=2\n"
          "rule=cs:csep %x:char-sep%\n"
          "rule=ct:csept %x:char-sep% tail\n" + _pad_rules() + "\n")
    crb = compile_rulebase(Rulebase.from_string(rb))
    assert all(isinstance(c, MatchCohort) for c in crb.cohorts)
    texts = ["csep abc, def;x", "csep ", "csep", "csept x tail",
             "csept  tail", "csepx"] + _pad_rows()
    _assert_matches_walker(rb, texts)


def _reachable_patterns(root):
    """re.Pattern objects reachable from `root` through instances and
    containers (classes, modules and functions are not followed)."""
    seen, found, stack = set(), [], [root]
    skip = (type, types.ModuleType, types.FunctionType, str, bytes, int, float)
    while stack:
        obj = stack.pop()
        if id(obj) in seen or isinstance(obj, skip):
            continue
        seen.add(id(obj))
        if isinstance(obj, re.Pattern):
            found.append(obj)
        else:
            stack.extend(gc.get_referents(obj))
    return found


def test_cohort_patterns_are_the_only_compiled_regexes():
    from tools.bench_rulebase_scale import build_rulebase

    crb = compile_rulebase(Rulebase.from_string(build_rulebase(256)))
    cohort_patterns = [c.pattern for c in crb.cohorts if isinstance(c, MatchCohort)]
    assert len(cohort_patterns) == 4  # 256 regexable rules, 64 per cohort
    assert sorted(map(id, _reachable_patterns(crb))) == sorted(map(id, cohort_patterns))


def test_pickled_rulebase_leaves_worker_caches_behind():
    """A rulebase the driver has matched with pickles, plainly and with
    cloudpickle, to the size of a freshly compiled one: the matcher's and
    walker's lazily built caches (the dispatch trie's closures, the memos)
    are not shipped, and the unpickled copy matches the same rows
    identically."""
    import pickle
    import random

    from pyspark import cloudpickle

    from perfbench.workloads import nearmiss_rows, nearmiss_rulebase

    rng = random.Random(1)
    rb_text = nearmiss_rulebase(256, rng)
    texts = pd.Series([r[3] for r in nearmiss_rows(2000, 256, rng)[0]], dtype=object)

    def compiled():
        return compile_rulebase(Rulebase.from_string(rb_text, opts=frozenset({"addExecPath"})))

    crb = compiled()
    out = M.match_batch(crb, texts)
    assert all(hasattr(crb, name) for name in ("_trie", "_dispatch_memo_cache", "_exec_paths", "_fb_memo"))
    for dumps, loads in ((pickle.dumps, pickle.loads), (cloudpickle.dumps, cloudpickle.loads)):
        blob = dumps(crb)
        assert len(blob) == len(dumps(compiled()))
        assert M.match_batch(loads(blob), texts).equals(out)
