"""Vectorized batch matcher + Spark integration.

Execution model (the Spark-first replacement for the reference's per-message
``ln_normalize`` loop, src/lognormalizer.c:213-267):

* The rulebase is compiled once on the driver (:func:`compile_rulebase`)
  and shipped to executors inside the Arrow UDF's closure — the
  broadcast-once / read-many design of the reference's immutable PDAG
  (doc/pdag_implementation_model.rst:117-123).
* Every row takes one of four paths, chosen per Arrow batch:

  - **cohort alternation**: one char-trie over the rules' leading
    literals routes the row to the prefix-compatible cohorts, then ONE
    anchored fullmatch per row against each trie-factored cohort pattern
    (prefix sharing + priority branch order, the PDAG discipline); the
    matched rule is identified by its marker group via ``lastindex`` and
    extraction runs only on confirmed matches (two-stage
    detect-then-extract, same shape as the reference's stage-one/stage-two
    parsers, src/parser.c:2276-2318);
  - **walker-only rule**: a rule no regex can express is routed by the same
    trie and tried in priority order with the exact walker;
  - **walker fallback**: rows matching no cohort, and rows whose regex
    match fails value-dependent validation (Reject), run the exact walker
    over the rules whose leading literal prefixes them, which also
    produces the ``unparsed-data`` longest-parse diagnostics;
  - **memoized unmatched**: a fallback result seen before (by full text)
    is reused from a bounded cross-batch memo.

No per-row Python crosses the Spark API surface: the entry point is a
struct-returning scalar Arrow UDF (``normalize_df``) over Arrow record
batches, which reads and returns Arrow arrays without a pandas round-trip.
"""

from __future__ import annotations

import json as _json
import re

import numpy as np
import pandas as pd
import pyarrow as pa

from liblognorm_spark.compiler.compiler import (
    CompiledRulebase,
    MatchCohort,
    _NOT_PART,
    compile_rulebase,
)
from liblognorm_spark.compiler.motifs import Reject
from liblognorm_spark.rulebase.loader import Rulebase
from liblognorm_spark.runtime.walker import attach, normalize_message

# match columns normalize_df appends, in order (DDL form)
MATCH_FIELDS_DDL = (
    "rule_id int, tags array<string>, fields_json string, "
    "unparsed_data string, originalmsg string, parsed_to int, "
    "rb_file string, rb_line int"
)


def _dumps_std(ev: dict) -> str:
    return _json.dumps(ev, ensure_ascii=False, separators=(",", ":"))


try:  # orjson: ~5x faster serialization, same utf-8 output
    import orjson as _orjson

    # bound method for the hot loop's inlined call (the wrapper-function
    # call itself was measurable at matched-heavy batches)
    _ORJSON_DUMPS = _orjson.dumps

    def _dumps(ev: dict) -> str:
        try:
            return _ORJSON_DUMPS(ev).decode()
        except TypeError:
            # orjson rejects surrogate-escaped strings (undecodable input
            # bytes round-tripped via errors='surrogateescape'); the
            # reference is byte-oriented and must not crash on them
            return _dumps_std(ev)

except ImportError:  # pragma: no cover
    _ORJSON_DUMPS = None
    _dumps = _dumps_std


_DISPATCH_MAX_DEPTH = 16  # leading-literal chars a dispatch descends
_DISPATCH_MEMO_MAX = 65536
# cross-batch unmatched-diagnostics memo bounds: entry count AND total key
# bytes (webtext rows can be multi-KB; a count-only cap could hold
# hundreds of MB per worker)
_FB_MEMO_MAX = 65536
_FB_MEMO_MAX_BYTES = 32 << 20
# per-node answers, stored beside the one-char edge keys (never collide)
_COHORTS = "\0c"  # cohort positions whose literal window prefixes the path
_RULES = "\0r"  # rules whose whole literal prefixes the path, in match order


def _literal_trie(crb: CompiledRulebase):
    """One char-trie over the rules' unnamed leading literals
    (``CompiledRule.prefilter``), answering both per-row routing questions:

    * ``dispatch(text)``: the sorted tuple of cohort positions (regex
      cohorts and walker-only rules) that could match `text`, judged on
      its first _DISPATCH_MAX_DEPTH chars.  Without it every row would try
      every cohort (O(R/64) regex calls per row, the measured scale cliff
      at 512-2048 rules).  A rule without a leading literal puts its
      cohort at the root, so that cohort is a candidate for every row.
    * ``candidates(text)``: (rules, lit_credit) for the walker fallback:
      the rules whose whole literal prefixes `text` plus the rules without
      one, in match order, and the descent depth -- the longest common
      prefix of the text with ANY leading literal, i.e. the parsedTo
      credit the pruned rules' per-char literal nodes would have produced
      (the reference credits partial literal progress; see
      walker._literal_partial_credit).

    Every node holds both answers for its whole path, so a query is one
    descent with no set building.  Built lazily on the worker and cached
    on the rulebase, so the shipped rulebase does not carry it."""
    trie = getattr(crb, "_trie", None)
    if trie is not None:
        return trie
    root: dict = {}

    def node_at(lit: str) -> dict:
        node = root
        for ch in lit:
            node = node.setdefault(ch, {})
        return node

    for ci, cohort in enumerate(crb.cohorts):
        members = cohort.rules if isinstance(cohort, MatchCohort) else (cohort,)
        for cr in members:
            node_at(cr.prefilter[:_DISPATCH_MAX_DEPTH]).setdefault(_COHORTS, set()).add(ci)
    for pos, cr in enumerate(crb.rules):  # crb.rules is in match order
        node_at(cr.prefilter).setdefault(_RULES, []).append(pos)

    # give every node the answers for its whole path (iteratively: a
    # literal can be longer than the recursion limit); a node that adds
    # nothing shares its parent's tuples
    ordered = crb.ordered_rules
    stack = [(root, (), (), ())]
    while stack:
        node, cohorts, positions, rules = stack.pop()
        own = node.pop(_COHORTS, None)
        if own:
            cohorts = tuple(sorted(own.union(cohorts)))
        own = node.pop(_RULES, None)
        if own:
            positions = tuple(sorted(own + list(positions)))
            rules = tuple(ordered[i] for i in positions)
        stack.extend((child, cohorts, positions, rules) for child in node.values())
        node[_COHORTS] = cohorts
        node[_RULES] = rules

    def dispatch(text: str) -> tuple:
        node = root
        cohorts = root[_COHORTS]
        for ch in text[:_DISPATCH_MAX_DEPTH]:
            node = node.get(ch)
            if node is None:
                break
            cohorts = node[_COHORTS]
        return cohorts

    def candidates(text: str):
        node = root
        depth = 0
        for ch in text:
            nxt = node.get(ch)
            if nxt is None:
                break
            node = nxt
            depth += 1
        return node[_RULES], depth

    crb._trie = (dispatch, candidates)
    return crb._trie


def _dispatch_memo(crb: CompiledRulebase) -> dict:
    """prefix -> dispatch tuple memo, bounded, kept across batches on the
    compiled rulebase.  Log streams repeat their 16-char prefixes
    (program/host names) for hours, so after warmup a batch's dispatch is
    pure dict hits -- at 8192 rules the trie descent per distinct prefix
    was ~15% of matched-heavy batch time."""
    memo = getattr(crb, "_dispatch_memo_cache", None)
    if memo is None:
        memo = crb._dispatch_memo_cache = {}
    return memo


def _exec_path_of(crb: CompiledRulebase, rule) -> str:
    """metadata.exec-path string for a matched rule (pdag.h:19, emission
    pdag.c:1268-1293 under LN_CTXOPT_ADD_EXEC_PATH).

    The reference records the actual recursive walk (one entry per parser
    call, leading recursion level, literals quoted per char, [R:USR] after
    a custom-type return, [B] on backtrack, and a PATHLEN/PARSER CALLS
    trailer).  The vectorized engine matches without an equivalent walk, so
    this reconstructs the DETERMINISTIC final path — the same entries and
    trailer a backtrack-free reference walk of the matched rule would
    produce; backtrack markers are intentionally absent."""
    cache = getattr(crb, "_exec_paths", None)
    if cache is None:
        cache = crb._exec_paths = {}
    s = cache.get(rule.rule_id)
    if s is None:
        from liblognorm_spark.rulebase.loader import Alt, PNode

        toks: list[str] = []
        nlit = 0
        for item in rule.seq:
            if isinstance(item, Alt):
                toks.append("alternative")
            elif item.ptype == "literal" and item.name is None:
                for ch in item.params.get("text", ""):
                    toks.append(f"'{ch}'")
                    nlit += 1
            elif item.ptype == "custom":
                toks.append(item.params["typename"] + ",[R:USR]")
            else:
                toks.append(item.ptype)
        s = "".join(f"{i + 1}:{t}," for i, t in enumerate(toks))
        s += f"[PATHLEN:{len(toks)}, PARSER CALLS gen:{len(toks)}, literal:{nlit}]"
        cache[rule.rule_id] = s
    return s


def match_batch(crb: CompiledRulebase, texts: pd.Series) -> pd.DataFrame:
    """Normalize a batch of messages.  Returns a DataFrame with columns
    rule_id, fields_json, unparsed_data, originalmsg and parsed_to,
    index-aligned positionally with `texts`.  The per-rule constants
    (tags, rulebase location) are not built here: normalize_df derives
    them JVM-side from rule_id.  Matched events carry the decorations the
    rulebase's context options (``crb.opts``) ask for, see _match_rows."""
    rule_id, fields_json, unparsed, originalmsg, parsed_to = _match_rows(
        crb, texts.to_numpy(dtype=object), texts.notna().to_numpy())
    return pd.DataFrame(
        {
            "rule_id": pd.array(rule_id, dtype="int32"),
            "fields_json": fields_json,
            "unparsed_data": unparsed,
            "originalmsg": originalmsg,
            "parsed_to": pd.array(parsed_to, dtype="int32"),
        }
    )


def _match_rows(crb: CompiledRulebase, tvals: np.ndarray, notna: np.ndarray) -> tuple:
    """The matcher core shared by :func:`match_batch` and the Arrow UDF:
    `tvals` is an object array of texts and `notna` its validity mask.
    Returns the five column lists rule_id, fields_json, unparsed_data,
    originalmsg and parsed_to.

    Matched events are decorated per the context options on the rulebase,
    as the reference keeps them on ``ln_ctx``: addRuleLocation mirrors
    LN_CTXOPT_ADD_RULE_LOCATION (src/pdag.c:1254-1263:
    metadata.rule.location {file,line}), addOriginalMsg
    LN_CTXOPT_ADD_ORIGINALMSG (src/pdag.c:1672-1677), addRule
    LN_CTXOPT_ADD_RULE (src/pdag.c:1246-1251: metadata.rule.mockup, the
    matched rule's template) and addExecPath LN_CTXOPT_ADD_EXEC_PATH."""
    n = len(tvals)
    # plain lists: scalar assignment is ~3x cheaper than numpy setitem
    rule_id: list = [-1] * n
    fields_json: list = [None] * n
    unparsed: list = [None] * n
    originalmsg: list = [None] * n
    parsed_to: list = [0] * n

    remaining = notna.copy()
    need_walker = np.zeros(n, dtype=bool)
    types = crb.types

    from liblognorm_spark.runtime.walker import (
        WalkState,
        flat_items,
        walk_flat,
        walk_seq,
    )

    opts = crb.opts
    add_rule_location = "addRuleLocation" in opts
    add_originalmsg = "addOriginalMsg" in opts
    add_rule_mockup = "addRule" in opts
    add_exec_path = "addExecPath" in opts

    def _decorate(ev, rule, t):
        """Shared option-driven event decoration — ONE definition so the
        fast path and the walker fallback can never drift apart."""
        if add_originalmsg:
            ev["originalmsg"] = t
        if add_rule_location or add_rule_mockup or add_exec_path:
            meta = {}
            meta_rule = {}
            if add_rule_mockup:
                meta_rule["mockup"] = rule.raw
            if add_rule_location:
                meta_rule["location"] = {"file": rule.rb_file, "line": rule.rb_line}
            if meta_rule:
                meta["rule"] = meta_rule
            if add_exec_path:
                meta["exec-path"] = _exec_path_of(crb, rule)
            ev["metadata"] = meta

    # per-row decoration is option-gated; the no-options hot path skips the
    # _decorate call entirely
    decorate_needed = (add_originalmsg or add_rule_location or add_rule_mockup
                       or add_exec_path)

    def _record(pos, cr, ev, t):
        if cr.extra_fields:
            ev.update(cr.extra_fields)
        if decorate_needed:
            _decorate(ev, cr.rule, t)
        rule_id[pos] = cr.rule_id
        fields_json[pos] = _dumps(ev)
        parsed_to[pos] = len(t)
        remaining[pos] = False

    # (A whole-batch pre-pass consulting the unmatched-row memo was tried
    # and removed: it pays a dict get for EVERY row to save only the
    # repeated-unmatched rows' master-regex fails — break-even at ~23%
    # repeat-unmatched share, a net loss on typical streams where
    # unparsed rows are <5%.  The memo stays consulted in the fallback
    # loop, where only previously-unmatched rows pay for it.)

    # route rows to prefix-compatible cohorts instead of scanning every
    # cohort pattern sequentially.  The dispatch result depends only on the
    # first _DISPATCH_MAX_DEPTH chars, and log streams repeat those heavily
    # (program/host prefixes), so the trie descends once per DISTINCT
    # prefix (factorize groups rows C-side) -- and only on first sight: the
    # per-prefix cohort tuple is memoized across batches (bounded), making
    # steady-state dispatch pure dict hits.  Rows are then grouped by their
    # dispatch tuple with ONE vectorized argsort; each cohort gets one
    # row-index slice per distinct tuple naming it (at 8192 rules, per-
    # prefix chunk lists cost ~15% of batch time in thousands of tiny
    # np.concatenate calls).
    dispatch, candidates = _literal_trie(crb)
    dmemo = _dispatch_memo(crb)
    dmemo_get = dmemo.get
    routed: dict[int, list] = {}  # cohort position -> row-index arrays
    notna_idx = np.flatnonzero(notna)
    if len(notna_idx):
        keys = np.array([t[:_DISPATCH_MAX_DEPTH] for t in tvals[notna_idx]],
                        dtype=object)
        codes, uniques = pd.factorize(keys)
        dmemo_room = _DISPATCH_MEMO_MAX - len(dmemo)
        route_ids: dict = {}  # dispatch tuple -> route id
        uroute: list = []
        for u in uniques.tolist():
            cis = dmemo_get(u)
            if cis is None:
                cis = dispatch(u)
                if dmemo_room > 0:
                    dmemo[u] = cis
                    dmemo_room -= 1
            uroute.append(route_ids.setdefault(cis, len(route_ids)))
        row_route = np.array(uroute, dtype=np.int64)[codes]
        rows_sorted = notna_idx[np.argsort(row_route, kind="stable")]
        counts = np.bincount(row_route, minlength=len(route_ids)).tolist()
        start = 0
        for cis, cnt in zip(route_ids, counts):
            for ci in cis:
                routed.setdefault(ci, []).append(rows_sorted[start:start + cnt])
            start += cnt

    for ci, cohort in enumerate(crb.cohorts):
        parts = routed.get(ci)
        if parts is None:
            continue
        arr = parts[0] if len(parts) == 1 else np.concatenate(parts)
        # tolist(): the row loops below index python lists per row, and
        # np.int64 positions pay a conversion on every access
        idxs = arr[remaining[arr]].tolist()
        if isinstance(cohort, MatchCohort):
            # one anchored fullmatch per row against the trie-factored
            # pattern for the whole cohort; the record is inlined (the
            # _record call itself was measurable at matched-heavy batches)
            fullmatch = cohort.pattern.fullmatch
            plan_for = cohort.plan_for
            marker_get = cohort.by_marker.get
            # per-row constants hoisted to locals (global/attribute lookups
            # cost real time at 20k+ rows per batch)
            dumps = _dumps
            odumps = _ORJSON_DUMPS
            not_part = _NOT_PART
            attach_ = attach
            # numpy bool setitem per row is measurable; batch the flips
            # (correct because a pos appears at most once per cohort's idxs,
            # and `remaining` is only read again by LATER cohorts)
            done_here: list = []
            done_add = done_here.append
            for pos in idxs:
                t = tvals[pos]
                m = fullmatch(t)
                if m is None:
                    continue
                # lastindex IS the rule marker in the common case; plan_for
                # keeps the safety-net scan for exotic matches
                plan = marker_get(m.lastindex) or plan_for(m)
                try:
                    ev: dict = {}
                    # *_rev: leftmost parser attaches last and wins on
                    # duplicate names (bottom-up fixJSON, src/pdag.c:1584)
                    if plan.has_complex:
                        for fs in plan.specs_rev:
                            v = fs.extract(m, t, types)
                            if v is not_part:
                                continue
                            attach_(ev, fs.name, v)
                    else:  # fast path: all captures are plain strings
                        # (a single m.group(*ids) call was tried and is
                        # ~30% slower than per-group calls: the argument
                        # unpacking + result tuple cost more than the
                        # extra C calls)
                        group = m.group
                        for gi, name in plan.simple_rev:
                            v = group(gi)
                            if v is not None:
                                ev[name] = v
                except Reject:
                    need_walker[pos] = True
                    done_add(pos)
                    continue
                if plan.extra_fields:
                    ev.update(plan.extra_fields)
                if decorate_needed:
                    _decorate(ev, plan.rule, t)
                rule_id[pos] = plan.rule_id
                # inlined _dumps (the wrapper call cost ~0.3us/row)
                if odumps is not None:
                    try:
                        fields_json[pos] = odumps(ev).decode()
                    except TypeError:
                        fields_json[pos] = _dumps_std(ev)
                else:
                    fields_json[pos] = dumps(ev)
                parsed_to[pos] = len(t)
                done_add(pos)
            if done_here:
                remaining[done_here] = False
        else:
            cr = cohort  # walker-only rule: exact per-row match
            pref = cr.prefilter  # dispatch checked at most 16 chars of it
            flat = flat_items(cr.rule)
            for pos in idxs:
                t = tvals[pos]
                if not t.startswith(pref):
                    continue
                st = WalkState(text=t, strlen=len(t), types=types)
                ev = {}
                ok = (walk_flat(st, flat, ev) if flat is not None
                      else walk_seq(st, cr.rule.seq, 0, 0, False, ev, None))
                if ok:
                    _record(pos, cr, ev, t)

    # slow path: unmatched rows + validation rejects -> exact walker over
    # the prefix-index candidate set (rules whose leading literal can
    # possibly match); the pruned rules' partial-literal parsedTo credit is
    # carried over from the trie descent depth
    # memoized by FULL text: the result is a pure function of the text
    # (same rulebase and options), and log streams repeat unparsed lines
    # heavily — a malformed heartbeat repeats for hours — so identical rows
    # pay one dict hit instead of a re-walk.  The memo is kept across
    # batches on the compiled rulebase, size-capped.
    fb_memo = getattr(crb, "_fb_memo", None)
    if fb_memo is None:
        fb_memo = crb._fb_memo = {}
        crb._fb_memo_bytes = 0
    fb_bytes = crb._fb_memo_bytes
    fb_room = _FB_MEMO_MAX - len(fb_memo)
    for pos in np.flatnonzero(remaining | need_walker).tolist():
        t = tvals[pos]
        res = fb_memo.get(t)
        if res is None:
            cand_rules, lit_credit = candidates(t)
            rule, ev, pto = normalize_message(
                cand_rules, t, crb.types, crb.annotations,
                initial_parsed_to=lit_credit, v1_engine=crb.version == 1,
            )
            if rule is None:
                res = (-1, _dumps(ev), ev["unparsed-data"], ev["originalmsg"], pto)
            else:
                if decorate_needed:
                    _decorate(ev, rule, t)
                res = (rule.rule_id, _dumps(ev), None, None, pto)
            if fb_room > 0 and fb_bytes + len(t) <= _FB_MEMO_MAX_BYTES:
                fb_memo[t] = res
                fb_room -= 1
                fb_bytes += len(t)
        rid, fj, up, om, pto = res
        parsed_to[pos] = pto
        fields_json[pos] = fj
        if rid >= 0:
            rule_id[pos] = rid
        else:
            unparsed[pos] = up
            originalmsg[pos] = om
    crb._fb_memo_bytes = fb_bytes
    return rule_id, fields_json, unparsed, originalmsg, parsed_to


def normalize_strings(rb: Rulebase | CompiledRulebase, lines: list[str]) -> list[dict]:
    """Pure-Python convenience API (tests / CLI parity): normalize a list of
    strings, returning the event dicts the reference CLI would emit."""
    crb = rb if isinstance(rb, CompiledRulebase) else compile_rulebase(rb)
    df = match_batch(crb, pd.Series(lines, dtype=object))
    return [_json.loads(s) if s else {} for s in df["fields_json"]]


_SQL_UNSAFE = re.compile(r"[^A-Za-z0-9 _\-.,:/]")


def _sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal.  Every char outside
    ``[A-Za-z0-9 _-.,:/]`` is written as ``\\uXXXX`` UTF-16 units, so no
    quote, backslash, control char or ``${...}`` variable reference (Spark
    substitutes those in SQL text) reaches the parser raw."""
    return "'" + _SQL_UNSAFE.sub(_sql_escape, s) + "'"


def _sql_escape(m: re.Match) -> str:
    b = m.group().encode("utf-16-be", "surrogatepass")
    return "".join(f"\\u{b[i]:02x}{b[i + 1]:02x}" for i in range(0, len(b), 2))


def _rule_lookup(crb: CompiledRulebase, values) -> str:
    """SQL for the per-rule constant `values` (SQL literals, one per rule
    in crb.rules) of each row's matched rule; NULL for unmatched rows."""
    pairs = ", ".join(f"{cr.rule_id}, {v}" for cr, v in zip(crb.rules, values))
    return f"element_at(map({pairs}), _m.rule_id)"


def normalize_df(df, rb: Rulebase | CompiledRulebase, text_col: str = "text"):
    """Spark entry point: adds match-result columns to `df`.

    A struct-returning scalar Arrow UDF over ONLY the text column: the
    other input columns never cross the Arrow boundary (they stay JVM-side
    and are re-attached by projection), which keeps the Python worker's
    serialization bill proportional to the text, not the row width.  The
    UDF builds its result straight from the matcher's row lists; no pandas
    object is made.  The output is one projection over the UDF's struct
    whose per-rule constants are SQL literals, so building it costs the
    same few py4j calls at any rule count.
    """
    from pyspark.sql import functions as F

    crb = rb if isinstance(rb, CompiledRulebase) else compile_rulebase(rb)

    # The udf returns only the per-row-varying fields.
    @F.arrow_udf(
        "struct<rule_id:int, fields_json:string, unparsed_data:string, parsed_to:int>"
    )
    def _match(texts: pa.Array) -> pa.Array:
        rule_id, fields_json, unparsed, _, parsed_to = _match_rows(
            crb, texts.to_numpy(zero_copy_only=False),
            texts.is_valid().to_numpy(zero_copy_only=False))
        return pa.StructArray.from_arrays(
            [pa.array(rule_id, pa.int32()), pa.array(fields_json, pa.string()),
             pa.array(unparsed, pa.string()), pa.array(parsed_to, pa.int32())],
            names=["rule_id", "fields_json", "unparsed_data", "parsed_to"],
        )

    # Constants-per-rule (tags, rulebase location) are reconstructed
    # JVM-side from rule_id via literal maps: they never cross the Arrow
    # boundary, cutting the JVM-side batch decode that co-bottlenecks with
    # Python at high core counts.
    if crb.rules:
        tags = _rule_lookup(crb, (
            "array(" + ", ".join(_sql_str(t) for t in cr.tags) + ")" for cr in crb.rules))
        if not any(cr.tags for cr in crb.rules):
            # Spark types a map of only empty array() literals array<void>
            tags = f"CAST({tags} AS ARRAY<STRING>)"
        rb_file = _rule_lookup(crb, (_sql_str(cr.rule.rb_file) for cr in crb.rules))
        rb_line = "CAST({} AS INT)".format(
            _rule_lookup(crb, (str(int(cr.rule.rb_line)) for cr in crb.rules)))
    else:
        tags = "CAST(NULL AS ARRAY<STRING>)"
        rb_file = "CAST(NULL AS STRING)"
        rb_line = "CAST(NULL AS INT)"
    text = F.col(text_col)
    out = df.select("*", _match(text).alias("_m"), text.alias("_t"))
    # originalmsg is rebuilt JVM-side too: it is by definition the input
    # text of unmatched rows (the matcher sets it iff unparsed), and the JVM
    # still holds the text column -- shipping it back through Arrow would
    # double-transfer every unparsed row's text.
    match_sql = {
        "rule_id": "_m.rule_id",
        "tags": tags,
        "fields_json": "_m.fields_json",
        "unparsed_data": "_m.unparsed_data",
        "originalmsg": "CASE WHEN _m.unparsed_data IS NOT NULL THEN _t END",
        "parsed_to": "_m.parsed_to",
        "rb_file": rb_file,
        "rb_line": rb_line,
    }
    # canonical column order is part of the API: input columns first, then
    # the MATCH_FIELDS_DDL order
    names = [f.split()[0] for f in MATCH_FIELDS_DDL.split(", ")]
    return out.selectExpr(
        *("`" + c.replace("`", "``") + "`" for c in df.columns),
        *(f"{match_sql[n]} AS {n}" for n in names),
    )
