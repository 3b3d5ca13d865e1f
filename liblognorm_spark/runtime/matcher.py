"""Vectorized batch matcher + Spark integration.

Execution model (the Spark-first replacement for the reference's per-message
``ln_normalize`` loop, src/lognormalizer.c:213-267):

* The rulebase is compiled once on the driver (:func:`compile_rulebase`)
  and shipped to executors inside the ``pandas_udf`` closure — the
  broadcast-once / read-many design of the reference's immutable PDAG
  (doc/pdag_implementation_model.rst:117-123).
* Matching runs per Arrow batch: ONE anchored fullmatch per row against
  each trie-factored cohort pattern (prefix sharing + priority branch
  order, the PDAG discipline); the matched rule is identified by its
  marker group via ``lastindex`` and extraction runs only on confirmed
  matches (two-stage detect-then-extract, same shape as the reference's
  stage-one/stage-two parsers, src/parser.c:2276-2318).
* Rows whose regex match fails value-dependent validation (Reject) and
  rows matching no cohort fall back to the exact-semantics walker over a
  prefix-indexed candidate set, which also produces the
  ``unparsed-data`` longest-parse diagnostics.

No per-row Python crosses the Spark API surface: the entry point is a
struct-returning scalar pandas_udf (``normalize_df``) over Arrow record
batches.
"""

from __future__ import annotations

import bisect
import json as _json

import numpy as np
import pandas as pd

from liblognorm_spark.compiler.compiler import (
    CompiledRulebase,
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


def _finalize_event(crb: CompiledRulebase, cr, ev: dict) -> dict:
    """Add event.tags + tag-driven annotations (src/pdag.c:1664-1671,
    annot.c:214-239) — precomputed per rule at compile time."""
    if cr.extra_fields:
        ev.update(cr.extra_fields)
    return ev


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


def _fallback_index(crb: CompiledRulebase):
    """Char-trie over leading-literal prefixes for the walker fallback:
    candidates(text) = rules whose prefix prefixes the text, in priority
    order, plus rules without a leading literal.  Cached on the rulebase."""
    idx = getattr(crb, "_fb_index", None)
    if idx is not None:
        return idx
    from liblognorm_spark.rulebase.loader import PNode

    root: dict = {}
    always: list = []
    order_of: dict = {}
    for pos, rule in enumerate(crb.ordered_rules):
        order_of[id(rule)] = pos
        seq = rule.seq
        pref = ""
        if seq and isinstance(seq[0], PNode) and seq[0].ptype == "literal" and seq[0].name is None:
            pref = seq[0].params["text"]
        if not pref:
            always.append(rule)
            continue
        node = root
        for ch in pref:
            node = node.setdefault(ch, {})
        node.setdefault("\0rules", []).append(rule)

    def candidates(text: str):
        """Returns (rules, lit_credit): candidate rules in priority order
        plus the trie descent depth — the max common prefix between the
        text and ANY leading literal, i.e. the parsedTo credit the pruned
        rules' per-char literal nodes would have produced (the reference
        credits partial literal progress; see walker._literal_partial_credit)."""
        found = list(always)
        node = root
        depth = 0
        for ch in text:
            node = node.get(ch)
            if node is None:
                break
            depth += 1
            rs = node.get("\0rules")
            if rs:
                found.extend(rs)
        if len(found) > 1:
            found.sort(key=lambda r: order_of[id(r)])
        return found, depth

    crb._fb_index = candidates
    return candidates


_DISPATCH_MAX_DEPTH = 16  # leading-literal chars indexed per rule
# cross-batch unmatched-diagnostics memo bounds: entry count AND total key
# bytes (webtext rows can be multi-KB; a count-only cap could hold
# hundreds of MB per worker)
_FB_MEMO_MAX = 65536
_FB_MEMO_MAX_BYTES = 32 << 20
_EMPTY_SET: frozenset = frozenset()


def _cohort_dispatch(crb: CompiledRulebase):
    """Char-trie over the leading literals of every regexable rule, mapping
    a message to the SET of cohort positions that could possibly match it.

    Without this, a row scans every cohort pattern sequentially (O(R/64)
    regex calls per row — the measured scale cliff at 512-2048 rules).
    With it, a row descends the trie once (~prefix-length dict hops) and
    tries only prefix-compatible cohorts; cohorts containing any rule
    without a plain leading literal are 'wildcard' and always tried.
    Cohort ORDER is preserved (candidates are emitted sorted by cohort
    position), so first-match-wins semantics are untouched.  Cached on the
    compiled rulebase."""
    cached = getattr(crb, "_dispatch", None)
    if cached is not None:
        return cached
    from liblognorm_spark.compiler.compiler import MatchCohort
    from liblognorm_spark.rulebase.loader import PNode

    root: dict = {}
    wildcard: list[int] = []
    for ci, cohort in enumerate(crb.cohorts):
        if not isinstance(cohort, MatchCohort):
            continue  # walker-only rules keep their own prefilter path
        is_wild = False
        prefixes = set()
        for cr in cohort.rules:
            seq = cr.rule.seq
            if (seq and isinstance(seq[0], PNode) and seq[0].ptype == "literal"
                    and seq[0].name is None and seq[0].params.get("text")):
                prefixes.add(seq[0].params["text"][:_DISPATCH_MAX_DEPTH])
            else:
                is_wild = True
        if is_wild:
            wildcard.append(ci)
            continue
        for pref in prefixes:
            node = root
            for ch in pref:
                node = node.setdefault(ch, {})
            node.setdefault("\0c", set()).add(ci)

    # propagate cumulative candidate sets down the trie so a descent does
    # ZERO set unions — each node stores the union over its whole path
    # (ancestor sets are shared objects when a node adds nothing new)
    def _propagate(node: dict, inherited: frozenset):
        own = node.get("\0c")
        cum = (inherited | own) if own else inherited
        node["\0cum"] = cum
        for k, child in node.items():
            if k not in ("\0c", "\0cum"):
                _propagate(child, cum)

    _propagate(root, frozenset())

    def dispatch(text: str):
        """Cohort positions whose rule literals prefix `text` (unsorted)."""
        node = root
        cum = _EMPTY_SET
        for ch in text[:_DISPATCH_MAX_DEPTH]:
            node = node.get(ch)
            if node is None:
                break
            cum = node["\0cum"]
        return cum

    crb._dispatch = (dispatch, frozenset(wildcard))
    return crb._dispatch


_DISPATCH_MEMO_MAX = 65536


def _dispatch_memo(crb: CompiledRulebase) -> dict:
    """prefix -> (tuple(cohort ids), fold entry | None) memo, bounded, kept
    across batches on the compiled rulebase.  Log streams repeat their
    16-char prefixes (program/host names) for hours, so after warmup a
    batch's dispatch is pure dict hits — at 8192 rules the trie descent per
    distinct prefix was ~15%% of matched-heavy batch time.  The fold entry
    (see _fold_entry) rides in the SAME memo value so the sole-rule fast
    path costs zero extra lookups per distinct prefix."""
    memo = getattr(crb, "_dispatch_memo_cache", None)
    if memo is None:
        memo = crb._dispatch_memo_cache = {}
    return memo


def _fold_index(crb: CompiledRulebase):
    """prefilter -> [CompiledRule] map + sorted prefilter list, cached on
    the rulebase.  `wildcard` is True when ANY rule has no literal prefix
    (leading motif / alternative): such a rule is prefix-compatible with
    every message, so no prefix can ever prove a sole candidate and the
    fold is disabled globally (the check is one cached-tuple read)."""
    idx = getattr(crb, "_fold_idx", None)
    if idx is None:
        by_pref: dict = {}
        wildcard = False
        for cr in crb.rules:
            p = cr.prefilter
            if not p:
                wildcard = True
            by_pref.setdefault(p, []).append(cr)
        sorted_prefs = sorted(by_pref) if not wildcard else []
        # only the literal-prefix lengths that actually occur need probing
        # (real rulebases have a handful); scanning every 1..len(u) cut
        # prefix cost the cold path can't afford
        pref_lens = sorted({len(p) for p in by_pref})
        idx = crb._fold_idx = (by_pref, sorted_prefs, wildcard, pref_lens)
    return idx


def _fold_entry(crb: CompiledRulebase, u: str):
    """If the dispatch prefix `u` PROVES (by literal-prefix analysis over
    the whole rulebase) that exactly one rule can match any text starting
    with `u`, return a prepared sole-rule fast-path entry; else None.

    Soundness: a rule is counted compatible with `u` when its literal
    prefix is a prefix of `u` (motifs could match anything after it) or
    extends `u` (u is the truncated dispatch window).  That over-counts —
    never under-counts — so a fold only exists when NO other rule could
    possibly match, making rule-priority order irrelevant for these rows:
    matching the sole rule's own pattern directly is exactly equivalent to
    the cohort walk, minus the trie alternation over rules that cannot
    match anyway.  This is the round-5 large-rulebase lever: with 8192
    distinct program-name rules, the cohort pattern still carries a 64-way
    branch per row; the sole-rule pattern does not."""
    by_pref, sorted_prefs, wildcard, pref_lens = _fold_index(crb)
    if wildcard or not u:
        return None
    cands: list = []
    lu = len(u)
    for L in pref_lens:
        if L > lu:
            break
        rs = by_pref.get(u[:L])
        if rs:
            cands.extend(rs)
            if len(cands) > 1:
                return None
    lo = bisect.bisect_left(sorted_prefs, u)
    for i in range(lo, len(sorted_prefs)):
        p = sorted_prefs[i]
        if not p.startswith(u):
            break
        if len(p) > len(u):  # == u already counted in the loop above
            cands.extend(by_pref[p])
            if len(cands) > 1:
                return None
    if len(cands) != 1:
        return None
    cr = cands[0]
    if cr.pattern is None:
        return None  # walker-only sole rule: keep the exact walker path
    # the entry tail is per-RULE, not per-prefix: cache it so the many
    # prefixes that map to one rule (sshd[1], sshd[2], ... with a 16+ char
    # dispatch window) build it once
    ent = getattr(cr, "_fold_ent", None)
    if ent is None:
        gi = cr.pattern.groupindex
        simple_rev = tuple((gi[g], nm) for g, nm in reversed(cr.simple_specs))
        # constant-JSON tail: extra_fields (tags + annotations) are per-rule
        # constants serialized identically on every matched row.  When the
        # rule is simple (flat string captures only — parsed keys are
        # exactly the spec names) and no extra key collides with a parsed
        # field name, the serialized tail can be byte-concatenated after
        # the parsed fields instead of dict-updated + reserialized per row.
        # Key ORDER in the output is unchanged: parsed fields first, then
        # extras — same as the ev.update() path.
        tail = None
        if _ORJSON_DUMPS is not None and cr.extra_fields and not cr.complex_specs:
            names = {nm for _, nm in cr.simple_specs}
            if names.isdisjoint(cr.extra_fields):
                try:
                    tail = b"," + _ORJSON_DUMPS(cr.extra_fields)[1:]
                except TypeError:
                    tail = None
        ent = cr._fold_ent = (
            cr.pattern.fullmatch, simple_rev, tuple(reversed(cr.specs)),
            bool(cr.complex_specs), cr.extra_fields, cr.rule_id, cr.rule,
            tail)
    return ent


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


def match_batch(crb: CompiledRulebase, texts: pd.Series,
                add_rule_location: bool = False,
                add_originalmsg: bool = False,
                add_rule_mockup: bool = False,
                add_exec_path: bool = False) -> pd.DataFrame:
    """Normalize a batch of messages.  Returns a DataFrame with columns
    rule_id, fields_json, unparsed_data, originalmsg and parsed_to,
    index-aligned positionally with `texts`.  The per-rule constants
    (tags, rulebase location) are not built here: normalize_df derives
    them JVM-side from rule_id.

    `add_rule_location` mirrors LN_CTXOPT_ADD_RULE_LOCATION
    (src/pdag.c:1254-1263: metadata.rule.location {file,line});
    `add_originalmsg` mirrors LN_CTXOPT_ADD_ORIGINALMSG
    (src/pdag.c:1672-1677); `add_rule_mockup` mirrors LN_CTXOPT_ADD_RULE
    (src/pdag.c:1246-1251: metadata.rule.mockup, the matched rule's
    template)."""
    n = len(texts)
    tvals = texts.to_numpy(dtype=object)
    # plain lists: scalar assignment is ~3x cheaper than numpy setitem
    rule_id: list = [-1] * n
    fields_json: list = [None] * n
    unparsed: list = [None] * n
    originalmsg: list = [None] * n
    parsed_to: list = [0] * n

    notna = texts.notna().to_numpy()
    remaining = notna.copy()
    need_walker = np.zeros(n, dtype=bool)
    types = crb.types
    annots = crb.annotations

    from liblognorm_spark.compiler.compiler import MatchCohort
    from liblognorm_spark.runtime.walker import (
        WalkState,
        flat_items,
        walk_flat,
        walk_seq,
    )

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
    # prefix (factorize groups rows C-side) — and only on first sight: the
    # per-prefix cohort tuple is memoized across batches (bounded), making
    # steady-state dispatch pure dict hits.
    dispatch, wild_cohorts = _cohort_dispatch(crb)
    dmemo = _dispatch_memo(crb)
    dmemo_get = dmemo.get
    # single-cohort rows (the overwhelmingly common case) are routed by ONE
    # vectorized argsort over a per-row cohort-id array — at 8192 rules the
    # old per-unique chunk lists cost ~15% of batch time in thousands of
    # tiny np.concatenate calls.  Uniques dispatching to >1 cohort keep the
    # chunk-list path (cand_multi).
    cand_arr: dict[int, np.ndarray] = {}
    cand_multi: dict[int, list] = {}
    fold_uniques: list = []
    notna_idx = np.flatnonzero(remaining)
    if len(notna_idx):
        keys = np.array([t[:_DISPATCH_MAX_DEPTH] for t in tvals[notna_idx]],
                        dtype=object)
        codes, uniques = pd.factorize(keys)
        dmemo_room = _DISPATCH_MEMO_MAX - len(dmemo)
        if len(uniques) <= 64:
            # few distinct prefixes (tiny rulebase or homogeneous batch):
            # the chunk-list path's handful of np.concatenate calls is
            # cheaper than the vectorized argsort's fixed overhead
            order = np.argsort(codes, kind="stable")
            sorted_idx = notna_idx[order]
            counts = np.bincount(codes, minlength=len(uniques))
            start = 0
            for k, cnt in enumerate(counts.tolist()):
                chunk = sorted_idx[start:start + cnt]
                start += cnt
                u = uniques[k]
                ent = dmemo_get(u)
                if ent is None:
                    if dmemo_room > 0:
                        # the fold entry is only worth BUILDING when it
                        # will be memoized: un-cached, its construction
                        # cost dwarfs the ~2-row payoff
                        ent = (tuple(dispatch(u)), _fold_entry(crb, u))
                        dmemo[u] = ent
                        dmemo_room -= 1
                    else:
                        ent = (tuple(dispatch(u)), None)
                # the small-prefix-count path skips the sole-rule fold:
                # with <=64 uniques the cohort chunk lists amortize fine
                for ci in ent[0]:
                    cand_multi.setdefault(ci, []).append(chunk)
        else:
            ucids = np.empty(len(uniques), dtype=np.int64)
            multi_uniques: list = []
            fold_uniques: list = []
            for k, u in enumerate(uniques.tolist()):
                ent = dmemo_get(u)
                if ent is None:
                    if dmemo_room > 0:
                        ent = (tuple(dispatch(u)), _fold_entry(crb, u))
                        dmemo[u] = ent
                        dmemo_room -= 1
                    else:
                        ent = (tuple(dispatch(u)), None)
                cis, fold = ent
                if fold is not None:
                    ucids[k] = -3  # sole-rule fast path, rows taken below
                    fold_uniques.append((k, fold))
                elif len(cis) == 1:
                    ucids[k] = cis[0]
                elif not cis:
                    ucids[k] = -1  # no candidate cohort: straight to fallback
                else:
                    ucids[k] = -2
                    multi_uniques.append((k, cis))
            if len(fold_uniques) < len(uniques):
                row_cid = ucids[codes]
                order = np.argsort(row_cid, kind="stable")
                rc_sorted = row_cid[order]
                rows_sorted = notna_idx[order]
                cids_present, seg_starts = np.unique(rc_sorted, return_index=True)
                seg_ends = np.append(seg_starts[1:], len(rc_sorted))
                for cid, s, e in zip(cids_present.tolist(), seg_starts.tolist(),
                                     seg_ends.tolist()):
                    if cid >= 0:
                        cand_arr[cid] = rows_sorted[s:e]
            # (every unique folded -> no cohort-routing argsort needed)
            if multi_uniques or fold_uniques:
                order_c = np.argsort(codes, kind="stable")
                sorted_idx = notna_idx[order_c]
                # ONE bulk tolist: the fold loop slices this plain list per
                # unique (C-level, ~2-3 rows each) — per-unique numpy
                # slice+tolist cost ~6% of batch time at 8192 prefixes
                rows_by_code = sorted_idx.tolist()
                counts = np.bincount(codes, minlength=len(uniques))
                starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
                counts_l = counts.tolist()
                starts_l = starts.tolist()
                for k, cis in multi_uniques:
                    chunk = sorted_idx[starts[k]:starts[k] + counts[k]]
                    for ci in cis:
                        cand_multi.setdefault(ci, []).append(chunk)

    # sole-rule fast path: rows whose dispatch prefix proves a single
    # candidate rule match that rule's OWN pattern directly — same
    # extraction semantics as the cohort body below, minus the cohort
    # trie's alternation over rules the prefix already ruled out.  A miss
    # here is definitive (the one compatible rule failed), so the row
    # falls through to the unmatched-diagnostics path like any other
    # regex miss; Reject still routes to the exact walker.
    if fold_uniques:
        dumps = _dumps
        odumps = _ORJSON_DUMPS
        not_part = _NOT_PART
        attach_ = attach
        done_here: list = []
        done_add = done_here.append
        for k, ent in fold_uniques:
            (ffullmatch, fsimple_rev, fspecs_rev, fhas_complex,
             fextra, frid, frule, ftail) = ent
            # the tail shortcut changes key ORDER if decoration inserts
            # keys after extras; decoration is off on the Spark hot path
            use_tail = ftail is not None and not decorate_needed
            s = starts_l[k]
            for pos in rows_by_code[s:s + counts_l[k]]:
                t = tvals[pos]
                m = ffullmatch(t)
                if m is None:
                    continue
                try:
                    ev: dict = {}
                    if fhas_complex:
                        for fs in fspecs_rev:
                            v = fs.extract(m, t, types)
                            if v is not_part:
                                continue
                            attach_(ev, fs.name, v)
                    else:
                        group = m.group
                        for gi, name in fsimple_rev:
                            v = group(gi)
                            if v is not None:
                                ev[name] = v
                except Reject:
                    need_walker[pos] = True
                    done_add(pos)
                    continue
                if use_tail and ev:
                    try:
                        fields_json[pos] = (odumps(ev)[:-1] + ftail).decode()
                    except TypeError:
                        ev.update(fextra)
                        fields_json[pos] = _dumps_std(ev)
                    rule_id[pos] = frid
                    parsed_to[pos] = len(t)
                    done_add(pos)
                    continue
                if fextra:
                    ev.update(fextra)
                if decorate_needed:
                    _decorate(ev, frule, t)
                rule_id[pos] = frid
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

    for ci, cohort in enumerate(crb.cohorts):
        if not remaining.any():
            break
        if isinstance(cohort, MatchCohort):
            if ci in wild_cohorts:
                idxs = np.flatnonzero(remaining).tolist()
            else:
                arr = cand_arr.get(ci)
                parts = cand_multi.get(ci)
                if parts:
                    arr = (np.concatenate([arr] + parts) if arr is not None
                           else np.concatenate(parts))
                elif arr is None:
                    continue
                # tolist(): the row loop below indexes python lists per row,
                # and np.int64 positions pay a conversion on every access
                idxs = arr[remaining[arr]].tolist()
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
            if cr.prefilter:
                pref = texts.str.startswith(cr.prefilter, na=False).to_numpy()
                idxs = np.flatnonzero(remaining & pref).tolist()
            else:
                idxs = np.flatnonzero(remaining).tolist()
            flat = flat_items(cr.rule)
            for pos in idxs:
                t = tvals[pos]
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
    index = _fallback_index(crb)
    # memoized by FULL text: the result is a pure function of the text
    # (same rulebase), and log streams repeat unparsed lines heavily — a
    # malformed heartbeat repeats for hours — so identical rows pay one
    # dict hit instead of a re-walk.  The no-options path (the Spark hot
    # path) keeps the memo across batches on the compiled rulebase, size-
    # capped; option-bearing calls memoize per batch (the options change
    # the emitted event).
    if decorate_needed:
        fb_memo: dict = {}
        fb_bytes = 0
    else:
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
            cand_rules, lit_credit = index(t)
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
    if not decorate_needed:
        crb._fb_memo_bytes = fb_bytes

    return pd.DataFrame(
        {
            "rule_id": pd.array(rule_id, dtype="int32"),
            "fields_json": fields_json,
            "unparsed_data": unparsed,
            "originalmsg": originalmsg,
            "parsed_to": pd.array(parsed_to, dtype="int32"),
        }
    )


def normalize_strings(rb: Rulebase | CompiledRulebase, lines: list[str]) -> list[dict]:
    """Pure-Python convenience API (tests / CLI parity): normalize a list of
    strings, returning the event dicts the reference CLI would emit."""
    crb = rb if isinstance(rb, CompiledRulebase) else compile_rulebase(rb)
    df = match_batch(crb, pd.Series(lines, dtype=object))
    return [_json.loads(s) if s else {} for s in df["fields_json"]]


def normalize_df(df, rb: Rulebase | CompiledRulebase, text_col: str = "text"):
    """Spark entry point: adds match-result columns to `df`.

    A struct-returning scalar pandas_udf over ONLY the text column: the
    other input columns never cross the Arrow boundary (they stay JVM-side
    and are re-attached by projection), which keeps the Python worker's
    serialization bill proportional to the text, not the row width.
    """
    from pyspark.sql import functions as F

    crb = rb if isinstance(rb, CompiledRulebase) else compile_rulebase(rb)
    # The udf returns only the per-row-varying fields; constants-per-rule
    # (tags, rulebase location) are reconstructed JVM-side from rule_id via
    # literal maps — they never cross the Arrow boundary, cutting the
    # JVM-side batch decode that co-bottlenecks with Python at high core
    # counts.
    # originalmsg is also rebuilt JVM-side: it is by definition the input
    # text of unmatched rows (match_batch sets it iff unparsed), and the
    # JVM still holds the text column — shipping it back through Arrow
    # would double-transfer every unparsed row's text.
    struct_ddl = (
        "struct<rule_id:int, fields_json:string, "
        "unparsed_data:string, parsed_to:int>"
    )

    @F.pandas_udf(struct_ddl)
    def _match(s: pd.Series) -> pd.DataFrame:
        return match_batch(crb, s).drop(columns=["originalmsg"])

    out = (
        df.withColumn("_m", _match(F.col(text_col)))
        .select("*", "_m.*")
        .drop("_m")
        .withColumn(
            "originalmsg",
            F.when(F.col("unparsed_data").isNotNull(), F.col(text_col)),
        )
    )
    if crb.rules:
        ids = F.array(*[F.lit(cr.rule_id) for cr in crb.rules])
        tags_map = F.map_from_arrays(
            ids, F.array(*[F.array(*[F.lit(t) for t in cr.tags]) for cr in crb.rules])
        )
        file_map = F.map_from_arrays(
            ids, F.array(*[F.lit(cr.rule.rb_file) for cr in crb.rules])
        )
        line_map = F.map_from_arrays(
            ids, F.array(*[F.lit(cr.rule.rb_line) for cr in crb.rules])
        )
        out = (
            out.withColumn("tags", F.element_at(tags_map, F.col("rule_id")))
            .withColumn("rb_file", F.element_at(file_map, F.col("rule_id")))
            .withColumn("rb_line", F.element_at(line_map, F.col("rule_id")).cast("int"))
        )
    else:
        out = (
            out.withColumn("tags", F.lit(None).cast("array<string>"))
            .withColumn("rb_file", F.lit(None).cast("string"))
            .withColumn("rb_line", F.lit(None).cast("int"))
        )
    # canonical column order is part of the API: input columns first, then
    # the MATCH_FIELDS_DDL order
    match_cols = [p.split()[0] for p in MATCH_FIELDS_DDL.split(", ")]
    return out.select(*df.columns, *match_cols)
