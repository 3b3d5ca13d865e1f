"""Exact-semantics sequential matcher ("walker").

Mirrors the reference's recursive PDAG walk (src/pdag.c:1535-1621
``ln_normalizeRec`` + src/pdag.c:1393-1472 ``tryParser``) for a single
linearized rule: try items left to right, recurse on success, backtrack
across :class:`Alt` branches, track the longest parse offset (``parsedTo``,
the source of ``unparsed-data`` diagnostics) and attach field values
bottom-up with the ``fixJSON`` naming rules (src/pdag.c:1320-1389).

This is the slow path: it runs per row only for (a) rows that match no
vectorized rule regex (to compute the unparsed suffix), (b) rules
containing non-regexable motifs (json, cef, ...) after a cheap regex
prefilter, and (c) rows whose regex match failed value-dependent
post-validation.
"""

from __future__ import annotations

from dataclasses import dataclass

from liblognorm_spark.compiler.motifs import NO_VALUE, PARSERS, coerce_value
from liblognorm_spark.rulebase.loader import Alt, PNode


class WalkState:
    """Mutable per-message walk state (slots: created once per fallback row,
    so construction cost is on the hot diagnostics path)."""

    __slots__ = ("text", "strlen", "types", "parsed_to")

    def __init__(self, text: str, strlen: int, types: dict, parsed_to: int = 0):
        self.text = text
        self.strlen = strlen
        self.types = types  # typename -> list[Seq]
        self.parsed_to = parsed_to


def attach(json: dict, name, value) -> None:
    """fixJSON naming rules, src/pdag.c:1320-1389.

    * name None (or '-') -> discard value
    * name '.'  -> splice dict value's entries into parent
    * child dict with single key '..' -> collapse to scalar under name
    """
    if name is None or value is NO_VALUE:
        return
    if name == "." and isinstance(value, dict):
        for k, v in value.items():
            json[k] = v
        return
    if isinstance(value, dict) and len(value) == 1 and ".." in value:
        json[name] = value[".."]
        return
    json[name] = value


def try_parser(state: WalkState, node: PNode, offs: int):
    """One parser attempt.  Returns (ok, consumed, value).

    parsedTo is saved/restored around the attempt as in tryParser
    (src/pdag.c:1456, 1467)."""
    saved = state.parsed_to
    try:
        if node.ptype == "custom":
            tname = node.params["typename"]
            alts = state.types.get(tname)
            if not alts:
                return (False, 0, None)
            # Reference semantics (pdag.c:1435-1442): the type's alternatives
            # form ONE merged prefix-shared PDAG walked with bPartialMatch=1.
            # Consequences mirrored by _walk_merged:
            #  * at a node that is both terminal and has continuations, the
            #    continuations are tried FIRST (normalizeRec checks
            #    isTerminal only after the parser loop) -> deepest-first;
            #  * the walk commits to its first terminal success — the outer
            #    rule failing later never re-enters the type;
            #  * consumed = npb->parsedTo - *offs, i.e. the deepest reach
            #    over every branch tried, successful or NOT (and parsedTo is
            #    global: prior progress past offs also counts).
            child: dict = {}
            branches = [(s, 0, None) for s in sorted(alts, key=_seq_prio_key)]
            ok = _walk_merged(state, branches, offs, child)
            if not ok:
                return (False, 0, None)
            # clamp: the C computes size_t parsedTo-offs, which can only be
            # < 0 here for an empty-matching type before any progress (a
            # size_t underflow — unusable behavior we do not reproduce)
            consumed = max(state.parsed_to - offs, 0)
            return (True, consumed, child)
        if node.ptype == "repeat":
            return _parse_repeat(state, node, offs)
        fn = PARSERS.get(node.ptype)
        if fn is None:
            return (False, 0, None)
        res = fn(state.text, offs, node.params)
        if res is None:
            return (False, 0, None)
        consumed, value = res
        return (True, consumed, coerce_value(node.ptype, value, node.params))
    finally:
        state.parsed_to = saved


def _seq_prio_key(seq):
    return seq[0].prio if seq else (30000 << 8) | 16


def _sorted_alts(item: Alt):
    """Priority-sorted alternative branches, cached on the Alt node (the
    sort is stable in rule order and the node is immutable after load)."""
    cached = getattr(item, "_sorted_cache", None)
    if cached is None:
        cached = item._sorted_cache = sorted(item.alts, key=_seq_prio_key)
    return cached


def _merge_key(item: PNode):
    """Parsers merge in the PDAG when fully identical (parser, data, name);
    literals merge PER CHARACTER (ln_pdagAddParser splits literal chains),
    so two literals share a node iff their first chars agree."""
    if item.ptype == "literal" and item.name is None:
        text = item.params.get("text", "")
        return ("lit", text[:1], None)
    return (item.ptype, item.name, repr(sorted(item.params.items(), key=lambda kv: kv[0])))


def _walk_merged(state: WalkState, branches, offs: int, json_out: dict) -> bool:
    """Walk a set of alternative branches as the merged prefix-shared PDAG
    the reference builds for a user type (pdag.c ln_normalizeRec over the
    type pdag, bPartialMatch=1).

    branches: list of (seq, idx, cont) continuation chains.  Parsers with
    identical merge keys are tried ONCE (shared node); exhausted branches
    mark the node terminal, accepted only after every parser group fails.
    state.parsed_to is updated after each head-success recursion whether or
    not the subtree matched (pdag.c:1602-1603)."""
    groups: dict = {}
    order: list = []
    has_terminal = False
    for seq, idx, cont in branches:
        while idx == len(seq) and cont is not None:
            seq, idx, cont = cont
        if idx == len(seq):
            has_terminal = True
            continue
        item = seq[idx]
        if isinstance(item, Alt):
            for alt_seq in _sorted_alts(item):
                _merged_add(groups, order, (alt_seq, 0, (seq, idx + 1, cont)))
            continue
        _merged_add(groups, order, (seq, idx, cont))
    for pos, key in sorted(enumerate(order), key=lambda pk: (groups[pk[1]][0][0][groups[pk[1]][0][1]].prio, pk[0])):
        grp = groups[key]
        seq0, idx0, _c0 = grp[0]
        head: PNode = seq0[idx0]
        char_merged = key[0] == "lit"  # unnamed literals merge per character
        if char_merged:
            head = PNode(ptype="literal", name=None,
                         params={"text": key[1]}, user_prio=head.user_prio)
        ok, consumed, value = try_parser(state, head, offs)
        if not ok:
            continue
        new_offs = offs + consumed
        sub_branches = []
        for seq_b, idx_b, cont_b in grp:
            it = seq_b[idx_b]
            rest_text = it.params.get("text", "")[1:] if char_merged else ""
            if rest_text:
                tail = PNode(ptype="literal", name=it.name,
                             params={"text": rest_text}, user_prio=it.user_prio)
                sub_branches.append(([tail], 0, (seq_b, idx_b + 1, cont_b)))
            else:
                sub_branches.append((seq_b, idx_b + 1, cont_b))
        sub_ok = _walk_merged(state, sub_branches, new_offs, json_out)
        if new_offs > state.parsed_to:
            state.parsed_to = new_offs
        if sub_ok:
            attach(json_out, head.name, value)
            return True
    return has_terminal


def _literal_partial_credit(state: WalkState, item, offs: int) -> None:
    """Per-char parsedTo credit for a failed literal.

    The reference PDAG splits multi-char literals into per-char parser
    nodes; each matching char is a parser SUCCESS whose recursion later
    fails, and the post-recursion update (pdag.c:1602-1603) credits
    parsedTo up to the divergence point.  Our walker keeps literals whole
    for speed, so on mismatch we credit the common prefix explicitly —
    this is what makes unparsed-data diagnostics match the reference for
    messages that die inside a literal."""
    if not isinstance(item, PNode) or item.ptype != "literal":
        return
    lit = item.params.get("text", "")
    text = state.text
    q = 0
    maxq = min(len(lit), state.strlen - offs)
    while q < maxq and text[offs + q] == lit[q]:
        q += 1
    if q and offs + q > state.parsed_to:
        state.parsed_to = offs + q


def _merged_add(groups: dict, order: list, branch) -> None:
    seq, idx, _ = branch
    key = _merge_key(seq[idx])
    if key not in groups:
        groups[key] = []
        order.append(key)
    groups[key].append(branch)


def _parse_repeat(state: WalkState, node: PNode, offs: int):
    """repeat motif, src/parser.c:3215-3295."""
    body = node.params["parser_seq"]
    while_seq = node.params["while_seq"]
    permit_mismatch = bool(
        node.params.get("option.permitMismatchInParser")
        or node.params.get("option.permitmismatchinparser")
    )
    parsed_to_save = state.parsed_to
    strtoffs = offs
    lastgood = strtoffs
    arr = None
    while True:
        child: dict = {}
        ok = walk_seq(state, body, 0, strtoffs, True, child, None)
        strtoffs = state.parsed_to
        if not ok:
            if permit_mismatch:
                strtoffs = lastgood
                break
            state.parsed_to = parsed_to_save
            return (False, 0, None)
        if arr is None:
            arr = []
        to_add = child
        if len(child) == 1 and "." in child:
            to_add = child["."]
        arr.append(to_add)
        state.parsed_to = 0
        lastgood = strtoffs
        ok = walk_seq(state, while_seq, 0, strtoffs, True, None, None)
        if ok:
            strtoffs = state.parsed_to
        else:
            break
    consumed = strtoffs - offs
    state.parsed_to = parsed_to_save
    return (True, consumed, arr)


def walk_seq(state: WalkState, seq, idx, offs, partial, json, cont) -> bool:
    """Recursive walk over a Seq with continuation `cont` = (seq, idx, cont).

    Returns True on a full (or partial-mode) match; on success, named values
    have been attached to `json` bottom-up."""
    while True:
        if idx == len(seq):
            if cont is None:
                return partial or offs == state.strlen
            seq, idx, cont = cont
            continue
        break
    item = seq[idx]
    if isinstance(item, Alt):
        new_cont = (seq, idx + 1, cont)
        for alt_seq in _sorted_alts(item):
            if walk_seq(state, alt_seq, 0, offs, partial, json, new_cont):
                return True
        return False
    ok, consumed, value = try_parser(state, item, offs)
    if not ok:
        _literal_partial_credit(state, item, offs)
        return False
    new_offs = offs + consumed
    sub = walk_seq(state, seq, idx + 1, new_offs, partial, json, cont)
    # longest-parse update happens after the recursion returns, success or
    # not (src/pdag.c:1600-1603)
    if new_offs > state.parsed_to:
        state.parsed_to = new_offs
    if sub and json is not None:
        attach(json, item.name, value)
    return sub


_FLAT_UNSET = object()


def flat_items(rule):
    """Compile an Alt-free rule whose parsers are all plain (text, offs,
    params) functions — no ``custom``/``repeat``, which mutate
    ``state.parsed_to`` — into a flat tuple list for the iterative walk.
    Returns None (and caches the answer) when the rule needs the recursive
    walker.  The overwhelmingly common rule shape (literal/motif chains
    with no alternatives) takes this path."""
    flat = getattr(rule, "_flat_cache", _FLAT_UNSET)
    if flat is not _FLAT_UNSET:
        return flat
    items = []
    for item in rule.seq:
        if (not isinstance(item, PNode) or item.ptype in ("custom", "repeat")
                or item.ptype not in PARSERS):
            rule._flat_cache = None
            return None
        # uniform shape (fn, lit, params, name, ptype, node, needs_coerce);
        # literals get fn=None so the walk inlines them as str.startswith
        if item.ptype == "literal":
            items.append((None, item.params["text"], item.params,
                          item.name, item.ptype, item, False))
        else:
            needs_coerce = (item.params.get("format") == "number"
                            and item.ptype in ("number", "hexnumber", "float"))
            items.append((PARSERS[item.ptype], None, item.params,
                          item.name, item.ptype, item, needs_coerce))
    rule._flat_cache = items
    return items


def walk_flat(state: WalkState, items, json_out: dict | None) -> bool:
    """Iterative equivalent of :func:`walk_seq` for :func:`flat_items`
    rules: same parsedTo bookkeeping (deepest successful offset, post-hoc
    per-char literal credit on the failing item), same bottom-up attach
    order (leftmost parser wins on duplicate names).  Exists purely for
    speed on the walker fallback path — ``tests/test_property_motifs.py``
    fuzzes its observational equality against the recursive walk."""
    text = state.text
    offs = 0
    pairs = None
    for fn, lit, params, name, ptype, node, needs_coerce in items:
        if fn is None:  # literal: C-speed prefix compare
            if text.startswith(lit, offs):
                if name is not None and json_out is not None:
                    if pairs is None:
                        pairs = []
                    pairs.append((name, lit))
                offs += len(lit)
                continue
            if offs > state.parsed_to:
                state.parsed_to = offs
            _literal_partial_credit(state, node, offs)
            return False
        res = fn(text, offs, params)
        if res is None:
            if offs > state.parsed_to:
                state.parsed_to = offs
            return False
        consumed, value = res
        if name is not None and json_out is not None:
            if pairs is None:
                pairs = []
            if needs_coerce:
                value = coerce_value(ptype, value, params)
            pairs.append((name, value))
        offs += consumed
    if offs > state.parsed_to:
        state.parsed_to = offs
    if offs != state.strlen:
        return False
    if pairs is not None:
        for name, value in reversed(pairs):
            attach(json_out, name, value)
    return True


def _lit_prefix(rule) -> str:
    pref = getattr(rule, "_lit_prefix_cache", None)
    if pref is None:
        seq = rule.seq
        pref = ""
        if seq and isinstance(seq[0], PNode) and seq[0].ptype == "literal" and seq[0].name is None:
            pref = seq[0].params["text"]
        rule._lit_prefix_cache = pref
    return pref


def normalize_message(rules, text: str, types: dict, annotations=None,
                      initial_parsed_to: int = 0, v1_engine: bool = False):
    """Full reference semantics for one message: first matching rule wins
    (rules must already be in priority order); on failure emit
    originalmsg/unparsed-data (src/pdag.c:1653-1683, 1299-1316).

    Rules whose leading literal cannot prefix the text are skipped, but the
    skip credits parsedTo for the common prefix first (the reference's
    per-char literal nodes would) so diagnostics stay identical.

    ``v1_engine``: the v1 ptree walk returns chars-LEFT and only merges a
    failed branch's progress when left > 0 (v1_ptree.c:774 ``if(left > 0 &&
    left < r)``) — a branch that consumed clear to EOS without reaching a
    terminal contributes NOTHING to unparsed-data diagnostics, where the
    v2 pdag credits parsedTo unconditionally (pdag.c:1600-1603).  Mirrored
    per-rule: a failed rule whose progress hit EOS restores the prior
    parsedTo (exercised by field_descent_with_invalid_ruledef.sh's
    'named tail-field not populated')."""
    state = WalkState(text=text, strlen=len(text), types=types,
                      parsed_to=initial_parsed_to)
    for rule in rules:
        pref = _lit_prefix(rule)
        if pref and not text.startswith(pref):
            q = 0
            maxq = min(len(pref), state.strlen)
            while q < maxq and text[q] == pref[q]:
                q += 1
            if q > state.parsed_to:
                state.parsed_to = q
            continue
        fields: dict = {}
        pto_before = state.parsed_to
        flat = flat_items(rule)
        ok = (walk_flat(state, flat, fields) if flat is not None
              else walk_seq(state, rule.seq, 0, 0, False, fields, None))
        if ok:
            event = dict(fields)
            if rule.tags:
                event["event.tags"] = list(rule.tags)
                if annotations:
                    # tags applied in reverse order (annot.c:229)
                    for tag in reversed(rule.tags):
                        for k, v in (annotations.get(tag) or {}).items():
                            event[k] = v
            return rule, event, state.parsed_to
        if v1_engine and state.parsed_to == state.strlen:
            state.parsed_to = pto_before
    return None, {"originalmsg": text, "unparsed-data": text[state.parsed_to :]}, state.parsed_to
